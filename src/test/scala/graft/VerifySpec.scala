package graft

/** Verify rejects a botched call before it starts Spark: a filter that
  * slid into the outDir slot, or a filter name that is not a query. */
class VerifySpec extends SparkSpec {

  test("argError: comma in outDir, unknown filter names, bad arity") {
    assert(Verify.argError(Array("sf", "out")).isEmpty)
    assert(Verify.argError(Array("sf", "out", "q01_posts_proxy,q98_kmeans")).isEmpty)
    assert(Verify.argError(Array("sf", "q01_posts_proxy,q98_kmeans")).exists(_.contains(",")))
    assert(Verify.argError(Array("sf", "out", "q01_posts_proxy,q0_nope"))
      .exists(e => e.contains("q0_nope") && !e.contains("q01_posts_proxy")))
    assert(Verify.argError(Array("sf")).nonEmpty)
  }

  test("main exits non-zero and writes nothing on a comma outDir or unknown query") {
    val tmp = tempDir("verifyspec")
    for (args <- Seq(Seq("/nonexistent", s"$tmp/a,b"),
                     Seq("/nonexistent", s"$tmp/out", "q0_nope"))) {
      val java = s"${System.getProperty("java.home")}/bin/java"
      val p = new ProcessBuilder((Seq(java, "-cp", System.getProperty("java.class.path"),
          "graft.Verify") ++ args): _*).redirectErrorStream(true).start()
      val log = scala.io.Source.fromInputStream(p.getInputStream).mkString
      assert(p.waitFor() != 0, log)
      assert(log.contains("[verify]") && !log.contains("SparkContext"), log)
    }
    assert(tmp.toFile.list().isEmpty)
  }
}
