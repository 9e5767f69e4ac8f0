package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.queries.StreamGuard
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** The guarded-setup protocol: a setup runs once per (input content,
  * version), a stale attempt is wiped, a failed setup leaves no marker,
  * and the drop loop feeds its drops to one stream in order. */
class StreamGuardSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "fixtures/sf_spec"

  /** A fresh setup tag; `target/<tag>` is removed afterwards. */
  private def withTag(body: String => Unit): Unit = {
    val tag = s"streamguard-spec-${java.util.UUID.randomUUID}"
    try body(tag)
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"target/$tag"))
  }

  private def input(v: String): DataFrame =
    Seq((1L, "a"), (2L, v)).toDF("id", "v")

  private def touch(path: String, name: String): Path = {
    Files.createDirectories(Paths.get(path))
    Files.write(Paths.get(path, name), Array[Byte](1))
  }

  test("the same input twice runs the setup once and moves the count once") {
    withTag { tag =>
      val n0 = StreamGuard.setupsRun
      var runs = 0
      val p1 = StreamGuard.ensure(tag, dir, "v1", input("b")) { p =>
        runs += 1; touch(p, "out") }
      val p2 = StreamGuard.ensure(tag, dir, "v1", input("b")) { _ => runs += 1 }
      assert(p1 == s"target/$tag/sf_spec" && p2 == p1)
      assert(runs == 1 && StreamGuard.setupsRun == n0 + 1)
    }
  }

  test("one changed row runs the setup again over a wiped directory") {
    withTag { tag =>
      val p = StreamGuard.ensure(tag, dir, "v1", input("b")) { p => touch(p, "first") }
      var sawStale = true
      var ran = false
      StreamGuard.ensure(tag, dir, "v1", input("c")) { p =>
        ran = true
        sawStale = Files.exists(Paths.get(p, "first"))
        touch(p, "second")
      }
      assert(ran && !sawStale)
      assert(!Files.exists(Paths.get(p, "first")) && Files.exists(Paths.get(p, "second")))
    }
  }

  test("a version bump runs the setup again") {
    withTag { tag =>
      StreamGuard.ensure(tag, dir, "v1", input("b")) { p => touch(p, "out") }
      var ran = false
      StreamGuard.ensure(tag, dir, "v2", input("b")) { p => ran = true; touch(p, "out") }
      assert(ran)
    }
  }

  test("a setup that throws writes no marker, and the next call runs it") {
    withTag { tag =>
      intercept[IllegalStateException] {
        StreamGuard.ensure(tag, dir, "v1", input("b")) { p =>
          touch(p, "partial")
          throw new IllegalStateException("setup failed")
        }
      }
      assert(!Files.exists(Paths.get(s"target/$tag/sf_spec/_GRAFT_INPUT_FINGERPRINT")))
      var ran = false
      StreamGuard.ensure(tag, dir, "v1", input("b")) { p => ran = true; touch(p, "out") }
      assert(ran)
      assert(Files.exists(Paths.get(s"target/$tag/sf_spec/_GRAFT_INPUT_FINGERPRINT")))
    }
  }

  test("the drop loop processes two drops, in order, one per restart") {
    withTag { tag =>
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Seq[Long])]
      var starts = 0
      StreamGuard.ensure(tag, dir, "v1", spark.range(8).toDF("id")) { p =>
        StreamGuard.streamDrops(p, spark.range(0, 5).toDF("id").coalesce(1),
            spark.range(5, 8).toDF("id").coalesce(1)) { in =>
          starts += 1
          val start = starts
          in.writeStream
            .foreachBatch { (b: DataFrame, _: Long) =>
              seen.add(start -> b.as[Long].collect().toSeq.sorted)
              ()
            }
            .option("checkpointLocation", s"$p/ckpt")
            .trigger(Trigger.AvailableNow())
            .start()
        }
      }
      assert(starts == 2)
      assert(seen.asScala.toSeq.filter(_._2.nonEmpty) ==
        Seq(1 -> (0L until 5L), 2 -> (5L until 8L)))
    }
  }
}
