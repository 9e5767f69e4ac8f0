package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BloomAgg, BloomContainsExpr, CharGramsExpr, CmsAgg, CmsEstExpr, DotProduct, FingerprintExpr, HllRegistersAgg, HllSketchAgg, MatVecLong, MergePairExpr, MinHashSignatureExpr, MultiMatchCount, NearestCentroid, ShinglesExpr, SimHashExpr, SqDistLong}

/** SparkSessionExtensions entry point — enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (or stack
  * it with others, comma-separated). Injects the engine's native SQL
  * functions so they are usable from `spark.sql` text as well as the
  * Column API. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Evaluate a foldable argument as a pinned-at-plan-time Int — the
    * kernels bake it into generated code. */
  private def litInt(name: String, arg: String, e: Expression): Int = e match {
    case f if f.foldable => f.eval() match {
      case i: Int => i
      case l: Long =>
        require(l == l.toInt, s"$name $arg out of Int range: $l")
        l.toInt
      case other => throw new IllegalArgumentException(
        s"$name $arg must be an integer literal, got $other")
    }
    case _ => throw new IllegalArgumentException(
      s"$name $arg must be a literal (pinned at plan time)")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // registers `name(sig)`, documented under `cls`: `build` takes the
    // argument list apart, one case per accepted arity; any other arity
    // is rejected
    def fn(name: String, cls: Class[_], sig: String)
          (build: PartialFunction[Seq[Expression], Expression]): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (args: Seq[Expression]) => build.applyOrElse(args, (_: Seq[Expression]) =>
          throw new IllegalArgumentException(
            s"$name$sig: wrong number of arguments (${args.length})"))))

    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKFilterPushdown)
    fn("graft_dot", classOf[DotProduct], "(arr1, arr2)") {
      case Seq(a, b) => DotProduct(a, b) }
    fn("graft_sqdist", classOf[SqDistLong], "(arr1, arr2)") {
      case Seq(a, b) => SqDistLong(a, b) }
    fn("graft_matvec", classOf[MatVecLong], "(vec, matrix)") {
      case Seq(v, m) => MatVecLong(v, m) }
    fn("graft_nearest", classOf[NearestCentroid], "(vec, centroids)") {
      case Seq(v, c) => NearestCentroid(v, c) }
    fn("graft_merge_pair", classOf[MergePairExpr], "(toks, l, r)") {
      case Seq(t, l, r) => MergePairExpr(t, l, r) }
    fn("graft_multi_count", classOf[MultiMatchCount], "(text, patterns)") {
      case Seq(t, p) => MultiMatchCount(t, p) }
    fn("graft_minhash", classOf[MinHashSignatureExpr], "(arr)") {
      case Seq(x) => MinHashSignatureExpr(x) }
    fn("graft_simhash", classOf[SimHashExpr], "(arr)") {
      case Seq(x) => SimHashExpr(x) }
    fn("graft_fingerprint", classOf[FingerprintExpr], "(arr)") {
      case Seq(x) => FingerprintExpr(x) }
    fn("graft_shingles", classOf[ShinglesExpr], "(toks, n)") {
      case Seq(x, n) => ShinglesExpr(x, litInt("graft_shingles", "n", n)) }
    fn("graft_chargrams", classOf[CharGramsExpr], "(text, n)") {
      case Seq(x, n) => CharGramsExpr(x, litInt("graft_chargrams", "n", n)) }
    fn("graft_bloom_contains", classOf[BloomContainsExpr], "(bloom, key[, m, k])") {
      case Seq(bf, key) => BloomContainsExpr(bf, key)
      case Seq(bf, key, m, k) => BloomContainsExpr(bf, key,
        litInt("graft_bloom_contains", "m", m), litInt("graft_bloom_contains", "k", k))
    }
    fn("graft_cms_est", classOf[CmsEstExpr], "(sketch, key[, d, w])") {
      case Seq(sk, key) => CmsEstExpr(sk, key)
      case Seq(sk, key, d, w) => CmsEstExpr(sk, key,
        litInt("graft_cms_est", "d", d), litInt("graft_cms_est", "w", w))
    }
    // aggregates: the analyzer wraps a bare AggregateFunction in its
    // AggregateExpression when it appears in an aggregation context
    fn("graft_approx_distinct", classOf[HllSketchAgg], "(x)") {
      case Seq(x) => HllSketchAgg(x) }
    fn("graft_hll", classOf[HllRegistersAgg], "(x)") {
      case Seq(x) => HllRegistersAgg(x) }
    fn("graft_bloom", classOf[BloomAgg], "(key[, m, k])") {
      case Seq(key) => BloomAgg(key)
      case Seq(key, m, k) => BloomAgg(key,
        litInt("graft_bloom", "m", m), litInt("graft_bloom", "k", k))
    }
    fn("graft_cms", classOf[CmsAgg], "(key[, d, w])") {
      case Seq(key) => CmsAgg(key)
      case Seq(key, d, w) => CmsAgg(key,
        litInt("graft_cms", "d", d), litInt("graft_cms", "w", w))
    }
  }
}
