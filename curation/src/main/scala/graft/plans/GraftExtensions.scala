package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Registers the engine's custom Catalyst expressions as SQL functions via
  * `SparkSessionExtensions` — the reference's users are SQL-first, so the
  * codegen'd vector/fingerprint primitives must be reachable from
  * `spark.sql(...)`, not just the Column API:
  *
  *   - `graft_dot(a, b)` — [[FloatVectorDot]], double-precision dot of two
  *     float arrays (whole-stage codegen'd);
  *   - `graft_winnowing_fps(text, k, w)` — [[WinnowingFingerprints]],
  *     O(n) rolling-hash winnowing fingerprints;
  *   - `graft_srp_buckets(vec, bandBits, bands, dim, seed)` —
  *     [[SrpBandBuckets]], all signed-random-projection band buckets of a
  *     vector in one pass.
  *
  * Usable programmatically (`builder.withExtensions(new GraftExtensions)`)
  * or via `spark.sql.extensions=graft.plans.GraftExtensions`, which the
  * curation build passes as a system property to every session
  * [[graft.Engine.session]] builds there.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case _ => throw new IllegalArgumentException(
      s"graft extension: $what must be an integer literal, got $e")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // config-gated COUNT(DISTINCT) → HLL++ rewrite (see
    // [[ApproxDistinctRewrite]]); a no-op until the conf flag flips, so
    // oracle runs and audits keep exact semantics by default
    ext.injectOptimizerRule(session => ApproxDistinctRewrite(session))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[FloatVectorDot].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot(a, b) takes 2 arguments")
        FloatVectorDot(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_winnowing_fps"),
      new ExpressionInfo(
        classOf[WinnowingFingerprints].getName, "graft_winnowing_fps"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "graft_winnowing_fps(text, k, w) takes 3 arguments")
        WinnowingFingerprints(args(0),
          intLit(args(1), "k"), intLit(args(2), "w"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_srp_buckets"),
      new ExpressionInfo(
        classOf[SrpBandBuckets].getName, "graft_srp_buckets"),
      (args: Seq[Expression]) => {
        require(args.length == 5,
          "graft_srp_buckets(vec, bandBits, bands, dim, seed) takes 5 arguments")
        SrpBandBuckets(args(0), intLit(args(1), "bandBits"),
          intLit(args(2), "bands"), intLit(args(3), "dim"),
          intLit(args(4), "seed").toLong)
      }))
  }
}
