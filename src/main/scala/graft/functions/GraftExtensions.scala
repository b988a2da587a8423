package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The engine's one session entry point: every SQL function the engine
  * composes, and the planner strategy of the [[graft.plans.TopKPerKey]]
  * operator, installed when the session is built —
  * `graft.GraftSession.builder(master)`, or any session builder's
  * `.withExtensions(new GraftExtensions)`, or
  * `spark.sql.extensions=graft.functions.GraftExtensions`. Sessions made
  * with `newSession()` and the clones streaming queries run on inherit
  * it, so no call site registers anything.
  *
  * The `TopKRewrite` optimizer rule is deliberately not injected: it
  * would re-plan every window-rank-filter query in the session. It
  * stays opt-in, per frame through `TopKPerKey.viaRewrite` or per
  * session through `TopKPerKey.registerRewrite`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      e.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
  }
}

object GraftExtensions {

  /** (SQL name, expression class, builder) of each session function. */
  val functions: Seq[(String, Class[_], FunctionBuilder)] = Seq(
    ("nfc_normalize", classOf[NfcNormalize], e => NfcNormalize(e.head)),
    ("graft_dot", classOf[DotProduct], e => DotProduct(e.head, e(1))),
    // `numHashes` must be an integer literal.
    ("graft_minhash_sig", classOf[MinhashSigAgg], e => {
      if (e.length != 2) throw new IllegalArgumentException(
        "graft_minhash_sig(shingle, numHashes) takes 2 arguments, got " +
          e.length)
      val n = e(1) match {
        case Literal(v: Int, IntegerType) => v
        case Literal(v: Long, LongType) => v.toInt
        case other => throw new IllegalArgumentException(
          s"graft_minhash_sig: numHashes must be an integer literal, got $other")
      }
      MinhashSigAgg(e.head, n)
    }),
    // `bloom_agg(key)` → binary; `bloom_agg_sized(key, numBits)` → binary
    // with an explicit power-of-two filter size (numBits must be a
    // foldable int literal — it sizes the aggregation buffer, so it cannot
    // vary per row); `bloom_might_contain(key, filterBytes)` → boolean.
    ("bloom_agg", classOf[BloomBuildAgg], e => BloomBuildAgg(e.head)),
    ("bloom_agg_sized", classOf[BloomBuildAgg], e => BloomBuildAgg(e.head,
      numBits = e(1).eval(null) match {
        case i: java.lang.Integer => i.intValue()
        case l: java.lang.Long    => l.intValue()
        case other => throw new IllegalArgumentException(
          s"bloom_agg_sized numBits must be an int literal, got $other")
      })),
    ("bloom_might_contain", classOf[BloomMightContain],
      e => BloomMightContain(e.head, e(1))),
    // The bare AggregateFunction; the analyzer wraps it in an
    // AggregateExpression.
    ("hll_distinct", classOf[HllDistinct], e => HllDistinct(e.head)),
    ("graft_fence", classOf[OptimizerFence], e => OptimizerFence(e.head)),
    ("rolling_fingerprint", classOf[RollingHashMin], e => RollingHashMin(e.head)),
    ("graft_zorder", classOf[ZOrder], e => ZOrder(e.head, e(1))))
}
