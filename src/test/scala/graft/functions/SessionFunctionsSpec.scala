package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Registering the engine's session functions is idempotent: the call
  * sites register on every use, and a second registration must leave
  * the session's registry as it was instead of replacing each function
  * (a replacement installs a fresh `ExpressionInfo` and logs a WARN). */
class SessionFunctionsSpec extends SparkSuite {

  private def registerAll(s: SparkSession): Unit = {
    NfcNormalize.register(s)
    DotProduct.register(s)
    MinhashSigAgg.register(s)
    Bloom.register(s)
    HllDistinct.register(s)
    OptimizerFence.register(s)
    RollingHashMin.register(s)
    ZOrder.register(s)
  }

  private val names = Seq("nfc_normalize", "graft_dot", "graft_minhash_sig",
    "bloom_agg", "bloom_agg_sized", "bloom_might_contain", "hll_distinct",
    "graft_fence", "rolling_fingerprint", "graft_zorder")

  test("a second registration of every session function replaces nothing") {
    val registry = spark.sessionState.functionRegistry
    def infos = names.map(n =>
      registry.lookupFunction(FunctionIdentifier(n))
        .getOrElse(fail(s"$n is not registered")))
    registerAll(spark)
    val first = infos
    registerAll(spark)
    names.zip(infos.zip(first)).foreach { case (n, (now, before)) =>
      assert(now eq before, s"$n was replaced by the second registration")
    }
    assert(spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0)
  }

  test("the TopKPerKey strategy is injected once per session") {
    val s2 = spark.newSession()
    graft.plans.TopKPerKey.register(s2)
    graft.plans.TopKPerKey.register(s2)
    assert(s2.experimental.extraStrategies
      .count(_ == graft.plans.TopKPerKeyStrategy) == 1)
  }
}
