package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [[OptimizerFence]] is declared non-deterministic, which CheckAnalysis
  * admits only in a few operators. A fenced column used downstream as a
  * join key and as a sort key must still analyze, keep its fence through
  * optimization, and return exactly the rows of the unfenced plan. */
class OptimizerFenceSpec extends SparkSuite {

  private def left = spark.range(0, 300, 1, 3)
    .select(col("id"), (col("id") % 17).as("x"))
  private def right = spark.range(0, 17, 1, 2)
    .select(col("id").as("y"), (col("id") * 10).as("v"))

  private def fenced(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(
      _.expressions.exists(_.exists(_.isInstanceOf[OptimizerFence])))

  private def rows(df: DataFrame) = df.collect().toSeq

  test("a fenced column as a join key and a sort key analyzes and returns the unfenced rows") {
    OptimizerFence.register(spark)
    def q(key: Column) = left.withColumn("k", key)
      .join(right, col("k") === col("y"))
      .orderBy(col("k").desc, col("id"))
      .select("id", "k", "v")
    val withFence = q(expr("graft_fence(x)"))
    withFence.queryExecution.assertAnalyzed()
    assert(fenced(withFence), "the fence must survive optimization")
    val plain = q(col("x"))
    assert(rows(withFence) == rows(plain))
    assert(rows(plain).size == 300)
  }

  test("the fence itself in a join condition or a sort order is refused by CheckAnalysis") {
    OptimizerFence.register(spark)
    // A fenced key is projected first (the test above): CheckAnalysis
    // admits a non-deterministic expression in neither place.
    Seq(
      () => left.join(right, expr("graft_fence(x)") === col("y")),
      () => left.orderBy(expr("graft_fence(x)").desc, col("id"))
    ).foreach { build =>
      val e = intercept[org.apache.spark.sql.AnalysisException](build())
      assert(e.getMessage.contains("INVALID_NON_DETERMINISTIC_EXPRESSIONS"))
    }
  }
}
