package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._

class DotProductSpec extends SparkSuite {

  import spark.implicits._

  private val hof =
    "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  test("matches the HOF fold bit-for-bit on random arrays") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { _ =>
      val n = rnd.nextInt(16) + 1
      (Array.fill(n)(rnd.nextDouble() * 2 - 1),
        Array.fill(n)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("a", "b")
      .select(expr(hof).as("want"), expr("graft_dot(a, b)").as("got"))
    // Bit-for-bit: identical accumulation order must give identical
    // doubles, not merely close ones (oracle hashes depend on it).
    assert(df.filter(
      coalesce(col("want"), lit(Double.NaN)) =!=
        coalesce(col("got"), lit(Double.NaN))).count() == 0)
  }

  test("null semantics match zip_with padding: length mismatch and null elements") {
    val df = Seq(
      (Array(1.0, 2.0), Array(3.0)),          // mismatched lengths
      (Array.empty[Double], Array.empty[Double]) // both empty
    ).toDF("a", "b")
      .select(expr(hof).as("want"), expr("graft_dot(a, b)").as("got"))
      .collect()
    assert(df(0).isNullAt(0) && df(0).isNullAt(1))
    assert(df(1).getDouble(0) == 0.0 && df(1).getDouble(1) == 0.0)
    // Null element poisons the sum in both forms.
    val withNull = spark.sql(
      s"""SELECT $hof AS want, graft_dot(a, b) AS got
         |FROM VALUES (array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 1.0D)) t(a, b)
         |""".stripMargin).collect()(0)
    assert(withNull.isNullAt(0) && withNull.isNullAt(1))
    // Null array → null.
    val nullArr = spark.sql(
      "SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS got")
      .collect()(0)
    assert(nullArr.isNullAt(0))
  }

  test("participates in whole-stage codegen (no CodegenFallback in the scoring stage)") {
    // Non-constant, codegen-friendly input: literals constant-fold to a
    // LocalTableScan, and HOFs like transform() are CodegenFallback (the
    // very thing DotProduct avoids) — either would break the span.
    val df = spark.range(10)
      .selectExpr(
        "array(CAST(id AS DOUBLE), CAST(id + 1 AS DOUBLE)) AS a",
        "array(CAST(id * 2 AS DOUBLE), CAST(id * 3 AS DOUBLE)) AS b")
      .selectExpr("graft_dot(a, b) AS dot")
    // The `*(n)` prefix marks operators inside a WholeStageCodegen span;
    // a CodegenFallback expression would strip it from the Project.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("Project") && l.trim.startsWith("*") && l.contains("graft_dot")),
      s"expected the graft_dot Project inside a codegen span in:\n$plan")
    // id=2: a=[2,3], b=[4,6] → 8+18
    assert(df.collect().map(_.getDouble(0)).sorted.apply(2) == 26.0)
  }

  test("rejects non-double-array inputs at analysis") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(array('x'), array('y'))").collect()
    }
    assert(e.getMessage.contains("array<double>"))
  }
}
