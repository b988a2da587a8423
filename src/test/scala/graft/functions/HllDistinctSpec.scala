package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The custom HLL sketch aggregate: accuracy envelope, merge semantics,
  * determinism across partitionings. */
class HllDistinctSpec extends SparkSuite {

  test("estimate lands within the m=64 error envelope on real data") {
    import spark.implicits._
    val df = spark.range(0, 5000).select((col("id") % 1337).as("v"))
    val est = df.agg(expr("hll_distinct(v)")).head().getDouble(0)
    // Standard error for m=64 is ~1.04/sqrt(64) = 13%; allow 3 sigma.
    assert(math.abs(est - 1337.0) / 1337.0 < 0.4, s"estimate $est")
  }

  test("estimate is identical across partitioning (merge-safe)") {
    import spark.implicits._
    val df = spark.range(0, 2000).select((col("id") % 700).as("v"))
    val one = df.repartition(1).agg(expr("hll_distinct(v)")).head().getDouble(0)
    val many = df.repartition(17).agg(expr("hll_distinct(v)")).head().getDouble(0)
    assert(one == many)
  }

  test("empty input estimates zero; manual buffer arithmetic agrees") {
    val empty = HllDistinct.estimate(new Array[Byte](HllDistinct.M))
    assert(empty == 0.0)
    // One value: exactly one register set -> linear counting of 63 zeros.
    val buf = new Array[Byte](HllDistinct.M)
    val h = HllDistinct.hash60("42")
    val reg = (h & (HllDistinct.M - 1)).toInt
    buf(reg) = (HllDistinct.MaxRank - HllDistinct.bitLen(h >>> HllDistinct.RegBits)).toByte
    val one = HllDistinct.estimate(buf)
    assert(math.abs(one - 64 * math.log(64.0 / 63)) < 1e-9)
  }

  test("hash60 matches the SQL '0x'||substr(md5,1,15) formula") {
    import spark.implicits._
    val vals = Seq("a", "hello", "12345", "ümlaut")
    val sql = vals.toDF("s")
      .selectExpr("conv(substring(md5(s), 1, 15), 16, 10) AS h")
      .collect().map(_.getString(0).toLong)
    val jvm = vals.map(HllDistinct.hash60)
    assert(sql.toSeq == jvm)
  }
}
