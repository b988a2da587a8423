package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Pins [[MinhashSigAgg]] slot-for-slot equal to the expression form it
  * replaced — `min(md5Slice60(concat('<i/2>:', shingle), i % 2))` — on
  * real fixture shingles (round 17; the oracle hash gate then checks the
  * same equality end-to-end against DuckDB). */
class MinhashSigAggSpec extends SparkSuite {

  private val d = "/root/testdata/sf0.001"

  /** The old expression form, kept verbatim here as the reference. */
  private def slice60(c: org.apache.spark.sql.Column, part: Int) =
    conv(substring(md5(c), 1 + 15 * part, 15), 16, 10).cast("long")

  test("aggregate slots equal the min(md5Slice60(...)) expression form") {
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val sh = graft.dedup.Dedup.shingleRows(docs, "doc_id", "text")
    val h = 8
    val viaExpr = sh.groupBy("id")
      .agg(
        (0 until h).map(i =>
          min(slice60(
            concat(lit(s"${i / 2}:"), col("shingle").cast("string")),
            i % 2)).as(s"e_$i")).head,
        (0 until h).map(i =>
          min(slice60(
            concat(lit(s"${i / 2}:"), col("shingle").cast("string")),
            i % 2)).as(s"e_$i")).tail: _*)
    val viaAgg = sh.groupBy("id")
      .agg(expr(s"graft_minhash_sig(shingle, $h)").as("sig"))
      .select(
        col("id") +:
          (0 until h).map(i => element_at(col("sig"), i + 1).as(s"a_$i")): _*)
    val joined = viaExpr.join(viaAgg, Seq("id"))
    assert(joined.count() > 0)
    val mismatches = joined.filter(
      (0 until h).map(i => col(s"e_$i") =!= col(s"a_$i")).reduce(_ || _))
    assert(mismatches.isEmpty,
      s"slot mismatch:\n${mismatches.limit(3).collect().mkString("\n")}")
  }

  test("odd slot count and the empty-input null contract") {
    import spark.implicits._
    // Odd numHashes: the last digest contributes only its part-0 slice.
    val one = Seq(42L).toDF("shingle")
      .agg(expr("graft_minhash_sig(shingle, 3)").as("sig"))
      .select(
        element_at(col("sig"), 1), element_at(col("sig"), 2),
        element_at(col("sig"), 3))
      .head()
    val ref = Seq(42L).toDF("shingle").agg(
      min(slice60(concat(lit("0:"), col("shingle").cast("string")), 0)),
      min(slice60(concat(lit("0:"), col("shingle").cast("string")), 1)),
      min(slice60(concat(lit("1:"), col("shingle").cast("string")), 0))
    ).head()
    assert((0 until 3).forall(i => one.getLong(i) == ref.getLong(i)))
    // min over no rows is null — the aggregate's never-updated slot too.
    val empty = Seq.empty[Long].toDF("shingle")
      .agg(expr("graft_minhash_sig(shingle, 2)").as("sig"))
      .select(element_at(col("sig"), 1)).head()
    assert(empty.isNullAt(0))
  }

  test("a call with the wrong arity names the two-argument signature") {
    import spark.implicits._
    val e = intercept[Exception](Seq(42L).toDF("shingle")
      .agg(expr("graft_minhash_sig(shingle)")).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(!chain.exists(_.isInstanceOf[IndexOutOfBoundsException]))
    assert(
      chain.exists(t => String.valueOf(t.getMessage)
        .contains("graft_minhash_sig(shingle, numHashes)")),
      s"error must name the signature, got: $e")
  }
}
