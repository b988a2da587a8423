package graft.similarity

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Laws of the cross-space retrieval top-k ([[Similarity.crossTopK]]):
  * no self-exclusion (an identical vector ranks first at score 1), the
  * bounded-heap rank equals the window-rank reference, and the
  * cross-modal query composes the SAME projections the alignment score
  * uses. */
class CrossTopKSpec extends SparkSuite {

  import spark.implicits._

  private def frame(rows: (Long, Seq[Double])*) =
    rows.toSeq.toDF("vec_id", "emb")

  test("an index vector identical to the query ranks first at score 1") {
    val index = frame(
      1L -> Seq(1.0, 0.0, 0.0, 0.0),
      2L -> Seq(0.0, 1.0, 0.0, 0.0),
      3L -> Seq(0.7, 0.7, 0.0, 0.0))
    val queries = frame(1L -> Seq(1.0, 0.0, 0.0, 0.0))
    val got = Similarity.crossTopK(index, queries, 2)
      .orderBy("q_vec_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.head == ((1L, 1L, 1L, 1.0)),
      "the query's own vector must be a legitimate rank-1 hit")
    assert(got(1)._3 == 3L)
  }

  test("bounded-heap rank equals the window-rank reference on the fixture") {
    val d = "/root/testdata/sf0.001"
    import graft.queries.PipelineQueries
    val got = PipelineQueries.crossmodalTopK(spark, d)
    val emb = graft.queries.Tables.embeddings(spark, d)
    // Reference: same scored cross join, ranked by the SQL window the
    // oracles use instead of the bounded heap.
    val index = PipelineQueries.imageFeatureFrame(
        graft.multimodal.Multimodal.mediaFromDocuments(spark, d))
      .select(col("doc_id").as("vec_id"), col("ih").as("emb"))
      .withColumn("nrm", expr("sqrt(graft_dot(emb, emb))"))
    val queries = PipelineQueries.textProjection(emb)
      .filter(col("doc_id") < PipelineQueries.CrossModalQueries)
      .select(col("doc_id").as("q_vec_id"), col("tf").as("q_emb"))
      .withColumn("q_nrm", expr("sqrt(graft_dot(q_emb, q_emb))"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_vec_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    val want = index.crossJoin(broadcast(queries))
      .withColumn("score",
        round(expr("graft_dot(emb, q_emb)") / (col("nrm") * col("q_nrm")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= PipelineQueries.CrossModalK)
      .select("q_vec_id", "rnk", "vec_id", "score")
      .orderBy("q_vec_id", "rnk")
    assert(got.collect().map(_.toSeq).toSeq ==
      want.collect().map(_.toSeq).toSeq)
  }

  test("retrieval and alignment share the projection: top-k scores agree with align_micros") {
    // For every (text, its own image) pair that the retrieval surfaces,
    // the cosine must round to the alignment face's integer micros —
    // one projection, two consumers.
    val d = "/root/testdata/sf0.001"
    import graft.queries.PipelineQueries
    val topk = PipelineQueries.crossmodalTopK(spark, d)
      .filter(col("q_vec_id") === col("vec_id"))
      .select(col("q_vec_id").as("doc_id"),
        (col("score") * 1000000).cast("long").as("score_micros"))
    val align = PipelineQueries.imgtextAlign(spark, d)
      .select(col("doc_id"), col("align_micros"))
    val joined = topk.join(align, Seq("doc_id"))
    assert(joined.count() > 0, "the fixture must surface own-pair hits")
    val drift = joined
      .filter(abs(col("score_micros") - col("align_micros")) > lit(1L))
      .count()
    assert(drift == 0, "retrieval and alignment scores drifted")
  }
}
