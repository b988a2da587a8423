package graft.similarity

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** IVF ANN vs exact brute force on the real embeddings table. */
class IvfSpec extends SparkSuite {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") < 5)

  test("probing ALL cells reproduces exact brute-force top-k") {
    val index = Ivf.build(emb, nLists = 8)
    val ivf = Ivf.searchTopK(spark, index, queries, k = 3, nProbe = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val exact = Similarity.cosineTopK(emb, queries, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(ivf == exact)
  }

  test("partial probing returns plausible neighbors with bounded work") {
    val index = Ivf.build(emb, nLists = 8)
    val ivf = Ivf.searchTopK(spark, index, queries, k = 3, nProbe = 2)
      .collect()
    assert(ivf.nonEmpty)
    // Every query got ≤ k results, ranked 1..n without gaps.
    ivf.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val rnks = rows.map(_.getLong(1)).sorted.toSeq
      assert(rnks == (1L to rnks.size))
    }
    // recall@1 against exact, over 5 queries: with 2/8 cells probed the
    // top neighbor is found for at least one query even on uniform data.
    val exact1 = Similarity.cosineTopK(emb, queries, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ivf1 = ivf.filter(_.getLong(1) == 1L)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = exact1.count { case (q, v) => ivf1.get(q).contains(v) }
    assert(hits >= 1, s"recall@1 hits=$hits")
  }

  test("trained IVF probing all cells equals exact brute force") {
    // The composition query (q_ivf_trained_topk) with nProbe = K: after
    // Lloyd's training the cells partition the corpus, so probing every
    // cell must reproduce brute-force exactly — training can move
    // boundaries, never lose vectors.
    val centroidIds = (0 until 8).map(_ * 37L)
    val ivf = Ivf.trainedTopK(
      emb, queries, centroidIds, iters = 3, nProbe = 8, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val exact = Similarity.cosineTopK(emb, queries, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(ivf == exact)
  }

  test("fixed-centroid IVF probing all cells equals exact brute force") {
    val ids = (0 until 8).map(_ * 37L)
    val ivf = Ivf.fixedTopK(emb, queries, ids, nProbe = 8, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val exact = Similarity.cosineTopK(emb, queries, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(ivf == exact)
  }

  test("semantic decontamination probing all cells equals brute force") {
    // nProbe = K makes the probed pair space exactly corpus × holdout,
    // so the cell-blocked flags must equal the broadcast brute-force
    // cosine-threshold join — the candidate-superset equality the whole
    // IVF family pins.
    val corpus = emb.filter(col("vec_id") % 13 =!= 0)
    val holdout = emb.filter(col("vec_id") % 13 === 0)
    val ids = (1 to 8).map(_ * 37L)
    val thr = 0.35
    val got = Ivf.semanticContamination(corpus, holdout, ids, thr, nProbe = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_holdout_hits"),
        r.getAs[Double]("max_score"))))
      .toMap
    val c = corpus.select(col("vec_id").as("cid"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ce"))
    val h = holdout.select(col("vec_id").as("hid"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("he"))
    val brute = c.crossJoin(broadcast(h))
      .withColumn("score", round(
        expr("graft_dot(ce, he)") /
          (expr("sqrt(graft_dot(ce, ce))") * expr("sqrt(graft_dot(he, he))")), 6))
      .filter(col("score") >= thr)
      .groupBy("cid")
      .agg(count(lit(1)).as("n"), max("score").as("mx"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n"), r.getAs[Double]("mx"))))
      .toMap
    assert(got.nonEmpty, "fixture must produce at least one flagged doc")
    assert(got == brute)
  }

  test("semantic dedup drops exactly the higher-id near-duplicates") {
    import spark.implicits._
    // Two well-separated clusters; ids 1/2 duplicate id 0, id 11 duplicates
    // id 10. Centroids = one member of each cluster.
    def v(x: Double, y: Double): Array[Float] =
      Array.fill(4)(0f).updated(0, x.toFloat).updated(1, y.toFloat)
    val rows = Seq(
      (0L, v(1, 0)), (1L, v(1, 0.001)), (2L, v(0.999, 0)), (3L, v(0.6, 0.8)),
      (10L, v(-1, 0)), (11L, v(-1, -0.001)), (12L, v(-0.6, -0.8)))
    val corpus = rows.toDF("vec_id", "embedding")
    val dropped = Ivf
      .semanticDedup(corpus, centroidIds = Seq(0L, 10L), threshold = 0.99)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .toMap
    // 1 and 2 each have one lower-id near-dup (0 and 0/1): 2 sees both.
    assert(dropped.keySet == Set(1L, 2L, 11L))
    assert(dropped(1L) == 1L && dropped(2L) == 2L && dropped(11L) == 1L)
  }

  test("semantic dedup never pairs across cells") {
    import spark.implicits._
    // Identical vectors in OPPOSITE clusters stay: dedup is intra-cell by
    // construction (that is the SemDeDup cost contract, not a bug).
    def v(x: Double): Array[Float] =
      Array.fill(4)(0f).updated(0, x.toFloat)
    val corpus = Seq((0L, v(1)), (1L, v(-1))).toDF("vec_id", "embedding")
    val out = Ivf.semanticDedup(corpus, Seq(0L, 1L), threshold = 0.0)
    assert(out.count() == 0)
  }

  test("cell assignment is total and deterministic for a fixed seed") {
    val a = Ivf.build(emb, nLists = 8).assigned
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = Ivf.build(emb, nLists = 8).assigned
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
    assert(a.size == emb.count())
  }

  test("cellDrift: batch == corpus has zero drift everywhere") {
    val seeds = Seq(0L, 17L, 34L, 51L)
    val rows = Ivf.cellDrift(emb, emb, seeds, iters = 2).collect()
    assert(rows.length == seeds.length)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_corpus") == r.getAs[Long]("n_batch"))
      assert(r.getAs[Long]("drift_micros") == 0L)
    }
    assert(rows.map(_.getAs[Long]("n_corpus")).sum == emb.count())
  }

  test("cellDrift: fractions sum to ~1e6 per side; drift sums to ~0") {
    val seeds = Seq(1L, 17L, 34L, 52L) // none ≡ 0 mod 3: all in the corpus
    val corpus = emb.filter(col("vec_id") % 3 =!= 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    val rows = Ivf.cellDrift(corpus, batch, seeds, iters = 2).collect()
    // round-to-nearest per cell: totals land within K/2 micros of 1e6.
    val fc = rows.map(_.getAs[Long]("frac_corpus_micros")).sum
    val fb = rows.map(_.getAs[Long]("frac_batch_micros")).sum
    assert(math.abs(fc - 1000000L) <= seeds.length / 2 + 1)
    assert(math.abs(fb - 1000000L) <= seeds.length / 2 + 1)
    assert(math.abs(rows.map(_.getAs[Long]("drift_micros")).sum) <=
      seeds.length + 2)
    assert(rows.map(_.getAs[Long]("n_corpus")).sum == corpus.count())
    assert(rows.map(_.getAs[Long]("n_batch")).sum == batch.count())
  }

  test("cellDrift: a shifted batch shows up as nonzero drift mass") {
    import spark.implicits._
    def v(x: Double): Array[Float] =
      Array.fill(4)(0f).updated(0, x.toFloat)
    // Corpus balanced across two well-separated cells; batch all on one.
    val corpus = Seq(
      (0L, v(1.0)), (1L, v(1.1)), (2L, v(-1.0)), (3L, v(-1.1))
    ).toDF("vec_id", "embedding")
    val batch = Seq((10L, v(0.95)), (11L, v(1.05))).toDF("vec_id", "embedding")
    val rows = Ivf.cellDrift(corpus, batch, Seq(0L, 2L), iters = 2)
      .collect().map(r =>
        r.getAs[Long]("cell") ->
          (r.getAs[Long]("frac_corpus_micros"),
            r.getAs[Long]("frac_batch_micros"),
            r.getAs[Long]("drift_micros"))).toMap
    assert(rows(0L) == ((500000L, 1000000L, 500000L)))
    assert(rows(1L) == ((500000L, 0L, -500000L)))
  }
}
