package graft.similarity

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall harness for the approximate search paths: every ANN variant is
  * oracle-checked for DETERMINISM elsewhere (same plan, same hash in two
  * engines); this spec quantifies how much RECALL each approximation
  * trades against the exact brute force, with pinned params on the real
  * embeddings fixture — so a refactor that silently wrecks retrieval
  * quality (as opposed to determinism) fails here.
  *
  * recall@k = mean over queries of |exact top-k ∩ approx top-k| / k.
  * Floors are set from measured values with a safety margin; the point is
  * a tripwire, not a benchmark claim.
  */
class AnnRecallSpec extends SparkSuite {

  private val K = 10
  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") < 20)
  private val centroidIds = (0 until 8).map(_ * 37L)

  /** (q_vec_id → set of retrieved vec_ids) from a (q_vec_id, rnk, vec_id,
    * …) frame. */
  private def retrieved(df: DataFrame): Map[Long, Set[Long]] =
    df.select("q_vec_id", "vec_id").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  private lazy val exact: Map[Long, Set[Long]] =
    retrieved(Similarity.cosineTopK(emb, queries, K))

  private def recallAtK(approx: Map[Long, Set[Long]]): Double = {
    val per = exact.map { case (q, ex) =>
      approx.getOrElse(q, Set.empty).count(ex).toDouble / ex.size
    }
    per.sum / per.size
  }

  test("int8 scalar quantization keeps near-perfect recall@10") {
    val r = recallAtK(retrieved(Similarity.cosineTopKQ8(emb, queries, K)))
    info(f"recall@$K q8 = $r%.3f")
    assert(r >= 0.95, f"q8 recall@$K collapsed: $r%.3f")
  }

  test("sign-LSH bucketing recall@10 stays above its measured floor") {
    // 64-dim near-uniform fixture vectors are the distance-concentration
    // worst case for sign-LSH; 2 bits (4 buckets, ~125 members each) is
    // the granularity that still retrieves on this data. Measured 0.37.
    val r = recallAtK(
      retrieved(Similarity.cosineTopKLsh(emb, queries, K, dims = 64, nBits = 2)))
    info(f"recall@$K lsh(2 bits) = $r%.3f")
    assert(r >= 0.30, f"lsh recall@$K collapsed: $r%.3f")
  }

  test("trained IVF with partial probing recall@10 stays above its measured floor") {
    val r = recallAtK(retrieved(
      Ivf.trainedTopK(emb, queries, centroidIds, iters = 3, nProbe = 2, k = K)))
    info(f"recall@$K ivf(nProbe=2/8) = $r%.3f")
    assert(r >= 0.40, f"trained-IVF recall@$K collapsed: $r%.3f")
  }

  test("truncated-dim rerank recall@10 stays above its measured floor and beats stage 1 alone") {
    // Prefix 16/64 on untrained near-uniform vectors carries only 1/4 of
    // the mass — the worst case for Matryoshka-style truncation (trained
    // MRL embeddings front-load variance). The candidate pool (50 ≫ k)
    // is what buys recall back.
    val r = recallAtK(retrieved(Similarity.cosineTopKTruncated(
      emb, queries, K, prefixDims = 16, candidates = 50)))
    info(f"recall@$K truncated(16/64, cand=50) = $r%.3f")
    assert(r >= 0.30, f"truncated rerank recall@$K collapsed: $r%.3f")
    // The exact rerank must add value over ranking by prefix score
    // alone (candidates == k degenerates to stage 1 with no rerank).
    val stage1Only = recallAtK(retrieved(Similarity.cosineTopKTruncated(
      emb, queries, K, prefixDims = 16, candidates = K)))
    info(f"recall@$K truncated stage1-only = $stage1Only%.3f")
    assert(r >= stage1Only,
      f"rerank lost recall vs raw prefix ranking: $r%.3f < $stage1Only%.3f")
    // And a wider pool dominates a narrower one.
    val wide = recallAtK(retrieved(Similarity.cosineTopKTruncated(
      emb, queries, K, prefixDims = 16, candidates = 200)))
    info(f"recall@$K truncated(cand=200) = $wide%.3f")
    assert(wide >= r)
  }

  test("product quantization recall@10 stays above its measured floor") {
    // Finer codebooks (8 subspaces × 16 codes) against the same
    // concentration-hard fixture. Measured values recorded by info().
    val seeds16 = (0 until 16).map(_ * 31L)
    val r = recallAtK(retrieved(
      Ivf.pqTopK(emb, queries, seeds16, dims = 64, m = 8, iters = 2, k = K)))
    info(f"recall@$K pq(m=8, K=16) = $r%.3f")
    assert(r >= 0.20, f"pq recall@$K collapsed: $r%.3f")
  }

  test("IVF-PQ with cell probing trades recall for the nProbe/K scan cut") {
    val seeds16 = (0 until 16).map(_ * 31L)
    val unprobed = recallAtK(retrieved(
      Ivf.pqTopK(emb, queries, seeds16, dims = 64, m = 8, iters = 2, k = K)))
    val probed = recallAtK(retrieved(Ivf.ivfPqProbeTopK(
      emb, queries, coarseIds = centroidIds, pqIds = seeds16,
      dims = 64, m = 8, iters = 2, nProbe = 2, k = K)))
    info(f"recall@$K ivfpq(nProbe=2/8) = $probed%.3f vs unprobed pq = $unprobed%.3f")
    // The probe restriction can only remove candidates, so probed recall
    // is bounded by unprobed PQ recall — and must not collapse to zero.
    assert(probed <= unprobed + 1e-9)
    assert(probed >= 0.05, f"ivf-pq recall@$K collapsed: $probed%.3f")
    // All cells probed == plain PQ (the restriction vanishes).
    val allCells = recallAtK(retrieved(Ivf.ivfPqProbeTopK(
      emb, queries, coarseIds = centroidIds, pqIds = seeds16,
      dims = 64, m = 8, iters = 2, nProbe = centroidIds.size, k = K)))
    assert(math.abs(allCells - unprobed) < 1e-9,
      f"nProbe=K must equal unprobed PQ: $allCells%.3f vs $unprobed%.3f")
  }

  test("residual IVF-PQ recall@10 is recorded and does not collapse") {
    // The full IVFADC (codes quantize vec − coarse centroid). On
    // TRAINED/clustered embeddings residuals shrink dramatically and
    // residual PQ dominates; on this near-uniform fixture cells are
    // wide, so the gain over non-residual codes is modest — the spec
    // records both so the relationship is measured, not assumed.
    val seeds16 = (0 until 16).map(_ * 31L)
    val resid = recallAtK(retrieved(Ivf.ivfPqResidualTopK(
      emb, queries, coarseIds = centroidIds, pqIds = seeds16,
      dims = 64, m = 8, iters = 2, nProbe = 2, k = K)))
    val plain = recallAtK(retrieved(Ivf.ivfPqProbeTopK(
      emb, queries, coarseIds = centroidIds, pqIds = seeds16,
      dims = 64, m = 8, iters = 2, nProbe = 2, k = K)))
    info(f"recall@$K ivfpq-residual(nProbe=2/8) = $resid%.3f vs non-residual = $plain%.3f")
    assert(resid >= 0.05, f"residual ivf-pq recall@$K collapsed: $resid%.3f")
  }

  test("residual IVF-PQ ranks are contiguous; widening the probe only improves the best ADC hit") {
    val seeds16 = (0 until 16).map(_ * 31L)
    def run(nProbe: Int) = Ivf.ivfPqResidualTopK(
      emb, queries, coarseIds = centroidIds, pqIds = seeds16,
      dims = 64, m = 8, iters = 2, nProbe = nProbe, k = K).collect()
    val narrow = run(2)
    narrow.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val rnks = rows.map(_.getAs[Long]("rnk")).sorted.toSeq
      assert(rnks == (1L to rnks.size))
    }
    // A candidate's ADC distance depends only on its OWN cell's residual
    // table, so probing more cells is a strict candidate-superset with
    // unchanged scores: per query, the best (min) adist can only improve.
    val wide = run(centroidIds.size)
    def best(rows: Array[org.apache.spark.sql.Row]): Map[Long, Long] =
      rows.filter(_.getAs[Long]("rnk") == 1L)
        .map(r => r.getLong(0) -> r.getAs[Long]("adist")).toMap
    val bn = best(narrow); val bw = best(wide)
    bn.foreach { case (q, b2) =>
      assert(bw(q) <= b2,
        s"query $q: nProbe=8 best adist ${bw(q)} worse than nProbe=2 $b2")
    }
  }

  test("semantic decontamination flag recall at nProbe=2 stays above its floor") {
    // The decontam gate is exact at nProbe=K (IvfSpec); this measures
    // what the nProbe=2 DEPLOYED setting actually catches: flagged-doc
    // recall vs the brute-force corpus×holdout threshold flags on the
    // fixture split. A refactor that silently narrows the probed pair
    // space fails here rather than in production.
    val corpus = emb.filter(col("vec_id") % 13 =!= 0)
    val holdout = emb.filter(col("vec_id") % 13 === 0)
    val ids = (1 to 8).map(_ * 37L)
    val thr = 0.35
    val probed = Ivf.semanticContamination(corpus, holdout, ids, thr, nProbe = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val c = corpus.select(col("vec_id").as("cid"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ce"))
    val h = holdout.select(col("vec_id").as("hid"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("he"))
    val brute = c.crossJoin(broadcast(h))
      .withColumn("score", round(
        expr("graft_dot(ce, he)") /
          (expr("sqrt(graft_dot(ce, ce))") * expr("sqrt(graft_dot(he, he))")), 6))
      .filter(col("score") >= thr)
      .select("cid").distinct().collect().map(_.getLong(0)).toSet
    assert(brute.nonEmpty)
    val recall = probed.count(brute).toDouble / brute.size
    info(f"decontam flag recall (nProbe=2/8) = $recall%.3f (${probed.size}/${brute.size})")
    assert(probed.subsetOf(brute), "probed flags must be a subset of brute-force flags")
    assert(recall >= 0.25, f"decontam flag recall collapsed: $recall%.3f")
  }

  test("q_ann_recall monitor agrees with this harness's independent intersection") {
    // The monitor (one join + agg inside Spark) and this harness (two
    // collected maps intersected in Scala) compute recall independently;
    // on the monitor's own params they must agree query-for-query.
    import graft.queries.PipelineQueries
    val d = "/root/testdata/sf0.001"
    val mk = PipelineQueries.TopK
    val mq = PipelineQueries.NumQueries
    val mQueries = emb.filter(col("vec_id") < mq)
    val ex = retrieved(Similarity.cosineTopK(emb, mQueries, mk))
    val iv = retrieved(Ivf.fixedTopK(
      emb, mQueries, PipelineQueries.IvfCentroidIds,
      PipelineQueries.IvfNProbe, mk))
    val expected = ex.map { case (q, s) =>
      q -> s.count(iv.getOrElse(q, Set.empty)).toLong
    }
    val monitor = PipelineQueries.annRecall(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(monitor.keySet == ex.keySet, "monitor must report every sampled query")
    assert(monitor == expected)
    val mean = monitor.values.sum.toDouble / (monitor.size * mk)
    info(f"monitor mean recall@$mk = $mean%.3f")
  }

  test("PQ with all-vector queries ranks every anchor (shape sanity)") {
    // Small m·K codebook on 500 vectors: every query must still get
    // exactly K ranked rows 1..K (ADC never loses candidates — every
    // vector has a code in every subspace).
    val out = Ivf.pqTopK(emb, queries, centroidIds, dims = 64, m = 4,
      iters = 2, k = K)
    val counts = out.groupBy("q_vec_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.size == 20)
    assert(counts.values.forall(_ == K))
  }
}
