package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Brute-force cosine top-k is the exact baseline: queries × corpus dot
  * products as a broadcast nested loop (queries are always the small side),
  * ranked per query with a window — Spark turns that into
  * BroadcastNestedLoopJoin + partial top-k, which scales linearly in the
  * corpus and never shuffles the corpus itself.
  *
  * The scale path is LSH bucketing (random hyperplanes): each vector maps
  * to an `nBits`-bit sign signature; candidates share a bucket, so the join
  * key is the bucket id and cost is Σ bucket² — the embedding analog of
  * MinHash banding. Hyperplanes are pseudo-random but DETERMINISTIC,
  * derived from md5(plane:dim), so results are reproducible and
  * engine-portable (no RNG state).
  *
  * All scoring happens on double-cast arrays with a sequential left fold,
  * matching DuckDB's `list_dot_product` accumulation order bit-for-bit.
  * The dot product itself is the codegen [[graft.functions.DotProduct]]
  * expression (`graft_dot`); the remaining array expressions are builtin
  * higher-order functions — no UDFs anywhere.
  */
object Similarity {

  /** SQL for a sequential-fold dot product of two double-array columns.
    * `graft_dot` is the codegen [[graft.functions.DotProduct]] expression —
    * bit-identical (same left-to-right accumulation) to the HOF form
    * `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,v) -> acc+v)` it
    * replaced, but fused into whole-stage codegen instead of interpreted
    * lambda dispatch (HOFs are CodegenFallback). It resolves in every
    * session built with [[graft.functions.GraftExtensions]]. */
  def dotSql(a: String, b: String): String =
    s"graft_dot($a, $b)"

  private def toDoubleSql(c: String): String =
    s"transform($c, x -> CAST(x AS DOUBLE))"

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors by cosine (self-match excluded). Output:
    * (q_vec_id, rnk, vec_id, score).
    *
    * Ranking runs through [[rankTopK]] (the custom bounded-heap
    * operator): the embedding arrays are projected away BEFORE ranking,
    * so the heap/shuffle carries (q_vec_id, vec_id, score) triples only. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // The corpus side of the broadcast nested loop carries |corpus| ×
    // |queries| dot products — spread it to core count first (round-16,
    // guide §2.5: the fixture embeddings file is one row group, so the
    // whole scoring pass otherwise runs on one task). Guarded like
    // graft.dedup.Dedup.spreadNarrow; the broadcast queries side is
    // untouched.
    val c = graft.similarity.Ivf.prepDouble(corpus)
      .withColumn("nrm", expr(s"sqrt(${dotSql("emb", "emb")})"))
    val q = queries.select(
      col("vec_id").as("q_vec_id"),
      expr(toDoubleSql("embedding")).as("q_emb"))
      .withColumn("q_nrm", expr(s"sqrt(${dotSql("q_emb", "q_emb")})"))
    val scored = c
      .join(broadcast(q), col("vec_id") =!= col("q_vec_id"))
      .withColumn(
        "score",
        round(expr(dotSql("emb", "q_emb")) / (col("nrm") * col("q_nrm")), 6))
    rankTopK(scored, k)
  }

  /** CROSS-SPACE cosine top-k: every query vector against every index
    * vector with NO self-exclusion — the retrieval face for two
    * DIFFERENT id spaces projected into one embedding space (text
    * queries against an image index, say), where a query's own paired
    * item is a legitimate — indeed the desired — hit. Inputs are
    * already-double `(vec_id, emb: array<double>)` frames (callers own
    * the projection into the shared space); scoring and the bounded-heap
    * rank are [[cosineTopK]]'s, verbatim.
    *
    * Scale shape: queries broadcast (retrieval query sets are small by
    * definition); the index is never shuffled with its vectors — arrays
    * are projected away before ranking, so the heap carries
    * (q_vec_id, vec_id, score) triples only. This is the exact
    * baseline; when the index outgrows a scan, the IVF family
    * ([[graft.similarity.Ivf]]) is the route — the projection composes
    * in front of either. */
  /** Spread a corpus-side frame to the session's core count before a
    * broadcast nested-loop scoring pass (round-16, guide §2.5 — the
    * fixture embeddings parquet is one row group, so the corpus side of
    * every brute-force cosine otherwise scores on ONE task). Same guard
    * discipline as [[graft.dedup.Dedup.spreadNarrow]]: keyed on vec_id,
    * no-op when already at least core-parallel or streaming. */
  private def spreadCorpus(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      if (graft.dedup.Dedup.inputWidth(df).exists(_ < p))
        df.repartition(p, col("vec_id"))
      else df
    }

  def crossTopK(index: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = spreadCorpus(index.select(col("vec_id"), col("emb")))
      .withColumn("nrm", expr(s"sqrt(${dotSql("emb", "emb")})"))
    val q = queries.select(
      col("vec_id").as("q_vec_id"), col("emb").as("q_emb"))
      .withColumn("q_nrm", expr(s"sqrt(${dotSql("q_emb", "q_emb")})"))
    // Broadcast nested-loop over the K-row query frame — the same join
    // cosineTopK plans, minus the (here meaningless) self-exclusion
    // predicate.
    val scored = c
      .crossJoin(broadcast(q))
      .withColumn(
        "score",
        round(expr(dotSql("emb", "q_emb")) / (col("nrm") * col("q_nrm")), 6))
    rankTopK(scored, k)
  }

  /** Shared ranking tail of every top-k search: per-query bounded-heap
    * rank (identical total order to `row_number() OVER (PARTITION BY
    * q_vec_id ORDER BY score DESC, vec_id ASC)` — the SQL the oracles
    * use), narrow columns only. */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    graft.plans.TopKPerKey
      .topK(
        scored.select("q_vec_id", "vec_id", "score"),
        keys = Seq(col("q_vec_id")),
        ordering = Seq(col("score").desc, col("vec_id").asc),
        k = k)
      .select("q_vec_id", "rnk", "vec_id", "score")

  /** Contrastive hard-negative mining: for each query vector, the k
    * nearest corpus vectors whose LABEL DIFFERS from the query's — the
    * standard mining step for contrastive/embedding training data
    * (negatives that are semantically close but belong to another
    * class). Output: (q_vec_id, rnk, vec_id, label, score).
    *
    * Plan shape is [[cosineTopK]]'s: queries broadcast against the
    * corpus (BroadcastNestedLoopJoin — the label-mismatch predicate is
    * non-equi by design, every cross-label pair must be scored), arrays
    * projected away before the bounded-heap rank, so the shuffle
    * carries (q_vec_id, vec_id, label, score) only. At 100 TB the
    * label filter does not change the asymptotics (still |Q|·|C|
    * dots); the IVF route composes the same way when |Q| grows —
    * probe cells first, filter labels inside the cell. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int)
      : DataFrame = {
    val c = spreadCorpus(corpus.select(
      col("vec_id"),
      col("label"),
      expr(toDoubleSql("embedding")).as("emb")))
      .withColumn("nrm", expr(s"sqrt(${dotSql("emb", "emb")})"))
    val q = queries.select(
      col("vec_id").as("q_vec_id"),
      col("label").as("q_label"),
      expr(toDoubleSql("embedding")).as("q_emb"))
      .withColumn("q_nrm", expr(s"sqrt(${dotSql("q_emb", "q_emb")})"))
    val scored = c
      .join(broadcast(q), col("label") =!= col("q_label"))
      .withColumn(
        "score",
        round(expr(dotSql("emb", "q_emb")) / (col("nrm") * col("q_nrm")), 6))
    graft.plans.TopKPerKey
      .topK(
        scored.select("q_vec_id", "vec_id", "label", "score"),
        keys = Seq(col("q_vec_id")),
        ordering = Seq(col("score").desc, col("vec_id").asc),
        k = k)
      .select("q_vec_id", "rnk", "vec_id", "label", "score")
  }

  /** SQL for per-vector symmetric int8 quantization of a double-array
    * column: scale = 127 / max|x| (1 for the zero vector), components
    * rounded half-away — the same formula is handed to the oracle engine. */
  private[graft] def quantizeQ8Sql(emb: String): String = {
    val mx = s"array_max(transform($emb, y -> abs(y)))"
    val scale =
      s"(CASE WHEN $mx = CAST(0 AS DOUBLE) THEN CAST(1 AS DOUBLE) ELSE CAST(127 AS DOUBLE) / $mx END)"
    s"transform($emb, x -> round(x * $scale, 0))"
  }

  /** Scalar-quantized (int8) cosine top-k — the memory-bandwidth scale
    * path: vectors are quantized per-vector to [-127, 127] and ALL
    * scoring runs on integer-valued dot products. At corpus scale this is
    * the standard first ANN compression step (4× smaller scans than
    * float32 before IVF/PQ); as a bonus the integer sums are EXACT in
    * IEEE doubles (≤ dims·127² ≪ 2^53), so the ranking is
    * order-insensitive and bit-deterministic in any engine — float dots
    * need a pinned accumulation order, integer dots don't.
    * Output: (q_vec_id, rnk, vec_id, score_q8) — cosine computed entirely
    * from the quantized dots. */
  def cosineTopKQ8(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    def prep(df: DataFrame, idAs: String, qAs: String, nrmAs: String) =
      df.select(col("vec_id").as(idAs),
          expr(toDoubleSql("embedding")).as("emb"))
        .withColumn(qAs, expr(quantizeQ8Sql("emb")))
        .withColumn(nrmAs, expr(s"sqrt(${dotSql(qAs, qAs)})"))
        .drop("emb")
    val c = prep(spreadCorpus(corpus), "vec_id", "q", "nrm")
    val q = prep(queries, "q_vec_id", "qq", "q_nrm")
    val scored = c
      .join(broadcast(q), col("vec_id") =!= col("q_vec_id"))
      .withColumn(
        "score",
        round(expr(dotSql("q", "qq")) / (col("nrm") * col("q_nrm")), 6))
    rankTopK(scored, k).withColumnRenamed("score", "score_q8")
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * md5-derived value in [-0.5, 0.5). */
  def planeComponent(plane: Int, dim: Int): Double = {
    val h = java.security.MessageDigest
      .getInstance("MD5")
      .digest(s"$plane:$dim".getBytes("UTF-8"))
    val v = java.nio.ByteBuffer.wrap(h).getInt(0) & 0xffffffffL
    v.toDouble / 4294967296.0 - 0.5
  }

  /** Sign-LSH bucket id over an embedding column name: nBits hyperplane
    * sign bits packed into a BIGINT. Generated as a flat SQL expression so
    * the same formula can be handed to the DuckDB oracle — `indexFn`
    * abstracts the one syntax difference (Spark `element_at(c, i)` is
    * 1-based; DuckDB uses 1-based `c[i]`). */
  def lshBucketSql(
      emb: String,
      dims: Int,
      nBits: Int,
      indexFn: (String, Int) => String = (c, i) => s"element_at($c, $i)"
  ): String = {
    val bitExprs = (0 until nBits).map { p =>
      val terms = (0 until dims)
        .map(d => s"CAST(${indexFn(emb, d + 1)} AS DOUBLE) * (${planeComponent(p, d)})")
        .mkString(" + ")
      s"(CASE WHEN ($terms) > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }
    bitExprs.mkString("(", " + ", ")")
  }

  /** Embedding-cosine near-duplicate pairs: candidates share an LSH
    * bucket (self-join on the bucket id — Σ bucket², never n²), verified
    * with the exact cosine ≥ threshold. The embedding analog of
    * MinHash-banded near-dup detection. */
  def cosineDuplicates(
      corpus: DataFrame,
      threshold: Double,
      dims: Int,
      nBits: Int = 4
  ): DataFrame = {
    val bucket = lshBucketSql("embedding", dims, nBits)
    val v = spreadCorpus(corpus.select(
      col("vec_id"),
      expr(toDoubleSql("embedding")).as("emb"),
      expr(bucket).as("bucket")))
      .withColumn("nrm", expr(s"sqrt(${dotSql("emb", "emb")})"))
    val a = v.select(col("vec_id").as("id_a"), col("emb").as("emb_a"),
      col("nrm").as("nrm_a"), col("bucket"))
    val b = v.select(col("vec_id").as("id_b"), col("emb").as("emb_b"),
      col("nrm").as("nrm_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn(
        "score",
        round(expr(dotSql("emb_a", "emb_b")) / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("score") >= threshold)
      .select("id_a", "id_b", "score")
      .distinct()
  }

  /** Approximate cosine top-k: candidates restricted to the query's LSH
    * bucket, then scored exactly. Trades recall for a Σ bucket² cost that
    * survives corpus scale-up; `nBits` tunes bucket granularity. */
  def cosineTopKLsh(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dims: Int,
      nBits: Int = 8
  ): DataFrame = {
    val bucket = lshBucketSql("embedding", dims, nBits)
    val c = spreadCorpus(corpus.select(
      col("vec_id"),
      expr(toDoubleSql("embedding")).as("emb"),
      expr(bucket).as("bucket")))
      .withColumn("nrm", expr(s"sqrt(${dotSql("emb", "emb")})"))
    val q = queries.select(
      col("vec_id").as("q_vec_id"),
      expr(toDoubleSql("embedding")).as("q_emb"),
      expr(bucket).as("bucket"))
      .withColumn("q_nrm", expr(s"sqrt(${dotSql("q_emb", "q_emb")})"))
    val scored = c
      .join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_vec_id"))
      .withColumn(
        "score",
        round(expr(dotSql("emb", "q_emb")) / (col("nrm") * col("q_nrm")), 6))
    rankTopK(scored, k)
  }

  /** Two-stage TRUNCATED-DIMENSION rerank (the Matryoshka retrieval
    * shape, Kusupati et al. 2022, arXiv:2205.13147): stage 1 scores
    * every (query, corpus) pair on only the first `prefixDims`
    * dimensions and keeps the top `candidates` per query by prefix
    * cosine (tie → min vec_id, so the candidate SET is deterministic
    * and engine-portable); stage 2 re-scores only those candidates with
    * the exact full-dimension cosine. Output is [[cosineTopK]]'s shape.
    *
    * Scale rationale: the stage-1 scan does dims/prefixDims× less
    * arithmetic per pair, and at 100 TB the prefix lives as its own
    * narrow column (column pruning reads prefixDims·4 bytes per vector
    * instead of the full embedding); stage 2 touches full vectors for
    * only |Q|·candidates rows — a vec_id-keyed join, never a second
    * corpus scan of pairs. Recall is governed by candidates/k and the
    * mass the prefix carries (trained Matryoshka embeddings front-load
    * it; AnnRecallSpec records the floor for raw random vectors). */
  def cosineTopKTruncated(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      prefixDims: Int,
      candidates: Int
  ): DataFrame = {
    require(candidates >= k, s"candidates $candidates < k $k")
    val c = spreadCorpus(corpus.select(
      col("vec_id"),
      expr(toDoubleSql("embedding")).as("emb")))
    val cp = c
      .withColumn("p_emb", slice(col("emb"), 1, prefixDims))
      .withColumn("p_nrm", expr(s"sqrt(${dotSql("p_emb", "p_emb")})"))
      .select("vec_id", "p_emb", "p_nrm")
    val q = queries.select(
      col("vec_id").as("q_vec_id"),
      expr(toDoubleSql("embedding")).as("q_emb"))
    val qp = q
      .withColumn("qp_emb", slice(col("q_emb"), 1, prefixDims))
      .withColumn("qp_nrm", expr(s"sqrt(${dotSql("qp_emb", "qp_emb")})"))
      .select("q_vec_id", "qp_emb", "qp_nrm")
    val cand = graft.plans.TopKPerKey
      .topK(
        cp.join(broadcast(qp), col("vec_id") =!= col("q_vec_id"))
          .withColumn(
            "pscore",
            round(
              expr(dotSql("p_emb", "qp_emb")) /
                (col("p_nrm") * col("qp_nrm")), 6))
          .select("q_vec_id", "vec_id", "pscore"),
        keys = Seq(col("q_vec_id")),
        ordering = Seq(col("pscore").desc, col("vec_id").asc),
        k = candidates)
      .select("q_vec_id", "vec_id")
    val full = c
      .withColumn("nrm", expr(s"sqrt(${dotSql("emb", "emb")})"))
    val rescored = cand
      .join(full, Seq("vec_id"))
      .join(
        broadcast(q.withColumn(
          "q_nrm", expr(s"sqrt(${dotSql("q_emb", "q_emb")})"))),
        Seq("q_vec_id"))
      .withColumn(
        "score",
        round(expr(dotSql("emb", "q_emb")) / (col("nrm") * col("q_nrm")), 6))
    rankTopK(rescored, k)
  }
}
