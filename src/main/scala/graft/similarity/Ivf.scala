package graft.similarity

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest-neighbor search: a k-means
  * coarse quantizer partitions the corpus into `nLists` cells; a query
  * probes only its `nProbe` nearest cells and scores those members
  * exactly.
  *
  * This is the data-dependent alternative to sign-LSH bucketing
  * ([[Similarity.cosineTopKLsh]]): centroids adapt to the embedding
  * distribution, so cells are balanced where LSH buckets may not be. At
  * corpus scale the cell assignment is one MLlib KMeans fit (sampled
  * training is fine) + one transform; the search joins queries to only
  * nProbe/nLists of the corpus — the standard billion-vector recipe
  * (IVF-Flat), minus product quantization which would need byte-level
  * codecs.
  */
object Ivf {

  case class IvfIndex(
      /** corpus with a `cell` column */
      assigned: DataFrame,
      /** (cell, centroid as Array[Double]) — small, driver-held */
      centroids: Array[(Int, Array[Double])]
  )

  /** Fit the coarse quantizer and assign every corpus vector a cell. */
  def build(
      corpus: DataFrame,
      nLists: Int,
      seed: Long = 42L,
      maxIter: Int = 20
  ): IvfIndex = {
    val withVec = corpus.withColumn("__vec", array_to_vector(col("embedding")))
    val model = new KMeans()
      .setK(nLists)
      .setSeed(seed)
      .setMaxIter(maxIter)
      .setFeaturesCol("__vec")
      .setPredictionCol("cell")
      .fit(withVec)
    val assigned = model.transform(withVec).drop("__vec")
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }
    IvfIndex(assigned, centroids)
  }

  /** Guard shared by [[fixedTopK]] / [[semanticDedup]]: a centroid id
    * absent from the corpus would silently drop out of the
    * centroid-lookup join and SHIFT every later cell's number relative to
    * the oracle's row_number-over-present-rows. The K-sized isin
    * predicate pushes to the parquet scan (row-group pruning), so this is
    * a pruned probe, not a second full corpus pass. */
  private def requireCentroidsResolve(
      c0: DataFrame, centroidIds: Seq[Long]): Unit = {
    val resolved =
      c0.filter(col("vec_id").isInCollection(centroidIds)).count()
    require(
      resolved == centroidIds.size,
      s"IVF: ${centroidIds.size - resolved} of ${centroidIds.size} " +
        "centroid ids are missing from the corpus; cell numbering " +
        "would diverge from the oracle")
  }

  /** Fully-declarative IVF-Flat with FIXED centroids: `centroidIds` names
    * corpus vectors that serve as cell centroids (cells numbered by
    * centroid id order). Assignment, probing and scoring are all plain
    * DataFrame plans over broadcast centroid tables — no MLlib, no
    * driver-side collect — so the whole search is oracle-checkable in any
    * SQL engine (the k-means [[build]] path is seed-dependent and is not).
    * Deterministic: L2 distances come from the same sequential-fold dot
    * products both engines use; ties break on cell / vec id.
    *
    * Scale shape: |corpus|×K assignment rows against a broadcast K-row
    * centroid table (the standard IVF assign cost), then candidates are
    * only the probed cells' members — ~ nProbe/K of brute force. */
  def fixedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      centroidIds: Seq[Long],
      nProbe: Int,
      k: Int,
      // False for cross-space retrieval (text queries over an image
      // index): the id spaces are different modalities, so a numeric
      // id collision is not a self-match and the query's own paired
      // item is a legitimate hit.
      excludeSelf: Boolean = true
  ): DataFrame = {
    val (cent, asg) = fixedIndexArtifacts(corpus, centroidIds)
    fixedSearch(cent, asg, queries, nProbe, k, excludeSelf)
  }

  /** Deploy-time IVF-Flat serving artifacts for a fixed-centroid index:
    * the K-row (cell, cemb) centroid table and the (vec_id, emb, cell,
    * nrm) corpus assignment — what a serving tier stores ONCE and every
    * query batch probes ([[fixedSearch]] is the per-batch pass; the
    * streaming serving face checkpoints these and runs the search per
    * micro-batch). */
  def fixedIndexArtifacts(
      corpus: DataFrame,
      centroidIds: Seq[Long]
  ): (DataFrame, DataFrame) = {
    val dot = Similarity.dotSql _
    val c0 = corpus.select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    // Cell numbering = rank of the centroid id in sorted order — known on
    // the driver from the (K-sized) id list itself; a broadcast lookup
    // replaces the global row_number window (same mapping, no
    // single-partition WindowExec).
    val cellOf = centroidIds.sorted.zipWithIndex
      .map { case (cid, i) => (cid, i.toLong) }
    val cellDf = {
      val sp = corpus.sparkSession
      import sp.implicits._
      cellOf.toDF("vec_id", "cell")
    }
    val cent = c0
      .join(broadcast(cellDf), Seq("vec_id"))
      .select(col("cell"), col("emb").as("cemb"))
    requireCentroidsResolve(c0, centroidIds)
    val asg = nearestCellsIn(cent, c0, "vec_id", "emb", 1)
      .withColumn("nrm", expr(s"sqrt(${dot("emb", "emb")})"))
    (cent, asg)
  }

  // L2 distance as |a|^2 - 2ab + |c|^2 from the shared fold-dot-product.
  private def nearestCellsIn(
      cent: DataFrame, src: DataFrame,
      idAs: String, embAs: String, keep: Int): DataFrame = {
    val dot = Similarity.dotSql _
    src
      .crossJoin(broadcast(cent))
      .withColumn(
        "dist",
        expr(s"${dot("emb", "emb")} - 2 * ${dot("emb", "cemb")} + ${dot("cemb", "cemb")}"))
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy("vec_id").orderBy(col("dist").asc, col("cell").asc)))
      .filter(col("rn") <= keep)
      .select(col("vec_id").as(idAs), col("emb").as(embAs), col("cell"))
  }

  /** The query-side pass over prebuilt [[fixedIndexArtifacts]]: probe
    * each query's nProbe nearest cells, score only the probed inverted
    * lists, rank top-k. Per-batch work is |Q|×K probing + the probed
    * fraction of the index — independent of how (or when) the index was
    * built, which is what makes it the streaming serving face's
    * per-micro-batch body. */
  def fixedSearch(
      cent: DataFrame,
      asg: DataFrame,
      queries: DataFrame,
      nProbe: Int,
      k: Int,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val dot = Similarity.dotSql _
    val probes = nearestCellsIn(
      cent,
      queries.select(
        col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb")),
      "q_vec_id", "q_emb", nProbe)
      .withColumn("q_nrm", expr(s"sqrt(${dot("q_emb", "q_emb")})"))
    val joined = asg.join(broadcast(probes), Seq("cell"))
    val scored =
      (if (excludeSelf) joined.filter(col("vec_id") =!= col("q_vec_id"))
       else joined)
        .withColumn(
          "score",
          round(expr(Similarity.dotSql("emb", "q_emb")) / (col("nrm") * col("q_nrm")), 6))
    Similarity.rankTopK(scored, k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): assign every embedding to its nearest coarse
    * cluster, then compare pairs ONLY within a cluster — the n² work is
    * Σ cell² instead of corpus², which is what makes embedding-level dedup
    * tractable on a 100 TB corpus (the paper runs it on LAION at k=50000).
    * Keep-lowest-id policy: the returned frame is the DROP list — every
    * vector with at least one lower-id cluster-mate at cosine ≥ threshold,
    * with its cell, duplicate count and best score.
    *
    * Fixed deterministic centroids (same contract as [[fixedTopK]]) keep
    * the whole plan oracle-checkable; swapping in [[build]]'s k-means
    * centroids changes nothing structural. The assignment frame feeds BOTH
    * sides of the self-join, so it is materialized once via eager
    * `localCheckpoint` (round-2 lesson: ReuseExchange is not guaranteed,
    * and the K-way crossJoin + window subtree is the dominant cost). */
  def semanticDedup(
      corpus: DataFrame,
      centroidIds: Seq[Long],
      threshold: Double
  ): DataFrame = {
    val dot = Similarity.dotSql _
    val c0 = corpus.select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    // Cell numbering = rank of the centroid id in sorted order — known on
    // the driver from the (K-sized) id list itself; a broadcast lookup
    // replaces the global row_number window (same mapping, no
    // single-partition WindowExec).
    val cellOf = centroidIds.sorted.zipWithIndex
      .map { case (cid, i) => (cid, i.toLong) }
    val cellDf = {
      val sp = corpus.sparkSession
      import sp.implicits._
      cellOf.toDF("vec_id", "cell")
    }
    val cent = c0
      .join(broadcast(cellDf), Seq("vec_id"))
      .select(col("cell"), col("emb").as("cemb"))
    requireCentroidsResolve(c0, centroidIds)
    val asg = c0
      .crossJoin(broadcast(cent))
      .withColumn(
        "dist",
        expr(s"${dot("emb", "emb")} - 2 * ${dot("emb", "cemb")} + ${dot("cemb", "cemb")}"))
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy("vec_id").orderBy(col("dist").asc, col("cell").asc)))
      .filter(col("rn") === 1)
      .withColumn("nrm", expr(s"sqrt(${dot("emb", "emb")})"))
      .select("vec_id", "emb", "nrm", "cell")
      .localCheckpoint(true)
    val a = asg.select(col("vec_id").as("id_a"), col("emb").as("emb_a"),
      col("nrm").as("nrm_a"), col("cell"))
    val b = asg.select(col("vec_id").as("id_b"), col("emb").as("emb_b"),
      col("nrm").as("nrm_b"), col("cell"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn(
        "score",
        round(expr(dot("emb_a", "emb_b")) / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("score") >= threshold)
      .groupBy(col("id_b"), col("cell"))
      .agg(count(lit(1)).as("n_dups"), max(col("score")).as("max_score"))
      .select(col("id_b").as("vec_id"), col("cell"), col("n_dups"), col("max_score"))
  }

  /** Incremental SemDeDup — the continuous-ingest companion of
    * [[semanticDedup]], mirroring
    * [[graft.dedup.Dedup.minhashIncremental]]'s batch×corpus discipline:
    * a NEW batch of embeddings is compared against the existing corpus
    * ONLY — never batch×batch, never corpus×corpus — inside shared
    * coarse cells from the same fixed centroids (which live on the
    * CORPUS side; a real pipeline trains them once and stores the
    * corpus's cell assignment at ingest, so only the batch assignment
    * is fresh work per delivery). The corpus is canonical, so there is
    * no lowest-id keep policy here: ANY corpus cluster-mate at cosine ≥
    * threshold drops the newcomer. Returns the batch drop list
    * (vec_id, cell, n_dups, max_score).
    *
    * Scale shape: batch assignment is |batch|×K against the broadcast
    * centroid table; the pair join is cell-keyed batch×corpus — Σ per
    * cell |batch∩cell|·|corpus∩cell|, the incremental slice of
    * SemDeDup's Σ cell². Correct even if the two id spaces overlap (two
    * separate assignment frames, no union). IvfIncrementalSpec pins the
    * batch×corpus-only pair generation behaviorally. */
  def semanticDedupIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      centroidIds: Seq[Long],
      threshold: Double
  ): DataFrame = {
    val dot = Similarity.dotSql _
    def prep(df: DataFrame) = df.select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val c0 = prep(corpus)
    val cellOf = centroidIds.sorted.zipWithIndex
      .map { case (cid, i) => (cid, i.toLong) }
    val cellDf = {
      val sp = corpus.sparkSession
      import sp.implicits._
      cellOf.toDF("vec_id", "cell")
    }
    val cent = c0
      .join(broadcast(cellDf), Seq("vec_id"))
      .select(col("cell"), col("emb").as("cemb"))
    requireCentroidsResolve(c0, centroidIds)
    def assign(src: DataFrame) = src
      .crossJoin(broadcast(cent))
      .withColumn(
        "dist",
        expr(s"${dot("emb", "emb")} - 2 * ${dot("emb", "cemb")} + ${dot("cemb", "cemb")}"))
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy("vec_id").orderBy(col("dist").asc, col("cell").asc)))
      .filter(col("rn") === 1)
      .withColumn("nrm", expr(s"sqrt(${dot("emb", "emb")})"))
      .select("vec_id", "emb", "nrm", "cell")
    // Each assignment feeds exactly ONE side of one join — no shared
    // subtree, so (unlike semanticDedup's self-join) no checkpoint.
    val b = assign(prep(batch)).select(
      col("vec_id").as("id_b"), col("emb").as("emb_b"),
      col("nrm").as("nrm_b"), col("cell"))
    val c = assign(c0).select(
      col("vec_id").as("id_c"), col("emb").as("emb_c"),
      col("nrm").as("nrm_c"), col("cell"))
    b.join(c, Seq("cell"))
      .withColumn(
        "score",
        round(expr(dot("emb_b", "emb_c")) / (col("nrm_b") * col("nrm_c")), 6))
      .filter(col("score") >= threshold)
      .groupBy(col("id_b"), col("cell"))
      .agg(count(lit(1)).as("n_dups"), max(col("score")).as("max_score"))
      .select(col("id_b").as("vec_id"), col("cell"), col("n_dups"), col("max_score"))
  }

  /** Map-side single-cell assignment of `src` embeddings against a
    * frozen (cell, cemb) centroid table: argmin over the broadcast
    * K-row centroid ARRAY inside one `array_min` lambda — per-vector
    * map work, no |rows|×K row expansion, no window — with the same
    * three-term double L2 and (dist, cell) tie-break every face of the
    * fixed-centroid family uses, so the result is row-for-row equal to
    * [[semanticDedup]]'s window-ranked assignment (SemanticCommitSpec
    * pins it). This is the per-arrival body of the semantic commit. */
  def assignCells(
      src: DataFrame, cent: DataFrame,
      // Corpus-sized callers keep the guarded core-count spread; the
      // per-delivery fold ([[commitCellAssignments]]) passes false — a
      // batch of arrivals gains nothing from a fan-out and pays an
      // exchange per delivery (the round-16 spread=false fold
      // discipline; this call site was missed then and PlanSpec's
      // no-vec_id-shuffle fold pin caught it).
      spread: Boolean = true): DataFrame = {
    val centArr = cent.agg(
      collect_list(struct(col("cell"), col("cemb"))).as("cents"))
    prepDouble(src, spread = spread)
      .crossJoin(broadcast(centArr))
      .withColumn("cell", expr(s"array_min(${cellStructsDblSql("emb")}).cell"))
      .select(col("vec_id"), col("cell"))
  }

  /** COMMIT face of the SEMANTIC family's stored artifact — the corpus
    * cell-assignment table the incremental gate reads
    * ([[semanticDedupIncremental]]'s scaladoc names it: "a real
    * pipeline trains centroids once and stores the corpus's cell
    * assignment at ingest, so only the batch assignment is fresh work
    * per delivery"). Arrivals assign against the FROZEN centroid table
    * ([[assignCells]] — per-vector map work, no training, no corpus
    * scan) and fold into the stored (vec_id, cell) table as a bare
    * union — EXACT, because ids are disjoint (a loud `require`,
    * batch-sized semi-join) and frozen-centroid assignment is
    * per-vector deterministic, so committed == rebuilt-from-scratch on
    * corpus ∪ accepted by construction and the fold is
    * batching-invariant (SemanticCommitSpec pins both; the q_semantic_commit
    * oracle REBUILDS from scratch, so the law is hash-checked
    * cross-engine). RETRAINING the centroids is the separate decision;
    * [[cellDrift]] / the q_ann_recall monitor are its triggers — the
    * same split as [[commitPqCodes]]' codebooks. */
  def commitCellAssignments(
      stored: DataFrame,
      cent: DataFrame,
      arrivals: DataFrame
  ): DataFrame = {
    val clashes = arrivals.select("vec_id").distinct()
      .join(stored.select("vec_id"), Seq("vec_id"), "left_semi")
      .count()
    require(clashes == 0L,
      s"commitCellAssignments: $clashes arrival vec_id(s) already exist " +
        "in the stored assignment — ids must be disjoint (re-key the " +
        "batch before committing)")
    stored.select("vec_id", "cell")
      .unionByName(assignCells(arrivals, cent, spread = false))
  }

  /** RETRACTION of the semantic cell-assignment table — the takedown
    * inverse of [[commitCellAssignments]]. The stored table is purely
    * id-keyed (one (vec_id, cell) row per vector; no content-keyed set,
    * no sidecar), so the vec_id anti-join IS the exact retraction:
    * retracted == rebuilt-from-scratch on corpus \ deleted under the
    * same frozen centroids, because assignment is per-vector
    * deterministic — one vector's row never depends on another's
    * presence. Centroids keep their trained state (retrain decision,
    * as everywhere). SemanticCommitSpec pins the rebuild law and
    * retract ∘ commit == identity. */
  def retractCellAssignments(
      stored: DataFrame,
      deleteIds: DataFrame
  ): DataFrame =
    stored.join(deleteIds.select("vec_id").distinct(), Seq("vec_id"),
      "left_anti")

  /** The incremental SemDeDup gate driven by the COMMITTED artifacts —
    * the deployment's per-delivery cost model, mirroring
    * [[graft.dedup.Dedup.minhashIncrementalFromArtifacts]]: the corpus
    * side joins its STORED cell assignment by vec_id (an id-keyed join;
    * the |corpus|×K assignment pass is never re-paid), only the batch
    * assigns fresh against the frozen centroid table. Row-for-row equal
    * to [[semanticDedupIncremental]] on the same split
    * (SemanticCommitSpec pins it), because the stored assignment is the
    * same deterministic argmin the recompute would produce. */
  def semanticIncrementalFromArtifacts(
      corpus: DataFrame,
      storedAsg: DataFrame,
      batch: DataFrame,
      cent: DataFrame,
      threshold: Double
  ): DataFrame = {
    val dot = Similarity.dotSql _
    val centArr = cent.agg(
      collect_list(struct(col("cell"), col("cemb"))).as("cents"))
    val c = prepDouble(corpus)
      .join(storedAsg.select("vec_id", "cell"), Seq("vec_id"))
      .withColumn("nrm", expr(s"sqrt(${dot("emb", "emb")})"))
      .select(col("vec_id").as("id_c"), col("emb").as("emb_c"),
        col("nrm").as("nrm_c"), col("cell"))
    val b = prepDouble(batch, spread = false)
      .crossJoin(broadcast(centArr))
      .withColumn("cell", expr(s"array_min(${cellStructsDblSql("emb")}).cell"))
      .withColumn("nrm", expr(s"sqrt(${dot("emb", "emb")})"))
      .select(col("vec_id").as("id_b"), col("emb").as("emb_b"),
        col("nrm").as("nrm_b"), col("cell"))
    b.join(c, Seq("cell"))
      .withColumn(
        "score",
        round(expr(dot("emb_b", "emb_c")) / (col("nrm_b") * col("nrm_c")), 6))
      .filter(col("score") >= threshold)
      .groupBy(col("id_b"), col("cell"))
      .agg(count(lit(1)).as("n_dups"), max(col("score")).as("max_score"))
      .select(col("id_b").as("vec_id"), col("cell"), col("n_dups"), col("max_score"))
  }

  /** Directed IVF-blocked kNN edges over the whole corpus — every
    * vector is a query over the index it lives in: each probes its
    * `nProbe` nearest cells (map-side array-sort over the broadcast
    * K-row centroid array, the family's uniform probe shape), candidates
    * come from a CELL-KEYED join of the probe frame against the
    * single-cell assignment — both sides corpus-sized, so the join
    * SHUFFLES on cell rather than broadcasting (this is the one member
    * of the fixed-centroid family whose query side IS the corpus;
    * [[fixedSearch]]'s broadcast-probes shape would ship the corpus to
    * every executor) — and each vector keeps its k best by the shared
    * bounded-heap rank. Pair work is Σ_cell |corpus∩cell|·nProbe-probed
    * neighbors, the SemDeDup Σ cell² discipline, never corpus².
    * Output: (q_vec_id, rnk, vec_id, score). */
  /** The nProbe-cell probe frame of a prepped (vec_id, emb) source —
    * map-side array-sort over the broadcast centroid array; one row per
    * probed cell: (q_vec_id, q_emb, q_nrm, cell). */
  private[similarity] def knnProbeFrame(
      src: DataFrame, centArr: DataFrame, nProbe: Int): DataFrame = {
    val dot = Similarity.dotSql _
    src
      .crossJoin(broadcast(centArr))
      .withColumn("q_nrm", expr(s"sqrt(${dot("emb", "emb")})"))
      .select(
        col("vec_id").as("q_vec_id"), col("emb").as("q_emb"), col("q_nrm"),
        explode(expr(
          s"transform(slice(array_sort(${cellStructsDblSql("emb")}), 1, $nProbe), p -> p.cell)"))
          .as("cell"))
  }

  /** The single-cell candidate frame of a prepped source: (vec_id, emb,
    * nrm, cell) under the map-side argmin. */
  private[similarity] def knnAsgFrame(src: DataFrame, centArr: DataFrame): DataFrame = {
    val dot = Similarity.dotSql _
    src
      .crossJoin(broadcast(centArr))
      .withColumn("nrm", expr(s"sqrt(${dot("emb", "emb")})"))
      .withColumn("cell", expr(s"array_min(${cellStructsDblSql("emb")}).cell"))
      .select(col("vec_id"), col("emb"), col("nrm"), col("cell"))
  }

  /** Cell-keyed score + per-query bounded-heap rank shared by the batch
    * and incremental graph builds. */
  private[similarity] def knnEdgesCore(
      probes: DataFrame, asg: DataFrame, k: Int): DataFrame = {
    val dot = Similarity.dotSql _
    val scored = asg.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("q_vec_id"))
      .withColumn(
        "score",
        round(expr(dot("emb", "q_emb")) / (col("nrm") * col("q_nrm")), 6))
    Similarity.rankTopK(scored, k)
  }

  def knnEdges(
      corpus: DataFrame,
      centroidIds: Seq[Long],
      nProbe: Int,
      k: Int
  ): DataFrame = {
    require(nProbe >= 1, s"need nProbe >= 1, got $nProbe")
    val cent = fixedCentroidsDouble(corpus, centroidIds)
    val centArr = cent.agg(
      collect_list(struct(col("cell"), col("cemb"))).as("cents"))
    val c0 = prepDouble(corpus)
    knnEdgesCore(knnProbeFrame(c0, centArr, nProbe),
      knnAsgFrame(c0, centArr), k)
  }

  /** MUTUAL kNN graph — the edge set graph-based corpus organization
    * (SemDeDup-style cluster pruning, diversity selection, stratified
    * curation) builds on: an undirected edge (a, b) exists iff a is in
    * b's top-k AND b is in a's top-k. The mutuality filter is the
    * standard symmetric sparsifier — a hub vector that merely APPEARS
    * in everyone's list does not fuse unrelated regions, because its
    * own k slots cap its degree at k. One semi-join of the directed
    * edge set against its own reversal (edge-volume-sized, ≤ |corpus|·k
    * rows); the cosine score is exactly symmetric (the fold-dot and the
    * nrm product commute), so either direction's score is THE edge
    * score. Output: (id_a, id_b, score) with id_a < id_b. */
  def mutualKnnEdges(
      corpus: DataFrame,
      centroidIds: Seq[Long],
      nProbe: Int,
      k: Int
  ): DataFrame =
    mutualize(knnEdges(corpus, centroidIds, nProbe, k))

  /** Directed top-k edges → the undirected mutual graph (id_a < id_b). */
  private[similarity] def mutualize(edges: DataFrame): DataFrame = {
    val e = edges
      .select(col("q_vec_id").as("src"), col("vec_id").as("dst"), col("score"))
      .localCheckpoint(true)
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    e.filter(col("src") < col("dst"))
      .join(rev, Seq("src", "dst"), "left_semi")
      .select(col("src").as("id_a"), col("dst").as("id_b"), col("score"))
  }

  /** INCREMENTAL mutual-kNN graph maintenance — fold a delivery into
    * the STORED graph artifacts without re-scoring the corpus: a
    * corpus vector's top-k can change ONLY if an arrival lands in one
    * of its probed cells (its candidate pool is exactly those cells'
    * members, and arrivals only ADD candidates), so the delivery
    * re-ranks just (a) the arrivals themselves and (b) the stored
    * probe rows that hit an arrival cell — per-delivery work is the
    * affected cells' populations, never the corpus. Unaffected
    * queries' stored directed edges are kept verbatim; the mutual
    * filter then runs over the folded directed set (mutuality can pair
    * an affected query with an unaffected one, so it cannot be folded
    * per-slice). Frozen-centroid assignment is per-vector
    * deterministic, so folded == rebuilt-from-scratch on corpus ∪
    * batch exactly — the q_knn_graph_inc oracle IS the from-scratch
    * oracle, and IncKnnSpec pins the Spark-side law plus the
    * affected-set bound.
    *
    * The stored artifacts (probe table, single-cell assignment,
    * directed edge set) are the graph's deploy-time index — the same
    * trio a production ANN-graph service persists. */
  /** The stored graph index [[mutualKnnFold]] maintains: the broadcast
    * centroid array, the corpus probe table, the single-cell candidate
    * assignment, and the directed top-k edge set — all checkpointed, the
    * deploy-time trio-plus-one a production ANN-graph service persists. */
  case class KnnIndex(
      centArr: DataFrame,
      probes: DataFrame,
      asg: DataFrame,
      edges: DataFrame,
      nProbe: Int,
      k: Int)

  /** Deploy-time build of the stored kNN-graph artifacts. */
  def knnIndexArtifacts(
      corpus: DataFrame,
      centroidIds: Seq[Long],
      nProbe: Int,
      k: Int
  ): KnnIndex = {
    require(nProbe >= 1, s"need nProbe >= 1, got $nProbe")
    val cent = fixedCentroidsDouble(corpus, centroidIds)
    val centArr = cent.agg(
      collect_list(struct(col("cell"), col("cemb"))).as("cents"))
      .localCheckpoint(true)
    val c0 = prepDouble(corpus)
    val probes = knnProbeFrame(c0, centArr, nProbe).localCheckpoint(true)
    val asg = knnAsgFrame(c0, centArr).localCheckpoint(true)
    val edges = knnEdgesCore(probes, asg, k).localCheckpoint(true)
    KnnIndex(centArr, probes, asg, edges, nProbe, k)
  }

  /** The per-delivery fold over stored [[KnnIndex]] artifacts,
    * returning the UPDATED index (probe table, assignment and directed
    * edges each gain their batch-sized delta, checkpointed) so folds
    * CHAIN: after folding b₁ the index is exactly the from-scratch
    * index of corpus ∪ b₁, so folding b₂ next preserves the law by
    * induction — the streaming face's correctness argument, pinned in
    * KnnGraphSpec's three-delivery chain test. Re-ranks only the
    * arrivals and the stored probe rows that hit an arrival cell;
    * everything else is kept verbatim by id anti-join. */
  def knnIndexFold(index: KnnIndex, batch: DataFrame): KnnIndex = {
    val b0 = prepDouble(batch, spread = false)
    val batchProbes =
      knnProbeFrame(b0, index.centArr, index.nProbe).localCheckpoint(true)
    val batchAsg = knnAsgFrame(b0, index.centArr).localCheckpoint(true)
    val batchCells = batchAsg.select("cell").distinct()
    val affectedIds = index.probes
      .join(broadcast(batchCells), Seq("cell"), "left_semi")
      .select("q_vec_id").distinct()
    val recomputed = knnEdgesCore(
      index.probes.join(affectedIds, Seq("q_vec_id"), "left_semi")
        .unionByName(batchProbes),
      index.asg.unionByName(batchAsg),
      index.k)
    val kept = index.edges.join(affectedIds, Seq("q_vec_id"), "left_anti")
    KnnIndex(
      index.centArr,
      index.probes.unionByName(batchProbes).localCheckpoint(true),
      index.asg.unionByName(batchAsg).localCheckpoint(true),
      kept.unionByName(recomputed).localCheckpoint(true),
      index.nProbe,
      index.k)
  }

  /** The mutual graph a stored [[KnnIndex]] currently encodes. */
  def mutualGraph(index: KnnIndex): DataFrame = mutualize(index.edges)

  /** RETRACTION of the kNN-graph index — the takedown inverse of
    * [[knnIndexFold]]: deletion only REMOVES candidates, so a surviving
    * query's top-k changes iff a deleted vector sits IN its stored
    * top-k — the affected set is read straight off the stored EDGE
    * table (an id-keyed semi-join; nothing geometric recomputes), those
    * queries re-rank against the surviving assignment, and everything
    * else is kept verbatim. retract ∘ fold == identity on the fold's
    * own batch (an affected query re-ranks against exactly its
    * pre-fold candidate pool), and retracted == rebuilt-from-scratch
    * on corpus \ deleted — both pinned in KnnGraphSpec; the
    * q_knn_retract oracle rebuilds from scratch, so the law is
    * hash-checked cross-engine. Centroids persist: like every frozen
    * quantizer here, refreshing them is the retrain decision. */
  def knnIndexRetract(index: KnnIndex, deleteIds: DataFrame): KnnIndex = {
    val del = deleteIds.select("vec_id").distinct().localCheckpoint(true)
    val delQ = del.select(col("vec_id").as("q_vec_id"))
    val probes = index.probes.join(delQ, Seq("q_vec_id"), "left_anti")
      .localCheckpoint(true)
    val asg = index.asg.join(del, Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    val survivors = index.edges.join(delQ, Seq("q_vec_id"), "left_anti")
    val affectedIds = survivors.join(del, Seq("vec_id"), "left_semi")
      .select("q_vec_id").distinct()
    val recomputed = knnEdgesCore(
      probes.join(affectedIds, Seq("q_vec_id"), "left_semi"), asg, index.k)
    val kept = survivors.join(affectedIds, Seq("q_vec_id"), "left_anti")
    KnnIndex(index.centArr, probes, asg,
      kept.unionByName(recomputed).localCheckpoint(true),
      index.nProbe, index.k)
  }

  /** One-delivery convenience: fold, then re-mutualize. */
  def mutualKnnFold(index: KnnIndex, batch: DataFrame): DataFrame =
    mutualGraph(knnIndexFold(index, batch))

  def mutualKnnIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      centroidIds: Seq[Long],
      nProbe: Int,
      k: Int
  ): DataFrame =
    mutualKnnFold(knnIndexArtifacts(corpus, centroidIds, nProbe, k), batch)

  /** SEMANTIC decontamination — the embedding face of
    * [[graft.dedup.Dedup.contamination]]: shingle overlap catches
    * VERBATIM eval leakage, but a paraphrased benchmark item shares no
    * n-grams with its leaked twin while sitting at high embedding
    * cosine. Flag every corpus document whose cosine against ANY holdout
    * document reaches `threshold`, restricting the pair space to shared
    * coarse cells ([[semanticDedup]]'s cell-blocked discipline): the
    * corpus side probes its `nProbe` nearest cells (a probed corpus doc
    * can reach a holdout doc assigned just across a cell boundary), the
    * holdout side takes its single nearest cell. Returns the corpus
    * drop list (vec_id, n_holdout_hits, max_score); each (corpus,
    * holdout) pair arises at most once because the holdout doc owns
    * exactly one cell. No same-id exclusion: the two sides are distinct
    * datasets, so equal ids are distinct documents and must still be
    * compared.
    *
    * With `nProbe` = K every corpus doc probes every cell, so the pair
    * space is exactly corpus × holdout — equality with the brute-force
    * broadcast join is spec-pinned (IvfSpec), the same candidate-
    * superset trick the rest of the family uses.
    *
    * Scale shape: cell selection on BOTH sides is map-side (argmin /
    * array-sort over the broadcast K-row centroid array — no |rows|×K
    * expansion, no window); the holdout side is eval-suite sized (MBs
    * against the corpus's TBs — same asymmetry as shingle
    * decontamination), so its assigned frame broadcasts into the cell
    * join and the corpus is read exactly once. */
  /** Double-prepped (vec_id, emb) view of an embeddings frame. */
  /** (vec_id, double emb) projection of an embeddings frame, spread to
    * the session's core count when the source is narrower (round-16,
    * guide §2.5 — the fixture embeddings table is one parquet row
    * group, so every scan is ONE partition and the per-vector dot
    * products against K centroids that every IVF/kNN/PQ face computes
    * ran on one core of 32). Same guard discipline as
    * [[graft.dedup.Dedup.spreadNarrow]]: deterministic vec_id key, no-op
    * for already-parallel inputs and for streaming frames; batch-sized
    * store folds pass spread=false — fanning a delivery of a few
    * hundred vectors out is pure exchange overhead. */
  private[graft] def prepDouble(
      df: DataFrame, spread: Boolean = true): DataFrame = {
    val sel = df.select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    if (!spread || sel.isStreaming) sel
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      if (graft.dedup.Dedup.inputWidth(sel).exists(_ < p))
        sel.repartition(p, col("vec_id"))
      else sel
    }
  }

  /** Frozen (cell, cemb) centroid table for FIXED centroid ids resolved
    * against the corpus (cells numbered by sorted id — the contract of
    * the whole fixed-centroid family). This is the deploy-time artifact
    * the streaming faces ship: train/choose once on the corpus, hand
    * the K-row table to every downstream consumer. */
  def fixedCentroidsDouble(
      corpus: DataFrame, centroidIds: Seq[Long]): DataFrame = {
    val c0 = prepDouble(corpus)
    val cellOf = centroidIds.sorted.zipWithIndex
      .map { case (cid, i) => (cid, i.toLong) }
    val cellDf = {
      val sp = corpus.sparkSession
      import sp.implicits._
      cellOf.toDF("vec_id", "cell")
    }
    requireCentroidsResolve(c0, centroidIds)
    c0.join(broadcast(cellDf), Seq("vec_id"))
      .select(col("cell"), col("emb").as("cemb"))
  }

  /** The map-side (dist, cell) struct array over a broadcast `cents`
    * column in DOUBLE arithmetic — the same three-term L2 the double
    * family's oracles use (|a|² − 2ab + |c|² from the sequential fold
    * dot), evaluated INSIDE the lambda per centroid; the double twin of
    * [[NearestCellSql]]. Shared by [[semanticContamination]] and the
    * streaming decontamination gate so the two faces can never drift. */
  private[graft] def cellStructsDblSql(embCol: String): String = {
    val dot = Similarity.dotSql _
    val distSql =
      s"${dot(embCol, embCol)} - 2 * ${dot(embCol, "c.cemb")} + ${dot("c.cemb", "c.cemb")}"
    s"transform(cents, c -> struct(($distSql) AS dist, c.cell AS cell))"
  }

  def semanticContamination(
      corpus: DataFrame,
      holdout: DataFrame,
      centroidIds: Seq[Long],
      threshold: Double,
      nProbe: Int
  ): DataFrame = {
    require(nProbe >= 1, s"need nProbe >= 1, got $nProbe")
    val dot = Similarity.dotSql _
    val c0 = prepDouble(corpus)
    val h0 = prepDouble(holdout)
    val cent = fixedCentroidsDouble(corpus, centroidIds)
    val centArr = cent.agg(
      collect_list(struct(col("cell"), col("cemb"))).as("cents"))
    val structsSql = cellStructsDblSql("emb")
    val probes = c0
      .crossJoin(broadcast(centArr))
      .withColumn("nrm", expr(s"sqrt(${dot("emb", "emb")})"))
      .select(
        col("vec_id"), col("emb"), col("nrm"),
        explode(expr(
          s"transform(slice(array_sort($structsSql), 1, $nProbe), p -> p.cell)"))
          .as("cell"))
    val hAsg = h0
      .crossJoin(broadcast(centArr))
      .withColumn("nrm", expr(s"sqrt(${dot("emb", "emb")})"))
      .select(
        col("vec_id").as("h_vec_id"), col("emb").as("h_emb"),
        col("nrm").as("h_nrm"),
        expr(s"array_min($structsSql).cell").as("cell"))
    probes.join(broadcast(hAsg), Seq("cell"))
      .withColumn(
        "score",
        round(expr(dot("emb", "h_emb")) / (col("nrm") * col("h_nrm")), 6))
      .filter(col("score") >= threshold)
      .groupBy("vec_id")
      .agg(
        count(lit(1)).as("n_holdout_hits"),
        max(col("score")).as("max_score"))
  }

  /** [[semanticContamination]]'s holdout-side single-cell assignment,
    * exposed for the streaming gate's deploy-time collect: (h_vec_id,
    * cell, h_emb, h_nrm) against the frozen centroid table. */
  def holdoutAssignments(
      holdout: DataFrame, cent: DataFrame): DataFrame = {
    val dot = Similarity.dotSql _
    val centArr = cent.agg(
      collect_list(struct(col("cell"), col("cemb"))).as("cents"))
    prepDouble(holdout)
      .crossJoin(broadcast(centArr))
      .withColumn("nrm", expr(s"sqrt(${dot("emb", "emb")})"))
      .withColumn("cell", expr(s"array_min(${cellStructsDblSql("emb")}).cell"))
      .select(
        col("vec_id").as("h_vec_id"), col("cell"), col("emb").as("h_emb"),
        col("nrm").as("h_nrm"))
  }

  /** TRAINED k-means coarse quantizer as a fully ORACLE-CHECKABLE plan:
    * Lloyd's iterations in exact 64-bit integer arithmetic. The MLlib
    * [[build]] path is seed-dependent (k-means|| init, float math) and
    * can never be hash-compared against another engine; this one can,
    * because every step is deterministic and exact:
    *
    *   - embeddings quantized to integer micros
    *     (`round(x*1e6)` — identical double in, identical long out in
    *     any IEEE engine; exact .5 ties are impossible since k+0.5
    *     micros is not a dyadic rational, so HALF_UP-vs-HALF_EVEN can
    *     never disagree);
    *   - L2² distances are integer sums (max |q|≈2e6 → diff² ≈ 4e12 ×
    *     dims ≪ 2^63), ties break to the lowest cell;
    *   - centroid update is the element-wise TRUNCATING integer mean
    *     (`sum div n` — DuckDB's `//` truncates identically, verified);
    *     a cell that loses every member keeps its previous centroid.
    *
    * Init = the quantized vectors of `centroidIds` (cells numbered by
    * sorted id), so the whole run is a pure function of the corpus.
    *
    * Scale shape per iteration: one |corpus|×K broadcast cross join for
    * assignment (the unavoidable Lloyd cost), one (cell, dim)-keyed
    * partial-aggregating shuffle for the update (K×dims rows out), and a
    * `localCheckpoint` on the K-row centroid table to cut lineage — the
    * corpus itself is checkpointed ONCE and re-scanned from shuffle-safe
    * storage every round. Iterations are a constant (coarse quantizers
    * converge in a handful of rounds; production IVF trains on a sample
    * anyway). */
  def lloydInt(
      corpus: DataFrame,
      centroidIds: Seq[Long],
      iters: Int
  ): DataFrame = {
    val (cent, asg) = lloydIntTrain(corpus, centroidIds, iters)
    val stats = asg.groupBy("cell")
      .agg(count(lit(1)).as("n_members"), sum(col("vec_id")).as("id_sum"))
    cent
      .join(stats, Seq("cell"), "left")
      .select(
        col("cell"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("id_sum"), lit(0L)).as("id_sum"),
        expr("aggregate(ce, CAST(0 AS BIGINT), (acc, v) -> acc + v)")
          .as("centroid_sum"))
      .orderBy("cell")
  }

  /** Integer-micros L2² between a `qe` vector column and a `ce` centroid
    * column — the exact distance both Lloyd's and the trained search
    * rank by. */
  private val IntDistSql =
    "aggregate(zip_with(qe, ce, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"

  /** Map-side nearest-cell assignment: argmin over a broadcast `cents`
    * array column of (cell, ce) structs, against the row's `qe` vector.
    * `array_min` on (dist, cell) structs makes struct ordering the
    * deterministic tie-break (lowest dist, then lowest cell) — the same
    * rule as `min(struct(dist, cell))` after a crossJoin, with NO
    * |rows|×K expansion and NO groupBy(vec_id) shuffle. */
  private[graft] val NearestCellSql =
    """array_min(transform(cents, c -> struct(
      |  aggregate(zip_with(qe, c.ce, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v) AS dist,
      |  c.cell AS cell))).cell""".stripMargin

  /** Map-side top-`nProbe` probe cells (ascending (dist, cell) — the
    * same order the window-rank form used): sort the K-element broadcast
    * centroid array per row, slice, project the cells. Replaces the
    * |anchors|×K crossJoin + `row_number` window — for corpus-sized
    * anchor sets that window was the dominant shuffle+sort of the whole
    * mining pass; this form emits |anchors|×nProbe rows with NO shuffle
    * at all. */
  private def probeCellsSql(nProbe: Int): String =
    s"""transform(slice(array_sort(transform(cents, c -> struct(
       |  aggregate(zip_with(qe, c.ce, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v) AS dist,
       |  c.cell AS cell))), 1, $nProbe), p -> p.cell)""".stripMargin

  /** The training loop of [[lloydInt]], exposed for composition: returns
    * (final centroid table `(cell, ce)` in integer micros, final
    * assignment `(vec_id, cell, qe)`). Both are localCheckpoint'ed K-row /
    * corpus-row frames safe to reuse on both sides of a downstream plan. */
  def lloydIntTrain(
      corpus: DataFrame,
      centroidIds: Seq[Long],
      iters: Int
  ): (DataFrame, DataFrame) = {
    require(iters >= 1, s"lloydInt needs at least one iteration, got $iters")
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = corpus.select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))")
        .as("qe"))
      .localCheckpoint(true)
    requireCentroidsResolve(q.select(col("vec_id")), centroidIds)
    val cellDf = centroidIds.sorted.zipWithIndex
      .map { case (cid, i) => (cid, i.toLong) }
      .toDF("vec_id", "cell")
    var cent = q
      .join(broadcast(cellDf), Seq("vec_id"))
      .select(col("cell"), col("qe").as("ce"))
      .localCheckpoint(true)
    val distSql = IntDistSql
    var asg: DataFrame = null
    for (_ <- 1 to iters) {
      // min(struct(dist, cell, qe)): cell is unique per vec, so the
      // struct order never reaches the array field — it just rides along
      // to avoid a second join back to q.
      asg = q.crossJoin(broadcast(cent))
        .withColumn("dist", expr(distSql))
        .groupBy("vec_id")
        .agg(min(struct(col("dist"), col("cell"), col("qe"))).as("m"))
        .select(
          col("vec_id"),
          col("m.cell").as("cell"),
          col("m.qe").as("qe"))
        .localCheckpoint(true)
      val updated = asg
        .select(col("cell"), posexplode(col("qe")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .groupBy("cell")
        .agg(sort_array(collect_list(struct(col("pos"), expr("s div n").as("v"))))
          .as("pv"))
        .select(col("cell"), expr("transform(pv, p -> p.v)").as("ce_new"))
      cent = cent
        .join(updated, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("ce_new"), col("ce")).as("ce"))
        .localCheckpoint(true)
    }
    (cent, asg)
  }

  /** End-to-end TRAINED IVF search — the composition a real user runs:
    * [[lloydIntTrain]]'s centroids feed cell assignment and probing, then
    * candidates score with the exact cosine. Every step is deterministic
    * (integer-micros distances for assignment/probing, the shared
    * fold-dot-product for scoring, ties to the lowest cell / vec id), so
    * the WHOLE pipeline — training included — is oracle-checkable, unlike
    * the seed-dependent MLlib [[build]]+[[searchTopK]] pair it mirrors.
    *
    * Scale shape: training's final assignment is REUSED as the corpus
    * cell map (no extra |corpus|×K pass — one equi-join back to the
    * double embeddings for scoring); queries rank the K-row broadcast
    * centroid table and probe `nProbe` cells, so scoring touches
    * ~nProbe/K of the corpus. */
  def trainedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      centroidIds: Seq[Long],
      iters: Int,
      nProbe: Int,
      k: Int
  ): DataFrame = {
    val dot = Similarity.dotSql _
    val (cent, asg) = lloydIntTrain(corpus, centroidIds, iters)
    val c = corpus.select(
        col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      .join(asg.select("vec_id", "cell"), Seq("vec_id"))
      .withColumn("nrm", expr(s"sqrt(${dot("emb", "emb")})"))
    val probes = queries.select(
        col("vec_id").as("q_vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("q_emb"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))")
          .as("qe"))
      .crossJoin(broadcast(cent))
      .withColumn("dist", expr(IntDistSql))
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy("q_vec_id")
            .orderBy(col("dist").asc, col("cell").asc)))
      .filter(col("rn") <= nProbe)
      .withColumn("q_nrm", expr(s"sqrt(${dot("q_emb", "q_emb")})"))
      .select("q_vec_id", "q_emb", "q_nrm", "cell")
    val scored = c
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_vec_id"))
      .withColumn(
        "score",
        round(expr(dot("emb", "q_emb")) / (col("nrm") * col("q_nrm")), 6))
    Similarity.rankTopK(scored, k)
  }

  /** Cosine top-k probing the query's nProbe nearest cells. The corpus is
    * filtered to probed cells BEFORE any scoring, so work is
    * ~ (nProbe / nLists) of brute force.
    *
    * Cell ranking is IN-PLAN (the K-row centroid table broadcasts under a
    * crossJoin + per-query window, the same shape [[trainedTopK]] uses) —
    * there is no driver-side collect of the query frame, so the probe
    * pass is |Q|×K against a broadcast K-row table, distributed. The
    * scoring join on `cell` carries no broadcast hint: for the intended
    * few-queries use the optimizer broadcasts the |Q|·nProbe probe frame
    * by its size statistics, and a larger query frame degrades to a
    * cell-keyed shuffle join instead of a forced oversized broadcast
    * (the |Q| = |C| mining regime has its own operator,
    * [[hardNegatives]]). */
  def searchTopK(
      spark: SparkSession,
      index: IvfIndex,
      queries: DataFrame,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    import spark.implicits._
    val dot = Similarity.dotSql _
    // K rows, driver-held by construction (MLlib cluster centers).
    val centDf = index.centroids.toSeq.toDF("cell", "cemb")
    // Cast to array<double> first so float- and double-typed embedding
    // columns both decode (build() is type-agnostic).
    val probes = queries
      .select(
        col("vec_id").cast("long").as("q_vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("q_emb"))
      .crossJoin(broadcast(centDf))
      // Direct Σ(q−c)² — the same left-to-right fold the pre-round-8
      // driver loop computed, NOT the cancellation-prone expanded
      // |q|²−2qc+|c|² (which near-ties could rank differently). This
      // entry point has no SQL oracle pinning the expanded form, so the
      // numerically faithful distance wins.
      .withColumn(
        "dist",
        expr("aggregate(zip_with(q_emb, cemb, (x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"))
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy("q_vec_id").orderBy(col("dist").asc, col("cell").asc)))
      .filter(col("rn") <= nProbe)
      .withColumn("q_nrm", expr(s"sqrt(${dot("q_emb", "q_emb")})"))
      .select("q_vec_id", "q_emb", "q_nrm", "cell")
    val c = index.assigned.select(
      col("vec_id"), col("cell"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      .withColumn("nrm", expr(s"sqrt(${dot("emb", "emb")})"))
    val scored = c
      .join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("q_vec_id"))
      .withColumn(
        "score",
        round(expr(dot("emb", "q_emb")) / (col("nrm") * col("q_nrm")), 6))
    // A vector can sit in several probed cells' result sets only once:
    // (q, vec) pairs are unique because cell is functional on vec.
    Similarity.rankTopK(scored, k)
  }

  /** Product-quantized (PQ) approximate nearest-neighbor search — the
    * compression step after int8 scalar quantization on the standard
    * billion-vector path (IVF-PQ, Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the vector splits into
    * `m` subspaces, each subspace trains its own K-code codebook, and a
    * vector is stored as m SMALL CODES (here m·⌈log₂K⌉ bits ≈ 12 bytes
    * for m=4·K=8 vs 256 bytes of float32 — the memory-bandwidth win that
    * makes 100 TB ANN scans feasible). Query scoring is ASYMMETRIC
    * (ADC): the query stays exact; per subspace a K-entry distance table
    * is computed once, and a corpus vector's distance is the sum of m
    * table lookups — no per-vector arithmetic beyond m adds.
    *
    * Everything is exact 64-bit integer arithmetic on micros-quantized
    * values ([[lloydIntTrain]] per subspace for the codebooks, integer
    * L2² for tables), so the WHOLE pipeline — training, encoding,
    * scoring — is oracle-checkable, like [[trainedTopK]].
    *
    * Scale shape: per-subspace training/encoding is the |corpus|×K
    * broadcast assignment ×m (standard PQ build cost); the search joins
    * the corpus' (vec, sub, code) rows — m NARROW rows per vector, the
    * embedding array itself never shuffles — against a broadcast
    * |Q|·m·K distance table, then partial-aggregating sum + bounded-heap
    * rank. Output: (q_vec_id, rnk, vec_id, adist) with adist the integer
    * ADC distance. */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      centroidIds: Seq[Long],
      dims: Int,
      m: Int,
      iters: Int,
      k: Int
  ): DataFrame =
    pqPlan(corpus, None, queries, centroidIds, dims, m, iters, k)

  /** INCREMENTAL PQ — the continuous-ingest flow ([[pqTopK]]'s companion,
    * mirroring the batch×corpus discipline of
    * [[semanticDedupIncremental]]): codebooks train on the CORPUS ONLY
    * and stay FROZEN; the arriving batch is encoded against them with
    * one |batch|×K broadcast assignment per subspace — the only fresh
    * work per delivery (a real pipeline stores the corpus codes at
    * ingest). The search then ranks over corpus ∪ batch codes. New
    * vectors can never shift existing codes or scores: with an empty
    * batch this is exactly [[pqTopK]] (PqIncrementalSpec pins both). */
  def pqTopKIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      queries: DataFrame,
      centroidIds: Seq[Long],
      dims: Int,
      m: Int,
      iters: Int,
      k: Int
  ): DataFrame =
    pqPlan(corpus, Some(batch), queries, centroidIds, dims, m, iters, k)

  /** Deploy-time PQ index artifacts: the FROZEN encode codebooks (the
    * quantizer the final training assignment ranked against — what any
    * frozen-codebook encode must reuse) and the corpus code postings
    * `(vec_id, sub, code)`. These are the two stored tables a 100-TB
    * ADC deployment serves from; [[commitPqCodes]] folds arrivals into
    * the postings under the frozen codebooks. The codebooks are a
    * checkpoint and the postings a projection of one: a caller done with
    * them frees them with `Ckpt.release` / `Ckpt.releaseInputs`. */
  def pqArtifacts(
      corpus: DataFrame,
      centroidIds: Seq[Long],
      dims: Int,
      m: Int,
      iters: Int
  ): (DataFrame, DataFrame) = {
    val (cent, centPrev, codes) = pqTrain(corpus, centroidIds, dims, m, iters)
    graft.Ckpt.release(cent) // the final codebooks encode nothing here
    (centPrev, codes)
  }

  /** SUBSPACE-SCOPED [[pqArtifacts]] — the partial-retrain face
    * ([[graft.similarity.PqStore.refreshSubspaces]]): codebooks train
    * and vectors encode for ONLY the subspaces in `subs`, at
    * |subs|/m of the full build's cost (the subspace explode prunes
    * every other slice before any training work reaches an executor).
    * The PQ subspace chains are INDEPENDENT by construction — each
    * trains on its own `dims/m`-wide slice, keyed by `sub` — so the
    * restricted run equals the full [[pqArtifacts]] filtered to
    * `subs`, row for row (PqStoreSpec pins it). Returns (codebooks,
    * codes) restricted to `subs`; seeding/numbering identical to the
    * full build. */
  private[graft] def pqArtifactsForSubs(
      corpus: DataFrame,
      centroidIds: Seq[Long],
      dims: Int,
      m: Int,
      iters: Int,
      subs: Seq[Int]
  ): (DataFrame, DataFrame) = {
    val (cent, centPrev, codes) =
      pqTrain(corpus, centroidIds, dims, m, iters, Some(subs))
    graft.Ckpt.release(cent)
    (centPrev, codes)
  }

  /** Frozen-codebook encode: a |vectors|×K broadcast assignment per
    * subspace — per-vector map work, no training, no corpus scan.
    * Extracted from [[pqPlan]]'s batch branch so the incremental search
    * and the commit face share one encode. */
  private[graft] def encodePq(
      vectors: DataFrame,
      codebooks: DataFrame,
      dims: Int,
      m: Int
  ): DataFrame = {
    val subDim = dims / m
    val subStructs = (0 until m)
      .map(s =>
        s"struct(CAST($s AS INT) AS sub, slice(qe, ${s * subDim + 1}, $subDim) AS qe)")
      .mkString(", ")
    val qb = vectors.select(
        col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))")
          .as("qe"))
      .select(col("vec_id"), expr(s"explode(array($subStructs))").as("sv"))
      .select(col("vec_id"), col("sv.sub").as("sub"), col("sv.qe").as("qe"))
    qb.join(broadcast(codebooks), Seq("sub"))
      .withColumn("dist", expr(IntDistSql))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("dist"), col("code"))).as("mn"))
      .select(col("vec_id"), col("sub"), col("mn.code").as("code"))
  }

  /** COMMIT face of the PQ index: arrivals encode against the FROZEN
    * codebooks (per-vector map work) and fold into the stored postings
    * as a bare union — EXACT, because ids are disjoint (a loud
    * `require`, batch-sized semi-join) and frozen-codebook encoding is
    * per-vector deterministic, so committed == rebuilt-from-scratch on
    * corpus ∪ accepted by construction and the fold is
    * batching-invariant (IndexCommitSpec pins both). RETRAINING the
    * codebooks is the separate, deliberate decision; [[cellDrift]] and
    * the q_ann_recall monitor are its triggers. */
  def commitPqCodes(
      corpusCodes: DataFrame,
      codebooks: DataFrame,
      arrivals: DataFrame,
      dims: Int,
      m: Int
  ): DataFrame = {
    val clashes = arrivals.select("vec_id").distinct()
      .join(corpusCodes.select("vec_id"), Seq("vec_id"), "left_semi")
      .count()
    require(clashes == 0L,
      s"commitPqCodes: $clashes arrival vec_id(s) already exist in the " +
        "stored postings — ids must be disjoint (re-key the batch " +
        "before committing)")
    corpusCodes.unionByName(encodePq(arrivals, codebooks, dims, m))
  }

  /** RETRACTION of the PQ code postings — the takedown inverse of
    * [[commitPqCodes]]. The posting table is purely id-keyed ((vec_id,
    * sub, code) rows; no content-keyed set, no df sidecar, no
    * cap-filtered projection like the text corpus's artifacts), so the
    * vec_id anti-join IS the exact retraction: retracted ==
    * rebuilt-from-scratch on corpus \ deleted under the same frozen
    * codebooks, because frozen-codebook encoding is per-vector
    * deterministic — one vector's code rows never depend on another
    * vector's presence (IndexRetractSpec pins the rebuild law and
    * retract ∘ commit == identity). The CODEBOOKS keep their trained
    * state: like every trained artifact here, refreshing them is the
    * separate retrain decision ([[cellDrift]] / the q_ann_recall
    * monitor are its triggers) — a deleted vector's influence on the
    * quantizer persists until retrain, but its rows (and so any chance
    * of it being SERVED) are gone at the anti-join.
    *
    * Scale shape: one broadcastable anti-join over the posting table;
    * deletion of the stored raw vectors is the caller's side effect. */
  def retractPqCodes(
      corpusCodes: DataFrame,
      deleteIds: DataFrame
  ): DataFrame =
    corpusCodes.join(
      deleteIds.select("vec_id").distinct(), Seq("vec_id"), "left_anti")

  /** PQ QUANTIZATION-DISTORTION monitor — the third leg of the index-
    * health triad: [[cellDrift]] says the data moved geometrically, the
    * recall monitor says retrieval quality degraded, and THIS says how
    * much information the quantizer itself is losing — per subspace,
    * the exact integer squared error between each stored code's
    * reconstruction and the vector it stands for (micros², so the
    * readout is hash-exact across engines with no float anywhere).
    * Rising distortion on incoming commits is the earliest retrain
    * signal of the three: it moves before recall does, because ADC
    * ranking degrades only after errors get large RELATIVE to inter-
    * vector distances.
    *
    * Scale shape: one corpus pass exploded to m sub-rows (narrow:
    * subDim micros each), an id-keyed join to the stored codes, a
    * broadcast join to the m×K codebook, then an m-key groupBy with
    * map-side partial aggregation. No window, no corpus × corpus. */
  def pqDistortion(
      corpus: DataFrame,
      codebooks: DataFrame,
      codes: DataFrame,
      dims: Int,
      m: Int
  ): DataFrame = {
    val subDim = dims / m
    val subStructs = (0 until m)
      .map(s =>
        s"struct(CAST($s AS INT) AS sub, slice(qe, ${s * subDim + 1}, $subDim) AS qe)")
      .mkString(", ")
    val qb = corpus.select(
        col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))")
          .as("qe"))
      .select(col("vec_id"), expr(s"explode(array($subStructs))").as("sv"))
      .select(col("vec_id"), col("sv.sub").as("sub"), col("sv.qe").as("qe"))
    qb.join(codes, Seq("vec_id", "sub"))
      .join(broadcast(codebooks), Seq("sub", "code"))
      .withColumn("d", expr(IntDistSql))
      .groupBy("sub")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("d")).as("sum_sqerr"),
        max(col("d")).as("max_sqerr"))
  }

  /** PQ training + corpus encoding, shared by [[pqPlan]] and
    * [[ivfPqProbeTopK]]. Returns (final codebooks `(sub, code, ce)`,
    * pre-final-iteration codebooks — the quantizer the final assignment
    * ranked against, which frozen-batch encoding must reuse —, corpus
    * codes `(vec_id, sub, code)`). */
  private def pqTrain(
      corpus: DataFrame,
      centroidIds: Seq[Long],
      dims: Int,
      m: Int,
      iters: Int,
      subs: Option[Seq[Int]] = None
  ): (DataFrame, DataFrame, DataFrame) =
    pqTrainOnMicros(
      corpus.select(
        col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))")
          .as("qe")),
      centroidIds, dims, m, iters, subs)

  /** [[pqTrain]]'s core over an already-micros `(vec_id, qe)` frame —
    * exposed separately so [[ivfPqResidualTopK]] can train codebooks on
    * RESIDUAL vectors (integer differences, not a float column). */
  private def pqTrainOnMicros(
      qm: DataFrame,
      centroidIds: Seq[Long],
      dims: Int,
      m: Int,
      iters: Int,
      // Restrict training/encode to these subspaces (the partial-refresh
      // face); None = all m. The subspace chains are keyed-independent
      // (the `sub` join key below), so the restricted run equals the
      // full run filtered to these subs — PqStoreSpec pins it.
      subsArg: Option[Seq[Int]] = None
  ): (DataFrame, DataFrame, DataFrame) = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    require(iters >= 1, s"pqTopK needs at least one training iteration, got $iters")
    val subs = subsArg.getOrElse(0 until m).sorted
    require(subs.nonEmpty && subs.forall(s => s >= 0 && s < m),
      s"subspace restriction $subs out of range [0, $m)")
    val subDim = dims / m
    val spark = qm.sparkSession
    import spark.implicits._
    // ALL requested subspace trainings run as ONE keyed plan — the
    // subspace is just another grouping key. (An earlier form ran m
    // separate lloydIntTrain pipelines: m× the corpus scans and
    // checkpoint jobs for identical math; the join on `sub` below keeps
    // the subspaces' Lloyd iterations exactly as independent as
    // separate runs.)
    val subStructs = subs
      .map(s =>
        s"struct(CAST($s AS INT) AS sub, slice(qe, ${s * subDim + 1}, $subDim) AS qe)")
      .mkString(", ")
    val q = qm
      .select(col("vec_id"), expr(s"explode(array($subStructs))").as("sv"))
      .select(col("vec_id"), col("sv.sub").as("sub"), col("sv.qe").as("qe"))
      .localCheckpoint(true)
    val cellDf = centroidIds.sorted.zipWithIndex
      .map { case (cid, i) => (cid, i.toLong) }
      .toDF("vec_id", "code")
    var cent = q
      .join(broadcast(cellDf), Seq("vec_id"))
      .select(col("sub"), col("code"), col("qe").as("ce"))
      .localCheckpoint(true)
    // Same missing-seed guard as requireCentroidsResolve, on the m×K
    // codebook frame the join just built.
    val resolved = cent.count()
    require(resolved == subs.size.toLong * centroidIds.size,
      s"IVF-PQ: ${subs.size.toLong * centroidIds.size - resolved} of " +
        s"${subs.size * centroidIds.size} (sub, seed) codebook rows are " +
        "missing from the corpus; code numbering would diverge from the " +
        "oracle")
    var asg: DataFrame = null
    // The codebook the FINAL training assignment ranked against (the
    // value of `cent` entering the last iteration) — batch vectors must
    // encode against the same quantizer so an empty batch reproduces
    // pqTopK exactly.
    var centPrev: DataFrame = cent
    for (_ <- 1 to iters) {
      // The codebook two iterations back and the previous assignment
      // are superseded by materialized checkpoints: release them now.
      if (centPrev ne cent) graft.Ckpt.release(centPrev)
      graft.Ckpt.release(asg)
      centPrev = cent
      // min(struct(dist, code, qe)): code is unique per (vec, sub), so
      // the struct order never reaches the array field (the lloydIntTrain
      // argument, keyed by (vec_id, sub) here).
      asg = q.join(broadcast(cent), Seq("sub"))
        .withColumn("dist", expr(IntDistSql))
        .groupBy("vec_id", "sub")
        .agg(min(struct(col("dist"), col("code"), col("qe"))).as("mn"))
        .select(
          col("vec_id"), col("sub"),
          col("mn.code").as("code"), col("mn.qe").as("qe"))
        .localCheckpoint(true)
      val updated = asg
        .select(col("sub"), col("code"), posexplode(col("qe")).as(Seq("pos", "v")))
        .groupBy("sub", "code", "pos")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .groupBy("sub", "code")
        .agg(sort_array(collect_list(struct(col("pos"), expr("s div n").as("v"))))
          .as("pv"))
        .select(col("sub"), col("code"), expr("transform(pv, p -> p.v)").as("ce_new"))
      cent = cent
        .join(updated, Seq("sub", "code"), "left")
        .select(col("sub"), col("code"),
          coalesce(col("ce_new"), col("ce")).as("ce"))
        .localCheckpoint(true)
    }
    graft.Ckpt.release(q)
    (cent, centPrev, asg.select("vec_id", "sub", "code"))
  }

  private def pqPlan(
      corpus: DataFrame,
      batch: Option[DataFrame],
      queries: DataFrame,
      centroidIds: Seq[Long],
      dims: Int,
      m: Int,
      iters: Int,
      k: Int
  ): DataFrame = {
    val subDim = dims / m
    val (cent, centPrev, encodedTrain) =
      pqTrain(corpus, centroidIds, dims, m, iters)
    val encoded = batch match {
      case None => encodedTrain
      case Some(b) =>
        // Frozen-codebook batch encode — the incremental slice of the
        // PQ build cost; corpus codes are untouched.
        encodedTrain.union(encodePq(b, centPrev, dims, m))
    }
    val dtab = pqDistTable(queries, cent, subDim)
    val scored = encoded
      .join(broadcast(dtab), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("q_vec_id"))
      .groupBy("q_vec_id", "vec_id")
      .agg(sum(col("d")).as("adist"))
    rankAdc(scored, k)
  }

  /** Per-(query, subspace, code) integer ADC distance table: |Q|·m·K
    * rows, built once and broadcast to the code scan. */
  private def pqDistTable(
      queries: DataFrame, cent: DataFrame, subDim: Int): DataFrame =
    queries.select(
        col("vec_id").as("q_vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))")
          .as("qe"))
      .crossJoin(broadcast(cent))
      .withColumn("sq", expr(s"slice(qe, sub * $subDim + 1, $subDim)"))
      .withColumn(
        "d",
        expr("aggregate(zip_with(sq, ce, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
      .select("q_vec_id", "sub", "code", "d")

  private def rankAdc(scored: DataFrame, k: Int): DataFrame =
    graft.plans.TopKPerKey
      .topK(
        scored.select("q_vec_id", "vec_id", "adist"),
        keys = Seq(col("q_vec_id")),
        ordering = Seq(col("adist").asc, col("vec_id").asc),
        k = k)
      .select("q_vec_id", "rnk", "vec_id", "adist")

  /** TRUE IVF-PQ — the coarse quantizer and the product quantizer
    * COMPOSED the way a billion-vector index runs them (Jégou et al.
    * 2011, IVFADC without residual encoding): the coarse [[lloydIntTrain]]
    * cells partition the corpus into inverted lists; a query probes its
    * `nProbe` nearest cells (exact integer distance, same probe rule as
    * [[trainedTopK]]) and ADC-scores ONLY the codes of vectors in those
    * lists — the scan touches ~nProbe/K of the corpus codes, and each
    * candidate costs m integer table lookups.
    *
    * The residual refinement (encode `vec − centroid` instead of `vec`)
    * is deliberately omitted HERE: it couples every code to its cell and
    * buys accuracy only when cells are tight; the non-residual form
    * keeps codes cell-independent (one global codebook — re-clustering
    * cells never re-encodes the corpus) and is what the frozen-codebook
    * incremental path ([[pqTopKIncremental]]) requires. The full
    * residual composition exists as [[ivfPqResidualTopK]]; AnnRecallSpec
    * quantifies both next to the unprobed [[pqTopK]].
    *
    * Scale shape: training is [[lloydIntTrain]] + [[pqTrain]] (each one
    * keyed plan); the search is a cell-keyed join of the corpus cell map
    * against the broadcast |Q|·nProbe probe frame, then the candidate
    * pairs join the m-narrow code rows and the broadcast ADC table —
    * the embedding arrays never enter the search shuffle, and no stage
    * scans corpus × queries. */
  def ivfPqProbeTopK(
      corpus: DataFrame,
      queries: DataFrame,
      coarseIds: Seq[Long],
      pqIds: Seq[Long],
      dims: Int,
      m: Int,
      iters: Int,
      nProbe: Int,
      k: Int
  ): DataFrame = {
    val subDim = dims / m
    val (coarseCent, coarseAsg) = lloydIntTrain(corpus, coarseIds, iters)
    val (pqCent, _, codes) = pqTrain(corpus, pqIds, dims, m, iters)
    // Probe-cell selection in the same MAP-SIDE array-sort form as the
    // rest of the family (probeCellsSql over the broadcast K-row array):
    // identical (dist, cell)-ascending ranking and tie-break as the old
    // crossJoin+window, with no |Q|×K expansion and no window shuffle.
    val coarseArr = coarseCent.agg(
      collect_list(struct(col("cell"), col("ce"))).as("cents"))
    val probes = queries.select(
        col("vec_id").as("q_vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))")
          .as("qe"))
      .crossJoin(broadcast(coarseArr))
      .select(col("q_vec_id"), explode(expr(probeCellsSql(nProbe))).as("cell"))
    val cellPairs = coarseAsg
      .select("vec_id", "cell")
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_vec_id"))
      .select("q_vec_id", "vec_id")
    val dtab = pqDistTable(queries, pqCent, subDim)
    val scored = codes
      .join(cellPairs, Seq("vec_id"))
      .join(broadcast(dtab), Seq("q_vec_id", "sub", "code"))
      .groupBy("q_vec_id", "vec_id")
      .agg(sum(col("d")).as("adist"))
    rankAdc(scored, k)
  }

  /** RESIDUAL IVF-PQ — the full IVFADC of Jégou et al. 2011: the product
    * quantizer encodes each vector's RESIDUAL from its coarse centroid
    * (`vec − centroid`), not the vector itself. Residuals concentrate
    * around zero with far less variance than raw vectors, so the same
    * m×K code budget quantizes them with lower distortion — the accuracy
    * step up from [[ivfPqProbeTopK]]'s cell-independent codes, bought by
    * coupling every code to its cell: re-clustering the coarse quantizer
    * re-encodes the corpus, which is why the frozen-codebook incremental
    * path stays on the non-residual form (the trade both scaladocs now
    * document; AnnRecallSpec quantifies the recall gap on the fixture).
    *
    * The deployed quantizer is the FROZEN final coarse centroid table:
    * inverted lists and residuals both come from a fresh assignment
    * against it (not training's last in-loop assignment, which ranks
    * against the pre-update centroids) — the same frozen-artifact
    * discipline as [[cellDrift]].
    *
    * Asymmetric scoring: a query has one residual PER PROBED CELL
    * (`query − that cell's centroid`), so the ADC table is keyed
    * (query, cell, sub, code) — |Q|·nProbe·m·K rows, still a broadcast.
    * Candidate pairs carry their inverted-list cell, and each candidate
    * costs m table lookups exactly as in the non-residual form. The
    * embedding arrays never enter the search shuffle. */
  def ivfPqResidualTopK(
      corpus: DataFrame,
      queries: DataFrame,
      coarseIds: Seq[Long],
      pqIds: Seq[Long],
      dims: Int,
      m: Int,
      iters: Int,
      nProbe: Int,
      k: Int
  ): DataFrame = {
    // Argument checks hoisted ABOVE the coarse training: pqTrainOnMicros
    // would eventually reject a bad m, but only after the full Lloyd
    // training and corpus assignment have run — and subDim below divides
    // before any downstream require fires at all.
    require(m >= 1 && dims % m == 0,
      s"m=$m must be >= 1 and divide dims=$dims")
    require(nProbe >= 1 && k >= 1, s"need nProbe >= 1 and k >= 1, got $nProbe/$k")
    val subDim = dims / m
    val microsSql =
      "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"
    val (coarseCent, _) = lloydIntTrain(corpus, coarseIds, iters)
    // Fresh corpus assignment against the frozen final centroids — the
    // map-side array-argmin shape (see NearestCellSql): no |corpus|×K
    // expansion, no groupBy(vec_id) shuffle. The checkpoint is reused by
    // residual training AND the inverted lists.
    val coarseArr = coarseCent.agg(
      collect_list(struct(col("cell"), col("ce"))).as("cents"))
    val casg = corpus
      .select(col("vec_id"), expr(microsSql).as("qe"))
      .crossJoin(broadcast(coarseArr))
      .select(col("vec_id"), expr(NearestCellSql).as("cell"), col("qe"))
      .localCheckpoint(true)
    val resid = casg
      .join(broadcast(coarseCent), Seq("cell"))
      .select(col("vec_id"), expr("zip_with(qe, ce, (x, y) -> x - y)").as("qe"))
    val (pqCent, _, codes) = pqTrainOnMicros(resid, pqIds, dims, m, iters)
    // Probe-cell selection in the same MAP-SIDE array-sort form as the
    // rest of the family (probeCellsSql over the broadcast K-row array):
    // identical (dist, cell)-ascending ranking and tie-break as the old
    // crossJoin+window, with no |Q|×K expansion and no window shuffle.
    val probes = queries
      .select(col("vec_id").as("q_vec_id"), expr(microsSql).as("qe"))
      .crossJoin(broadcast(coarseArr))
      .select(
        col("q_vec_id"), col("qe"),
        explode(expr(probeCellsSql(nProbe))).as("cell"))
    // Per-(query, probed cell) residual ADC table.
    val dtab = probes
      .join(broadcast(coarseCent), Seq("cell"))
      .select(
        col("q_vec_id"), col("cell"),
        expr("zip_with(qe, ce, (x, y) -> x - y)").as("rq"))
      .crossJoin(broadcast(pqCent))
      .withColumn("sq", expr(s"slice(rq, sub * $subDim + 1, $subDim)"))
      .withColumn(
        "d",
        expr("aggregate(zip_with(sq, ce, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
      .select("q_vec_id", "cell", "sub", "code", "d")
    val cellPairs = casg
      .select("vec_id", "cell")
      .join(broadcast(probes.select("q_vec_id", "cell")), Seq("cell"))
      .filter(col("vec_id") =!= col("q_vec_id"))
      .select("q_vec_id", "vec_id", "cell")
    val scored = codes
      .join(cellPairs, Seq("vec_id"))
      .join(broadcast(dtab), Seq("q_vec_id", "cell", "sub", "code"))
      .groupBy("q_vec_id", "vec_id")
      .agg(sum(col("d")).as("adist"))
    rankAdc(scored, k)
  }

  /** Contrastive TRIPLET mining — the training artifact a contrastive
    * pipeline actually emits: for EVERY corpus anchor, its nearest
    * SAME-label neighbor (the positive) and its `kNeg` nearest
    * CROSS-label vectors (the negatives), all restricted to the anchor's
    * `nProbe` trained IVF cells. Same cell-blocked pair discipline as
    * [[hardNegatives]] — the one addition is that the pair stream ranks
    * ONCE on the composite key (anchor, same-label?) through the bounded
    * heap, so positives and negatives come out of a single pass with no
    * second scoring subtree and no pair-sized checkpoint. Anchors whose
    * probed cells hold no same-label mate simply emit no positive row
    * (real pipelines drop those anchors).
    * Output: (q_vec_id, role 'pos'|'neg', rnk, vec_id, label, score). */
  def contrastiveTriplets(
      corpus: DataFrame,
      centroidIds: Seq[Long],
      iters: Int,
      nProbe: Int,
      kNeg: Int
  ): DataFrame = {
    val dot = Similarity.dotSql _
    val (cent, asg) = lloydIntTrain(corpus, centroidIds, iters)
    val base = corpus.select(
      col("vec_id"),
      col("label"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val cand = base
      .join(asg.select("vec_id", "cell"), Seq("vec_id"))
      .withColumn("nrm", expr(s"sqrt(${dot("emb", "emb")})"))
    val centArr = cent.agg(
      collect_list(struct(col("cell"), col("ce"))).as("cents"))
    val anchors = corpus.select(
        col("vec_id").as("q_vec_id"),
        col("label").as("q_label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("q_emb"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))")
          .as("qe"))
      .crossJoin(broadcast(centArr))
      .withColumn("q_nrm", expr(s"sqrt(${dot("q_emb", "q_emb")})"))
      .select(col("q_vec_id"), col("q_label"), col("q_emb"), col("q_nrm"),
        explode(expr(probeCellsSql(nProbe))).as("cell"))
    // `merge` hint: at corpus scale NEITHER side of the cell join fits a
    // broadcast — pin the shuffle equi-join so fixture-scale size
    // estimates can't flip it to a broadcast of a corpus-sized frame.
    val scored = cand
      .join(anchors.hint("merge"), Seq("cell"))
      .filter(col("vec_id") =!= col("q_vec_id"))
      .withColumn(
        "score",
        round(expr(dot("emb", "q_emb")) / (col("nrm") * col("q_nrm")), 6))
      .withColumn("is_pos", col("label") === col("q_label"))
    graft.plans.TopKPerKey
      .topK(
        scored.select("q_vec_id", "is_pos", "vec_id", "label", "score"),
        keys = Seq(col("q_vec_id"), col("is_pos")),
        ordering = Seq(col("score").desc, col("vec_id").asc),
        k = kNeg)
      .filter((col("is_pos") && col("rnk") === 1) || !col("is_pos"))
      .select(
        col("q_vec_id"),
        when(col("is_pos"), lit("pos")).otherwise(lit("neg")).as("role"),
        col("rnk"), col("vec_id"), col("label"), col("score"))
  }

  /** CORPUS-SCALE contrastive hard-negative mining: for EVERY anchor in
    * the corpus, the k nearest cross-label vectors — restricted to the
    * anchor's `nProbe` nearest trained IVF cells. This is the
    * |Q| = |C| regime where [[Similarity.hardNegatives]]'s broadcast
    * nested loop is impossible (the query side no longer fits in a
    * broadcast and the dot count is corpus²): here candidate generation
    * is a CELL-KEYED equi-join between two corpus-sized frames — no
    * broadcast of either side, pairs ≈ (nProbe/K)·Σ cell·|corpus∩cell|
    * instead of corpus² — the same blocked-pair discipline as
    * [[semanticDedup]], composed with the cross-label filter and the
    * bounded-heap rank.
    *
    * Cells come from [[lloydIntTrain]] (deterministic integer Lloyd's
    * from the fixed seed vectors), so the WHOLE mining pass — training
    * included — is oracle-checkable; probing uses the same exact integer
    * distances, scoring the shared fold-dot cosine. With nProbe = K every
    * anchor probes every cell and the result equals the exact
    * [[Similarity.hardNegatives]] (IvfHardNegativesSpec pins this).
    * Output: (q_vec_id, rnk, vec_id, label, score). */
  def hardNegatives(
      corpus: DataFrame,
      centroidIds: Seq[Long],
      iters: Int,
      nProbe: Int,
      k: Int
  ): DataFrame = {
    val dot = Similarity.dotSql _
    val (cent, asg) = lloydIntTrain(corpus, centroidIds, iters)
    val base = corpus.select(
      col("vec_id"),
      col("label"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    // Candidates: the trained assignment (already one cell per vector).
    val cand = base
      .join(asg.select("vec_id", "cell"), Seq("vec_id"))
      .withColumn("nrm", expr(s"sqrt(${dot("emb", "emb")})"))
    // Anchors: every corpus vector probes its nProbe nearest trained
    // cells by the same exact integer distance training ranked with —
    // the MAP-SIDE array-sort form (probeCellsSql): no |corpus|×K
    // crossJoin rows and no corpus-wide window shuffle+sort.
    val centArr = cent.agg(
      collect_list(struct(col("cell"), col("ce"))).as("cents"))
    val anchors = corpus.select(
        col("vec_id").as("q_vec_id"),
        col("label").as("q_label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("q_emb"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))")
          .as("qe"))
      .crossJoin(broadcast(centArr))
      .withColumn("q_nrm", expr(s"sqrt(${dot("q_emb", "q_emb")})"))
      .select(col("q_vec_id"), col("q_label"), col("q_emb"), col("q_nrm"),
        explode(expr(probeCellsSql(nProbe))).as("cell"))
    // Cell-keyed join of two corpus-sized frames — the scale move: a
    // shuffle on `cell`, never a broadcast of a corpus-sized side.
    // `merge` hint: at corpus scale NEITHER side of the cell join fits a
    // broadcast — pin the shuffle equi-join so fixture-scale size
    // estimates can't flip it to a broadcast of a corpus-sized frame.
    val scored = cand
      .join(anchors.hint("merge"), Seq("cell"))
      .filter(col("label") =!= col("q_label"))
      .withColumn(
        "score",
        round(expr(dot("emb", "q_emb")) / (col("nrm") * col("q_nrm")), 6))
    graft.plans.TopKPerKey
      .topK(
        scored.select("q_vec_id", "vec_id", "label", "score"),
        keys = Seq(col("q_vec_id")),
        ordering = Seq(col("score").desc, col("vec_id").asc),
        k = k)
      .select("q_vec_id", "rnk", "vec_id", "label", "score")
  }

  /** EMBEDDING-DISTRIBUTION DRIFT between a corpus and an arriving batch,
    * read through the corpus's own trained IVF cells — the monitoring
    * companion of every frozen-artifact incremental operator here
    * ([[pqTopKIncremental]], [[semanticDedupIncremental]]): those stay
    * correct only while the batch distribution matches the corpus the
    * cells/codebooks were trained on, and THIS is the readout that says
    * when to retrain. Cells train on the CORPUS ONLY (exact integer
    * Lloyd's from fixed seeds); the batch is assigned against the frozen
    * centroids (|batch|×K broadcast, the same discipline as the other
    * incremental paths). Per cell: member counts and occupancy fractions
    * (integer micros of exact counts) for both sides, and the signed
    * per-cell drift. Σ|drift|/2 over the rows is total-variation distance
    * between the two occupancy histograms.
    *
    * Both sides are assigned against the SAME frozen final centroids —
    * not training's last in-loop assignment (which ranks against the
    * pre-update centroids): an identical batch must read as exactly zero
    * drift, or the readout alarms on nothing.
    *
    * Scale shape: training is the already-audited [[lloydIntTrain]];
    * each side's assignment is one MAP-SIDE pass — the K centroids ride
    * along as one broadcast array row and the argmin is `array_min` over
    * (dist, cell) structs (struct ordering IS the tie-break), so no
    * |corpus|×K row blowup and no `groupBy(vec_id)` shuffle exist at
    * all; the only shuffle is the ≤K-key occupancy count, partial-agg'd
    * map-side. Nothing shuffles at corpus width. */
  def cellDrift(
      corpus: DataFrame,
      batch: DataFrame,
      centroidIds: Seq[Long],
      iters: Int
  ): DataFrame = {
    val (cent, _) = lloydIntTrain(corpus, centroidIds, iters)
    driftReadout(cent,
      occupancyAgainst(corpus, cent, "n_corpus"),
      occupancyAgainst(batch, cent, "n_batch"))
  }

  /** Per-cell member counts of `src` (an `embedding` frame) against the
    * frozen centroid table — the map-side array-argmin assignment (see
    * [[NearestCellSql]]) followed by a ≤K-key count. */
  private[graft] def occupancyAgainst(
      src: DataFrame, cent: DataFrame, as: String): DataFrame = {
    val centArr = cent.agg(
      collect_list(struct(col("cell"), col("ce"))).as("cents"))
    src
      .select(
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))")
          .as("qe"))
      .crossJoin(broadcast(centArr))
      .select(expr(NearestCellSql).as("cell"))
      .groupBy("cell")
      .agg(count(lit(1)).as(as))
  }

  /** [[cellDrift]]'s readout stage over two already-computed occupancy
    * frames (`(cell, n_corpus)` / `(cell, n_batch)`) — exposed so the
    * STREAMING monitor can feed its complete-mode counts through the
    * identical drift arithmetic (one oracle for both faces). */
  private[graft] def driftReadout(
      cent: DataFrame, nc: DataFrame, nb: DataFrame): DataFrame = {
    val j = cent
      .select("cell")
      .join(nc, Seq("cell"), "left")
      .join(nb, Seq("cell"), "left")
      .na.fill(0L, Seq("n_corpus", "n_batch"))
    val tot = j.agg(
      sum("n_corpus").as("tot_corpus"), sum("n_batch").as("tot_batch"))
    def fracMicros(n: Column, t: Column): Column =
      when(t === 0L, 0L)
        .otherwise(
          round(n.cast("double") * 1e6 / t.cast("double"), 0).cast("long"))
    j.crossJoin(broadcast(tot))
      .withColumn(
        "frac_corpus_micros", fracMicros(col("n_corpus"), col("tot_corpus")))
      .withColumn(
        "frac_batch_micros", fracMicros(col("n_batch"), col("tot_batch")))
      .withColumn(
        "drift_micros",
        col("frac_batch_micros") - col("frac_corpus_micros"))
      .select("cell", "n_corpus", "n_batch", "frac_corpus_micros",
        "frac_batch_micros", "drift_micros")
      .orderBy("cell")
  }
}
