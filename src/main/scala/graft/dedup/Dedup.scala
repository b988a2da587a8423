package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard. All are pure
  * DataFrame/Column plans (whole-stage codegen'd, no UDFs) and all are
  * engine-portable: the hash primitives are md5-derived so every operator
  * has a DuckDB oracle twin.
  *
  * Scale design (100 TB corpora):
  *   - exact dedup is one shuffle on the fingerprint — the minimum possible;
  *   - MinHash/LSH shuffles (doc, band-signature) pairs, never doc×doc:
  *     candidate generation is a self-join on the band bucket, so cost is
  *     Σ bucket² not n² — the standard web-scale near-dup shape;
  *   - SimHash candidate blocking uses the pigeonhole principle (k-bit
  *     hamming ball split across k+1 bands) — again a bucket join;
  *   - all-pairs n-gram Jaccard is intentionally BLOCKED (lang + length
  *     band) because unblocked n² does not survive any scale-up; the
  *     unblocked form exists only for tests.
  */
object Dedup {

  /** A NARROW source spread to the session's core count before a heavy
    * per-row pass (round-16, guide §2.5 "input skew: fix at the source
    * or repartition immediately after the read"): the fixture corpus is
    * one single-row-group parquet file, so every scan is ONE partition
    * and the md5/shingle/signature map work of a whole corpus runs on
    * one core no matter how many the session has. The exchange carries
    * the raw (id, text)-shaped rows — trivial next to the per-row
    * digests it unlocks. Deterministically keyed by the first column
    * (the id in every builder here; guide §2.5 warns off rand-derived
    * keys under retries). Skipped when the input is already at least
    * core-parallel: a production many-file scan must not pay a second
    * exchange (nor be coalesced down). Streaming frames pass through —
    * the gates own their arrival spreading. */
  private[graft] def spreadNarrow(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      if (inputWidth(df).exists(_ < p))
        df.repartition(p, col(df.columns.head))
      else df
    }

  /** The partition width of a NARROW-CHAIN input, probed WITHOUT
    * executing anything — the guard behind every spread helper
    * ([[spreadNarrow]], `Similarity.spreadCorpus`, `Ivf.prepDouble`,
    * `Multimodal.spreadForEncode`). `None` means "do not spread".
    *
    * Round-16 guarded on `df.rdd.getNumPartitions`, which has two
    * costs (round-16 VERDICT #9 / ADVICE): with AQE enabled,
    * `Dataset.rdd` on a SHUFFLE-BEARING frame finalizes the adaptive
    * plan and EXECUTES the upstream stages just to read a partition
    * count (the real query then re-plans and re-runs them — latent at
    * the current call sites, a 2× input bug for any public-API caller
    * handing in a derived frame); and even on a safe plan it pays a
    * second physical planning of the subtree on every builder entry.
    *
    * This probe instead walks the ANALYZED logical plan:
    *   - a chain of projections/filters/generates over checkpoint
    *     leaves (`LogicalRDD` — the post-first-builder common case)
    *     reads the width straight off the leaf RDDs, zero planning;
    *   - a chain over file-scan/local leaves falls back to the `.rdd`
    *     probe, which is pure planning there (no exchange → AQE has
    *     nothing to execute);
    *   - anything else (a join, aggregate, window, repartition … in the
    *     lineage) returns `None`: probing would execute work, and a
    *     shuffle-derived frame already carries the session's shuffle
    *     parallelism — a second exchange would be pure overhead at
    *     scale. */
  private[graft] def inputWidth(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def narrow(p: LogicalPlan): Boolean = p match {
      case _: Project | _: Filter | _: Generate | _: SubqueryAlias |
          _: Union =>
        p.children.forall(narrow)
      case _: LogicalRDD | _: LogicalRelation | _: LocalRelation |
          _: OneRowRelation =>
        true
      case _ => false
    }
    val plan = df.queryExecution.analyzed
    if (!narrow(plan)) None
    else {
      val leaves = plan.collectLeaves()
      if (leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD]))
        Some(leaves.collect { case l: LogicalRDD => l.rdd.getNumPartitions }.sum)
      else Some(df.rdd.getNumPartitions)
    }
  }

  /** Words of a lowercased text, split on whitespace runs. */
  def words(text: Column): Column =
    split(lower(text), "\\s+")

  /** Word n-gram shingles (default 3), '_'-joined, over an already
    * MATERIALIZED words-array column. Taking the array column (not the
    * text) is a 10× win: handing `split(text)` directly to the transform
    * lambda makes Catalyst inline the split into every element_at call —
    * n re-splits of the full text per shingle. Empty when the text has
    * fewer than n words (guarded: Spark's `sequence` would happily
    * generate a DESCENDING range and fabricate shingles). */
  def shinglesOfWords(w: Column, n: Int = 3): Column =
    when(size(w) < n, array().cast("array<string>"))
      .otherwise(
        transform(
          sequence(lit(1), size(w) - (n - 1)),
          i => {
            val pieces = (0 until n)
              .map(k => element_at(w, (i + lit(k)).cast("int")))
            concat(pieces.flatMap(p => Seq(p, lit("_"))).dropRight(1): _*)
          }
        )
      )

  /** Distinct (id, shingle) rows — the shared first stage of every
    * shingle-based dedup. Projects the words array in its own select so
    * the split evaluates once per row. Shingles are hashed to 60-bit
    * longs BEFORE the distinct: the dominant dedup shuffle then carries
    * an 8-byte key instead of a ~30-byte string, and every downstream
    * digest gets a short fixed-width input. Collisions (~2^-60 per
    * shingle pair) are identical in both engines, so oracle hashes still
    * match exactly. */
  def shingleRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      // Fan the heavy per-row pass out to the session's core count (see
      // [[spreadNarrow]]). Callers on BATCH-SIZED inputs (per-delivery
      // folds, delta sides) pass false: spreading a few hundred rows
      // buys no parallel win and pays an exchange + a task fan-out per
      // call (round-16 measurement: ~0.3 s per fold across the commit
      // stream's deliveries).
      spread: Boolean = true
  ): DataFrame =
    (if (spread) spreadNarrow(
      df.select(col(idCol).as("id"), col(textCol).as("text")))
    else df.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), words(col("text")).as("w"))
      .select(col("id"), explode(shinglesOfWords(col("w"), n)).as("shingle_s"))
      .select(col("id"), hash60(col("shingle_s")).as("shingle"))
      .distinct()

  /** 32-bit integer hash of a string via the first 8 hex chars of md5 —
    * deliberately md5-based so DuckDB computes the identical value
    * (`CAST('0x' || substr(md5(x),1,8) AS BIGINT)`). */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** 60-bit integer hash: first 15 hex chars of md5, as a positive long.
    * DuckDB twin: `CAST('0x' || substr(md5(x),1,15) AS BIGINT)`. */
  def hash60(c: Column): Column = md5Slice60(c, 0)

  /** 60-bit hash from md5 hex chars [1+15·part, 15+15·part] (part 0 or 1)
    * — one digest yields two independent hashes. DuckDB twin:
    * `CAST('0x' || substr(md5(x), 1+15*part, 15) AS BIGINT)`. */
  private[graft] def md5Slice60(c: Column, part: Int): Column =
    conv(substring(md5(c), 1 + 15 * part, 15), 16, 10).cast("long")

  // -------------------------------------------------------------------------
  // Exact dedup
  // -------------------------------------------------------------------------

  /** Exact dedup on a normalized-text fingerprint: one hash shuffle,
    * min(id) keeper policy. Returns (fingerprint, keep_id, n_dups). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(
        graft.text.TextFunctions.fingerprintCol(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  // -------------------------------------------------------------------------
  // MinHash + LSH
  // -------------------------------------------------------------------------

  /** Per-doc MinHash signature values. Permutation i is simulated by
    * hash60(i ':' shingle) and the signature is the MIN of that 60-bit
    * integer — equivalent to a random permutation min, and portable
    * (md5-derived, so DuckDB computes the identical longs). Integer mins
    * beat the hex-string mins they replaced twice over at corpus scale:
    * the partial agg compares longs instead of 32-char strings, and the
    * signature shuffle carries 8 bytes per hash instead of ~40.
    * Returns (id, sig_0 … sig_{k-1}) with long sig columns. */
  def minhashSignature(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      spread: Boolean = true
  ): DataFrame =
    signatureOfShingles(
      shingleRows(df, idCol, textCol, spread = spread), numHashes)

  /** LSH candidate pairs: band the signature (bands × rowsPerBand =
    * numHashes), bucket-join on (band index, band hash). The self-join is
    * on the band bucket — the only shuffle key — so the plan never
    * materializes doc×doc. Returns distinct (id_a, id_b), id_a < id_b. */
  def lshCandidates(
      signatures: DataFrame,
      bands: Int,
      rowsPerBand: Int
  ): DataFrame = {
    // Both self-join sides hang off the signature aggregation (the
    // md5-heavy dominant stage); materialize the banded rows once so the
    // join reads checkpointed blocks instead of recomputing the subtree
    // per side (ReuseExchange is not guaranteed to fire across a join).
    val banded = bandedSignatures(signatures, bands, rowsPerBand)
      .localCheckpoint(true)
    bandHitCounts(banded).select("id_a", "id_b")
  }

  /** Per-pair LSH band collision counts over (id, band, bh) rows:
    * (id_a, id_b, n_bands) with id_a < id_b. The ONE candidate-generation
    * join shared by [[lshCandidates]] (which projects the pair set) and
    * [[minhashExplain]] (which keeps n_bands as the recall-channel
    * readout) — a banding tuning change lands on both by construction.
    * Self-join key is the band bucket only; never doc×doc. */
  private def bandHitCounts(banded: DataFrame): DataFrame =
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_bands"))

  /** (id, band, bh) rows of a signature frame: each signature is split
    * into `bands` bands whose values are md5 digests of the ':'-joined
    * long sigs — an explicit string render, unambiguous (no concatenation
    * collisions) and byte-identical to the DuckDB twin. */
  private def bandedSignatures(
      signatures: DataFrame,
      bands: Int,
      rowsPerBand: Int
  ): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).flatMap(r =>
        Seq(col(s"sig_${b * rowsPerBand + r}").cast("string"), lit(":")))
        .dropRight(1)
      struct(lit(b).as("band"), md5(concat(cols: _*)).as("bh"))
    }
    signatures
      .select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Incremental MinHash near-dup: candidates between a NEW batch and the
    * existing corpus only — the continuous-ingest companion of
    * [[incrementalExact]] for near-duplicates. The band join crosses the
    * two sides exclusively (never batch×batch or corpus×corpus), so each
    * delivery costs |batch bands| ⋈ |corpus bands| bucket hits, and in a
    * real pipeline the corpus's banded signatures are computed once at
    * ingest and stored — only the batch side is fresh work per delivery.
    * Returns (id_a = batch id, id_b = corpus id, jaccard ≥ threshold),
    * exact-verified on the shingle sets like [[minhashDuplicates]]. */
  def minhashIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.5
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val bSh = shingleRows(batch, idCol, textCol, spread = false)
      .localCheckpoint(true)
    val cSh = shingleRows(corpus, idCol, textCol).localCheckpoint(true)
    val bBand = bandedSignatures(signatureOfShingles(bSh, numHashes), bands, rows)
    val cBand = bandedSignatures(signatureOfShingles(cSh, numHashes), bands, rows)
    val cands = bBand.as("a")
      .join(cBand.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // Two-sided verify (batch ids against bSh, corpus ids against cSh):
    // correct even if the two id spaces overlap — no union that would
    // merge two documents' shingle sets under a shared id.
    jaccardVerifyTwoSided(bSh, cSh, cands, threshold)
  }

  /** INCREMENTAL connected components — the clustering face of the
    * ingest gate family: fold a delivery's new near-dup pairs (batch ×
    * corpus from [[minhashIncremental]], batch × batch from
    * [[minhashDuplicates]] over the batch alone) into the STORED
    * component assignment without regenerating the corpus's pair set.
    * The stored assignment is spanned exactly by its star edges
    * (member → component root), so CC over (star edges ∪ new pairs)
    * equals CC over (all old pairs ∪ new pairs) — and because banding
    * and the exact-Jaccard verify are per-pair deterministic, the old ∪
    * new pair union IS the from-scratch pair set of corpus ∪ batch.
    * Both identities compose to the incremental law IncClustersSpec
    * pins: incremental == rebuilt-from-scratch clustering (and
    * q_incremental_clusters pins it cross-engine against the recursive
    * transitive-closure oracle).
    *
    * Scale shape: the edge set is |dup members| star edges (far below
    * the original pair count — a k-clique stored as k−1 edges) plus the
    * batch-sized new pairs, and label propagation starts from an
    * almost-converged labeling, so iterations touch only components the
    * delivery actually merges. */
  def incrementalComponents(
      storedComponents: DataFrame,
      newPairs: DataFrame
  ): DataFrame =
    connectedComponents(
      storedComponents
        .filter(col("id") =!= col("component"))
        .select(col("id").as("id_a"), col("component").as("id_b"))
        .unionByName(newPairs.select("id_a", "id_b")))

  /** [[minhashIncremental]] against STORED corpus artifacts — the cost
    * model a continuous-ingest deployment actually pays per delivery:
    * the corpus band table ([[bandTable]]) and shingle-row table
    * ([[shingleRows]], checkpointed) are deploy-time artifacts read as
    * they stand, so the timed work is batch shingling + signatures, the
    * band join against the stored table, and the two-sided exact
    * verify. Identical pair semantics to [[minhashIncremental]] (same
    * helpers), minus the per-delivery corpus re-scan — IncClustersSpec
    * pins the agreement. */
  def minhashIncrementalFromArtifacts(
      corpusBands: DataFrame,
      corpusShingleRows: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.5
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val bSh = shingleRows(batch, idCol, textCol, spread = false)
      .localCheckpoint(true)
    val bBand = bandedSignatures(signatureOfShingles(bSh, numHashes), bands, rows)
    val cands = bBand.as("a")
      .join(corpusBands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    jaccardVerifyTwoSided(bSh, corpusShingleRows, cands, threshold)
  }

  /** The (id, band, bh) banded-signature table of a corpus — the stored
    * band-table ARTIFACT a continuous-ingest pipeline computes once and
    * keeps: [[minhashIncremental]] joins fresh batch bands against it,
    * and the streaming near-dup gate
    * ([[graft.streaming.StreamingOps.nearDupGateStream]]) stream-static
    * joins arrivals against it. Same shingles, signatures and band
    * hashes as every batch operator. */
  def bandTable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      spread: Boolean = true
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    bandedSignatures(
      signatureOfShingles(
        shingleRows(df, idCol, textCol, spread = spread), numHashes),
      bands, numHashes / bands)
  }

  /** The corpus SHINGLE-SET artifact in per-doc array form —
    * (id, shingles sorted long array): what the ingest gate's row-local
    * exact-Jaccard verify joins candidates against. Each array is one
    * document's distinct 60-bit shingle hashes (bounded by doc length),
    * so the artifact is corpus-row-sized, never corpus×corpus. */
  def shingleSetTable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3
  ): DataFrame =
    shingleRows(df, idCol, textCol, n)
      .groupBy("id")
      .agg(sort_array(collect_list(col("shingle"))).as("shingles"))

  /** ROW-LOCAL MinHash banding of single documents — the stream face of
    * [[bandedSignatures]]: shingle set, signatures and band hashes all
    * computed as expressions over the row alone (no shuffle, no
    * aggregation — an append-mode stream can run it statelessly),
    * byte-identical to the batch arithmetic: same '_'-joined word
    * 3-shingles, same [[hash60]] shingle keys, same md5-slice signature
    * mins, same ':'-joined band digests. Returns one row per (doc,
    * band): (id, shingles, band, bh) — `shingles` is the distinct
    * 60-bit array carried along for the verify stage.
    *
    * The `shingles` alias is referenced by all `numHashes` signature
    * lambdas plus the passthrough, so CollapseProject keeps it
    * materialized per row (multi-referenced non-cheap expressions are
    * not inlined — the round-9 lambda-inlining pitfall applies to
    * SINGLE-reference aliases). */
  def bandRowsLocal(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val withSh = df
      .select(col(idCol).as("id"), words(col(textCol)).as("w"))
      .select(
        col("id"),
        array_distinct(transform(shinglesOfWords(col("w")), s => hash60(s)))
          .as("shingles"))
    val sigCols = (0 until numHashes).map { i =>
      array_min(transform(
        col("shingles"),
        sh => md5Slice60(concat(lit(s"${i / 2}:"), sh.cast("string")), i % 2)))
        .as(s"sig_$i")
    }
    val withSig = withSh.select(col("id") +: col("shingles") +: sigCols: _*)
    val bandCols = (0 until bands).map { b =>
      val cols = (0 until rows)
        .flatMap(r => Seq(col(s"sig_${b * rows + r}").cast("string"), lit(":")))
        .dropRight(1)
      struct(lit(b).as("band"), md5(concat(cols: _*)).as("bh"))
    }
    withSig
      .select(col("id"), col("shingles"),
        explode(array(bandCols: _*)).as("bb"))
      .select(
        col("id"), col("shingles"),
        col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Exact Jaccard verification of candidate pairs over a precomputed
    * distinct (id, shingle) set. The intersection count is computed ONLY
    * for candidate pairs — expand candidates with id_a's shingles, then
    * hash-join on (id_b, shingle) — never as an all-docs shingle
    * self-join, which at corpus scale degenerates into every pair sharing
    * a stopword shingle. */
  def jaccardVerifyShingles(
      sh: DataFrame,
      candidates: DataFrame,
      threshold: Double
  ): DataFrame = jaccardVerifyTwoSided(sh, sh, candidates, threshold)

  /** [[jaccardVerifyShingles]] generalized to DIFFERENT shingle frames for
    * the two pair sides (id_a resolved against `shA`, id_b against `shB`)
    * — the incremental batch-vs-corpus verify, correct even when the two
    * frames' id spaces overlap (no union, so a shared id never merges two
    * documents' shingle sets). */
  def jaccardVerifyTwoSided(
      shA: DataFrame,
      shB: DataFrame,
      candidates: DataFrame,
      threshold: Double
  ): DataFrame =
    intersectionCounts(shA, shB, candidates.select("id_a", "id_b"))
      .join(setSizes(shA, "id_a", "size_a"), Seq("id_a"))
      .join(setSizes(shB, "id_b", "size_b"), Seq("id_b"))
      .withColumn("jaccard", jaccardRounded)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Exact shingle intersection counts for CANDIDATE pairs only —
    * expand with id_a's shingles, hash-join on (id_b, shingle). One
    * definition shared by the verify ([[jaccardVerifyTwoSided]]) and the
    * explanation ([[minhashExplain]]) faces. */
  private def intersectionCounts(
      shA: DataFrame,
      shB: DataFrame,
      pairs: DataFrame
  ): DataFrame =
    pairs
      .join(shA.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(shB.select(col("id").as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_inter"))

  private def setSizes(sh: DataFrame, idAlias: String, sizeAlias: String) =
    sh.groupBy("id").agg(count(lit(1)).as(sizeAlias))
      .withColumnRenamed("id", idAlias)

  /** The ONE jaccard round-then-filter rendering (6 decimals, cross-
    * engine-stable) over (n_inter, size_a, size_b) columns. */
  private def jaccardRounded: Column =
    round(col("n_inter") / (col("size_a") + col("size_b") - col("n_inter")), 6)

  /** Signature aggregation over a precomputed shingle set. Each md5 digest
    * (32 hex chars) yields TWO 60-bit hashes — chars 1-15 and 16-30 — so
    * k signatures cost k/2 md5 calls per shingle (Catalyst's
    * subexpression elimination computes each seeded digest once). md5
    * bits are independent, so sliced halves are as good as separate
    * permutations; the digest stage dominates MinHash at corpus scale, so
    * this is a direct 2× on the dominant term. */
  private def signatureOfShingles(sh: DataFrame, numHashes: Int): DataFrame = {
    // ROUND-17: all numHashes slots now come from ONE typed imperative
    // aggregate ([[graft.functions.MinhashSigAgg]] — bit-identical slot
    // values, same partial/merge shape, spec-pinned equality) instead of
    // numHashes separate `min(md5Slice60(concat(seed, shingle), part))`
    // aggregates: the expression form paid a 32-char hex-string
    // materialization + substring + base-16 re-parse per (row, digest),
    // where the native update takes each 16-byte digest straight to two
    // longs. (Round-16 context, kept for the record: a PROJECTION-level
    // shared-digest rewrite was tried and measured SLOWER — hex strings
    // materialized per row and aggregate fusion lost; the aggregate-level
    // rewrite is the form that wins.)
    sh.groupBy("id")
      .agg(expr(s"graft_minhash_sig(shingle, $numHashes)").as("__sig"))
      .select(
        col("id") +:
          (0 until numHashes)
            .map(i => element_at(col("__sig"), i + 1).as(s"sig_$i")): _*)
  }

  /** Full MinHash-LSH near-dup pipeline: signature → banded candidates →
    * exact Jaccard ≥ threshold. The shingle set feeds three consumers
    * (signatures, intersection sides a and b), so it is materialized ONCE
    * via an eager `localCheckpoint` — recomputing the explode+distinct per
    * consumer triples the dominant cost. Unlike `persist`, checkpoint
    * blocks are reclaimed by the ContextCleaner as soon as the returned
    * frame is unreferenced, so a long-lived session running many dedup
    * passes doesn't accumulate pinned cache (round-2 bench showed one
    * leaked shingle cache taxing every later query). Eager: calling this
    * runs the shingle job immediately. */
  def minhashDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.5
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sh = shingleRows(df, idCol, textCol).localCheckpoint(true)
    val sigs = signatureOfShingles(sh, numHashes)
    val cands = lshCandidates(sigs, bands, numHashes / bands)
    jaccardVerifyShingles(sh, cands, threshold)
  }

  /** NEAR-DUP PAIR EXPLANATION — the debugging face of
    * [[minhashDuplicates]]: for every verified pair, WHY it was
    * flagged — how many LSH bands collided (the recall channel), the
    * exact shingle intersection and both set sizes (the verified
    * evidence), and the Jaccard. The row an operator reads before
    * disputing a takedown or re-tuning the banding. SHARED CODE, not
    * parallel construction: candidates come from [[bandHitCounts]] and
    * the evidence from [[intersectionCounts]]/[[setSizes]]/
    * [[jaccardRounded]] — the same helpers [[lshCandidates]] and
    * [[jaccardVerifyTwoSided]] are built from, so explanation and
    * verdict cannot drift under a tuning change. */
  def minhashExplain(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.5
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sh = shingleRows(df, idCol, textCol).localCheckpoint(true)
    val banded = bandedSignatures(
        signatureOfShingles(sh, numHashes), bands, numHashes / bands)
      .localCheckpoint(true)
    val bandHits = bandHitCounts(banded)
    bandHits
      .join(intersectionCounts(sh, sh, bandHits.select("id_a", "id_b")),
        Seq("id_a", "id_b"))
      .join(setSizes(sh, "id_a", "size_a"), Seq("id_a"))
      .join(setSizes(sh, "id_b", "size_b"), Seq("id_b"))
      .withColumn("jaccard", jaccardRounded)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_bands", "n_inter", "size_a", "size_b",
        "jaccard")
  }

  // -------------------------------------------------------------------------
  // Duplicate clustering (connected components)
  // -------------------------------------------------------------------------

  /** Connected components over an undirected pair list (id_a, id_b):
    * every node gets the MINIMUM id reachable from it as its component
    * label — the step that turns near-dup PAIRS into keep/drop CLUSTERS
    * (keep the min id per component, drop the rest).
    *
    * Algorithm: iterative min-label propagation. Each round every node
    * takes the min of its own label and its neighbors' labels; iteration
    * stops when a round changes nothing. Rounds needed = graph diameter
    * (dup clusters are near-cliques from band joins, so 2-3 rounds in
    * practice); `maxIter` bounds the worst case. Each round is one
    * self-contained shuffle on node id — at corpus scale this is the
    * standard large-scale CC recipe (label propagation; the
    * small-star/large-star variant reduces round count to O(log n) for
    * pathological chains but costs more per round).
    *
    * Returns (id, component). Deterministic: min is order-insensitive. */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 50,
      driverEdgeLimit: Long = 2000000L
  ): DataFrame = {
    // Symmetrize with ONE pass over `pairs` (explode of a 2-struct array),
    // not a union of two selects: the union form plants the pairs subtree
    // twice in the plan, so a caller handing in an expensive near-dup
    // pipeline (minhash band join + Jaccard verify) would compute it twice
    // before the persist materializes anything.
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // Null ids carry no connectivity. Dropping them HERE keeps the two
      // paths equivalent: the driver fast path's getLong would NPE on a
      // null, while the distributed loop's joins would drop null-keyed
      // edges silently — divergent behavior on the same input.
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Size-gated driver fast path, decided from a REAL count of the
    // materialized edge set (the cost-based call an optimizer can't make
    // for us). A dup-pair graph is CANDIDATE-sized, not corpus-sized —
    // at the small/medium end the iterative loop's per-round fixed cost
    // (two jobs per round) dwarfs the actual work, and a driver
    // union-find over ≤ `driverEdgeLimit` edges answers in one pass.
    // toLocalIterator streams partitions (never all rows at once) and the
    // parent map holds ≤ 2·limit boxed entries (~150 MB at the default
    // cap — sized for the standard 4g driver, not a minimal one; lower
    // the cap on small drivers). Web-scale dup graphs blow past the cap
    // and take the distributed loop below; both paths produce the
    // identical (id, min-id component) labeling, spec-pinned.
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && edges.count() <= driverEdgeLimit) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.toLocalIterator().forEachRemaining { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        // Union by min id, so every root IS its component's min.
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val labels = parent.keys.toSeq.sorted.map(id => (id, find(id)))
      edges.unpersist()
      val spark = pairs.sparkSession
      import spark.implicits._
      return labels.toDF("id", "component")
    }
    // Every round MUST cut lineage (localCheckpoint), not merely persist:
    // the round-N plan references round-N-1 twice (next-labels join +
    // convergence check), so an uncut logical plan doubles per round and
    // planning/explain work goes exponential — persist caches DATA but
    // not the plan. Checkpoint blocks are reclaimed by the ContextCleaner
    // once a round's frame is unreferenced, so nothing stays pinned.
    var labels = edges
      .groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("component"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // Neighbor labels: for each node, min over its neighbors' current
      // labels (edges ⋈ labels on the neighbor side), folded with its own.
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("nmin"))
      val next = labels
        .join(neighborMin, Seq("id"), "left")
        .select(
          col("id"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"))
        .localCheckpoint(true)
      val changed = next
        .join(labels.withColumnRenamed("component", "old"), Seq("id"))
        .filter(col("component") < col("old"))
        .limit(1)
        .count()
      // The convergence probe was round N-1's last reader — release its
      // checkpoint blocks NOW instead of pinning one |V|-row frame per
      // round until GC (the final round's frame is the returned face and
      // is never released here).
      graft.Ckpt.release(labels)
      labels = next
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    // Non-convergence must be LOUD: silently returning partial labels
    // would split clusters (and diverge from the exact transitive-closure
    // oracle). Diameter ≤ maxIter holds for any real dup graph; a miss
    // means maxIter was set too low for a pathological chain.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — graph diameter exceeds maxIter")
    labels
  }

  /** Connected components via alternating large-star / small-star rounds
    * (the MapReduce CC recipe published by Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): converges in
    * O(log n) rounds on ANY graph shape, where plain label propagation
    * ([[connectedComponents]]) needs diameter rounds. Same contract:
    * (id, component = min id reachable). Use this variant when the dup
    * graph may contain long chains (e.g. near-dup "bridges" stringing
    * many documents together); label propagation stays the default for
    * band-join dup graphs, whose clusters are near-cliques (diameter 2-3)
    * where it does less work per round.
    *
    *   - large-star: every node's strictly-larger neighbors re-attach to
    *     the minimum of its closed neighborhood;
    *   - small-star: every node's smaller-or-equal neighbors re-attach to
    *     that minimum;
    *   - fixed point = a star forest rooted at each component's min.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 30): DataFrame =
    ccStarWithRounds(pairs, maxIter)._1

  /** [[connectedComponentsStar]] plus the round count (exposed for the
    * convergence-rate spec). */
  private[graft] def ccStarWithRounds(
      pairs: DataFrame,
      maxIter: Int
  ): (DataFrame, Int) = {
    // Canonical directed edge (u, v), u > v; self-pairs dropped. Same
    // lineage discipline as connectedComponents: localCheckpoint every
    // round — the plan would otherwise double per round.
    var edges = pairs
      .select(
        greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // Large-star over the symmetric neighborhood: m = min(Γ(u) ∪ {u});
      // emit (v, m) for v > u. Each undirected edge is emitted exactly
      // once, from its smaller endpoint's reduction (v > u ≥ m, so the
      // output is already canonical).
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mLarge = sym
        .groupBy("u")
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym
        .join(mLarge, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
        .localCheckpoint(true)
      // Small-star over canonical smaller-neighbors: m = min(Γ⁻(u));
      // emit (u, m) and (v, m) for every other smaller neighbor.
      val mSmall = large.groupBy("u").agg(min(col("v")).as("m"))
      val withM = large.join(mSmall, Seq("u"))
      val next = withM
        .select(col("u"), col("m").as("v"))
        .union(
          withM
            .filter(col("v") =!= col("m"))
            .select(col("v").as("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(true)
      val changed =
        next.join(edges, Seq("u", "v"), "leftanti").limit(1).count() +
          edges.join(next, Seq("u", "v"), "leftanti").limit(1).count()
      // Round N-1's edge set and the intermediate large-star frame are
      // dead once the convergence probe ran — release now (the final
      // round's frame backs the returned labels and stays).
      graft.Ckpt.release(edges, large)
      edges = next
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds")
    // Fixed point is a star forest: every leaf points at its root, roots
    // appear only on the v side — label them with themselves.
    val labels = edges
      .select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")))
      .distinct()
    (labels, iter)
  }

  // -------------------------------------------------------------------------
  // Drop-list application
  // -------------------------------------------------------------------------

  /** Max Bloom size [[applyDropList]] will build: 2^27 bits = 16 MiB.
    * The merged filter travels driver → every task as a literal, so it
    * must stay broadcast-sized; at [[DropListBitsPerKey]] bits/key the cap
    * covers ~13M drop ids before the Bloom branch stops paying. */
  val DropListMaxBits: Int = 1 << 27

  /** Target bits per drop id (k=5 double-hashing → ~1% FPR at 10). */
  val DropListBitsPerKey: Int = 10

  /** Filter size for a drop list of `nDrops` ids, or None when no filter
    * of ≤ `maxBits` can prune usefully (a saturated Bloom answers "maybe"
    * for every key: both branches still produce exact results, but the
    * definite-keep scan prunes nothing and the extra corpus pass is pure
    * waste — better to go straight to the anti-join). Power-of-two sized,
    * floored at [[graft.functions.Bloom.DefaultNumBits]] so tiny drop
    * lists keep the comfortable default. */
  private[graft] def dropListBloomBits(
      nDrops: Long,
      bitsPerKey: Int = DropListBitsPerKey,
      maxBits: Int = DropListMaxBits
  ): Option[Int] = {
    if (nDrops > maxBits.toLong / bitsPerKey) None
    else {
      val want = math.max(
        graft.functions.Bloom.DefaultNumBits.toLong, nDrops * bitsPerKey)
      var bits = graft.functions.Bloom.DefaultNumBits
      while (bits < want && bits < maxBits) bits <<= 1
      Some(bits)
    }
  }

  /** Anti-join a dedup drop list off a corpus, scale-safely.
    *
    * A fuzzy-dedup drop list is O(duplicate documents) — on a web-scale
    * crawl with 30–50% dup mass that is billions of ids, far past any
    * broadcast threshold, so forcing `broadcast(drops)` ORs the driver at
    * scale. Instead:
    *   1. the drop list is counted (one cheap keys-only job — callers
    *      hand in a materialized drop list) and a Bloom filter is SIZED
    *      FROM THAT COUNT ([[dropListBloomBits]]: ~10 bits/key, power of
    *      two, capped at 16 MiB) — a fixed-size filter would saturate at
    *      web-scale drop counts and prune nothing while still costing the
    *      definite-keep scan;
    *   2. the drop ids fold into that filter via a distributed aggregate
    *      ([[graft.functions.BloomBuildAgg]]) — the driver receives the
    *      merged filter, never the ids;
    *   3. definite keeps (`!bloom_might_contain`, the vast majority of the
    *      corpus) pass straight through in the SCAN stage — no join, no
    *      shuffle, for most of the data;
    *   4. only Bloom-positive rows (true drops + ~1% false positives)
    *      enter a plain anti-join backstop whose broadcast-vs-shuffle
    *      choice is left to Spark's size-threshold planning — never a
    *      forced broadcast.
    * When the observed count exceeds what the capped filter can usefully
    * distinguish, the Bloom branch is SKIPPED entirely and the whole
    * corpus takes the single shuffled anti-join — one corpus scan beats
    * two when the filter would answer "maybe" everywhere. Results are
    * exact on every path (Bloom's superset property only prunes the
    * definite-keep branch).
    */
  def applyDropList(
      corpus: DataFrame,
      drops: DataFrame,
      idCol: String
  ): DataFrame =
    applyDropListSized(corpus, drops, idCol, DropListBitsPerKey, DropListMaxBits)

  /** [[applyDropList]] with the sizing knobs exposed — the spec drives
    * `maxBits` down to force the saturation branch on test-sized data. */
  private[graft] def applyDropListSized(
      corpus: DataFrame,
      drops: DataFrame,
      idCol: String,
      bitsPerKey: Int,
      maxBits: Int
  ): DataFrame = {
    // The drop list feeds up to THREE jobs (the sizing count, the Bloom
    // aggregate, the anti-join): checkpoint it here so the cost contract
    // is enforced, not a scaladoc note — an unmaterialized upstream
    // (e.g. a fresh minhash+CC pipeline) would otherwise execute in full
    // per job. Id-only rows, so the materialization is |drops| × one key.
    // EXCEPT when the input already replays cheaply — narrow Project/
    // Filter over materialized scans only (a caller-checkpointed or
    // memoized frame, like dedupKeeplist's dupComponents memo): a second
    // checkpoint there would just copy an id-only frame to executor disk
    // to save three narrow re-projections of cached blocks
    // (DedupSpec pins the single materialization).
    def cheapReplay(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p match {
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
          cheapReplay(pr.child)
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          cheapReplay(f.child)
        case _ => false
      }
    val keysRaw = drops.select(col(idCol))
    val dropKeys =
      if (cheapReplay(keysRaw.queryExecution.optimizedPlan)) keysRaw
      else keysRaw.localCheckpoint(true)
    dropListBloomBits(dropKeys.count(), bitsPerKey, maxBits) match {
      case None =>
        // Saturation regime: the anti-join alone (Spark's planner picks
        // broadcast vs shuffle from its own size stats; at this
        // cardinality it will be a shuffled hash/SMJ anti-join).
        corpus.join(dropKeys, Seq(idCol), "left_anti")
      case Some(numBits) =>
        val filterBytes = dropKeys
          .agg(call_function("bloom_agg_sized", col(idCol), lit(numBits)))
          .head().getAs[Array[Byte]](0)
        val probe =
          call_function("bloom_might_contain", col(idCol), lit(filterBytes))
        val maybe = corpus
          .filter(probe)
          .join(dropKeys, Seq(idCol), "left_anti")
        // A null id can never be on the drop list (anti-join semantics:
        // null matches nothing), so null-id rows are definite keeps —
        // routed with the bloom-negative branch, where a bare `!probe`
        // (null) would silently drop them.
        corpus.filter(col(idCol).isNull || !probe).unionByName(maybe)
    }
  }

  // -------------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------------

  /** 32-bit SimHash over word multiset: per bit, sum ±1 weighted by word
    * occurrences; bit set when the sum is positive. The 32 bit-sums are 32
    * conditional aggregates over the word rows — NOT a 32× bit-explode:
    * partial aggregation reduces each doc to one 32-column row map-side,
    * so the shuffle carries |docs| compact rows instead of
    * |words|×32 exploded ones. */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      spread: Boolean = true): DataFrame = {
    val src = df.select(col(idCol).as("id"), col(textCol).as("text"))
    val w = (if (spread) spreadNarrow(src) else src)
      .select(
        col("id"),
        explode(words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .withColumn("hv", hash32(col("word")))
    val bitAggs = (0 until 32).map { j =>
      sum(when(expr(s"shiftright(hv, $j) & 1") === 1, 1).otherwise(-1))
        .as(s"b$j")
    }
    val assembled = (0 until 32)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    w.groupBy("id")
      .agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("id"), assembled.cast("long").as("simhash"))
  }

  /** [[simhash]] as a pure per-row projection: the doc id is unique per
    * input row, so grouping exploded words back by id is a shuffle the
    * operator never needed — the 32 bit-sums fold over the word-hash
    * array in place (zero exchanges in the plan). HOF lambdas are
    * CodegenFallback, so whether this beats the fully-codegen'd
    * explode+hashAggregate is an empirical question per Spark version —
    * measured at parity on Spark 4.1/local[32] (a same-session noop-sink
    * A/B of both forms over the sf0.1 documents: the interpreted lambdas
    * give back what the saved shuffle gains; `graft.Bench`'s `profile`
    * row for q_dedup_simhash carries the default form's task time and
    * shuffle bytes), so
    * [[simhash]] stays the default; on a real cluster where the shuffle
    * costs network rather than memory bandwidth, this variant wins. */
  def simhashNoShuffle(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hvs = df
      .select(col(idCol).as("id"), words(col(textCol)).as("w"))
      // Materialize the hash array in its own projection: handing the
      // expression to 32 aggregate() lambdas would re-inline the md5 per
      // lambda (the Catalyst re-inlining pitfall).
      .select(
        col("id"),
        transform(filter(col("w"), w => w =!= ""), w => hash32(w)).as("hv")
      )
    val n = size(col("hv")).cast("long")
    val bitSet = (0 until 32).map { j =>
      val cnt = aggregate(
        col("hv"),
        lit(0L),
        (acc, h) => acc + shiftright(h, j).bitwiseAND(lit(1L))
      )
      // sum(±1) > 0  ⇔  2·(set-bit count) > word count
      when(cnt * 2 > n, lit(1L << j)).otherwise(lit(0L))
    }
    hvs
      .filter(size(col("hv")) > 0)
      .select(col("id"), bitSet.reduce(_ + _).cast("long").as("simhash"))
  }

  /** SimHash near-dup pairs within a hamming radius, candidate-blocked by
    * the pigeonhole principle: split 32 bits into `blocks` bands — any pair
    * within hamming ≤ blocks-1 shares at least one exact band. Join on the
    * band value, verify with bit_count(xor). */
  def simhashDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      blocks: Int = 4
  ): DataFrame =
    hammingPairs(simhash(df, idCol, textCol), 32, maxHamming, blocks)

  /** Hamming-ball pair finder over ANY (id, simhash) frame of ≤63-bit
    * integer hashes — the shared engine of [[simhashDuplicates]] (32-bit
    * text simhashes) and the image perceptual-hash dedup (56-bit dHashes,
    * [[graft.multimodal.Multimodal.imageDHash]]). Pigeonhole banding:
    * split into `blocks` bit-bands; any pair within `maxHamming ≤
    * blocks − 1` bits collides on at least one untouched band, so the
    * band self-join is EXACT (finds every such pair, never a recall
    * trade). The only shuffle key is (band, band-value) — Σ bucket²
    * pairs, never corpus².
    *
    * The banded frame is materialized once (both sides of the self-join;
    * eager localCheckpoint — round-2 lesson: without it the signature
    * subtree recomputes per side, measured 118 s vs 3.5 s at sf0.1 for
    * the text simhash). */
  def hammingPairs(
      sh: DataFrame,
      bits: Int,
      maxHamming: Int,
      blocks: Int
  ): DataFrame = {
    // The ≤63-bit contract is load-bearing, not documentation: a wider
    // band would overflow (1L << width) - 1 in the band mask and silently
    // drop pairs, so reject it here rather than return wrong answers.
    require(bits >= 1 && bits <= 63,
      s"hash width must be in [1, 63] (non-negative BIGINT), got $bits")
    require(bits % blocks == 0, s"blocks=$blocks must divide bits=$bits")
    require(maxHamming < blocks,
      s"pigeonhole needs maxHamming < blocks, got $maxHamming/$blocks")
    val banded = simhashBanded(sh, bits, blocks).localCheckpoint(true)
    val a = banded.as("a")
    val b = banded.as("b")
    // Hamming-filter BEFORE the distinct's exchange (round-16, guide
    // §2.3): a band is bits/blocks wide, so random hashes collide on a
    // band at ~2^-(bits/blocks) and the candidate set is orders of
    // magnitude larger than the hamming ball (measured at sf0.1:
    // 98 MB of candidate pairs crossing the dedup exchange on the
    // video-frame face before this reorder). The filter commutes with
    // the dedup because hamming is a pure function of the pair — a
    // pair's every band collision carries the same two hashes.
    a.join(b, col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The (id, simhash, band, bv) banded SimHash table of a corpus — the
    * stored ingest artifact the hamming family's streaming gate joins
    * arrivals against ([[graft.streaming.StreamingOps.simhashGateStream]]),
    * exactly as [[bandTable]] is for the MinHash family. */
  def simhashBandTable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blocks: Int,
      spread: Boolean = true
  ): DataFrame = simhashBanded(simhash(df, idCol, textCol, spread), 32, blocks)

  /** (id, simhash, band, bv) rows: a `bits`-wide hash split into `blocks`
    * pigeonhole bands. Per-row map work (no shuffle, no aggregation), so
    * the streaming gate bands arrivals with it statelessly. */
  private[graft] def simhashBanded(sh: DataFrame, bits: Int, blocks: Int): DataFrame = {
    val width = bits / blocks
    val bandCols = (0 until blocks).map { b =>
      struct(lit(b).as("band"),
        expr(s"shiftright(simhash, ${b * width}) & ${(1L << width) - 1}")
          .as("bv"))
    }
    sh.select(col("id"), col("simhash"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band").as("band"),
        col("bb.bv").as("bv"))
  }

  /** Incremental SimHash near-dup: hamming-ball candidates between a NEW
    * batch and the existing corpus only — [[minhashIncremental]]'s
    * companion for the SimHash family. Band join crosses the two sides
    * exclusively; corpus bands are computable once at ingest. Returns
    * (id_a = batch id, id_b = corpus id, hamming ≤ maxHamming). */
  def simhashIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      blocks: Int = 4
  ): DataFrame =
    hammingPairsIncremental(
      simhash(corpus, idCol, textCol),
      simhash(batch, idCol, textCol, spread = false),
      32, maxHamming, blocks)

  /** Batch×corpus hamming-ball pair finder over ANY pair of
    * (id, simhash) frames of ≤63-bit hashes — the incremental face of
    * [[hammingPairs]], shared by [[simhashIncremental]] (32-bit text
    * simhashes) and the image perceptual-hash ingest gate (56-bit
    * dHashes). The band join crosses the two sides EXCLUSIVELY — never
    * batch×batch, never corpus×corpus — and the pigeonhole argument is
    * unchanged, so the pairs found are exactly the cross-side hamming
    * ball. Corpus bands are computable once at ingest. Returns
    * (id_a = batch id, id_b = corpus id, hamming ≤ maxHamming). */
  def hammingPairsIncremental(
      corpusSh: DataFrame,
      batchSh: DataFrame,
      bits: Int,
      maxHamming: Int,
      blocks: Int
  ): DataFrame = {
    require(bits >= 1 && bits <= 63,
      s"hash width must be in [1, 63] (non-negative BIGINT), got $bits")
    require(bits % blocks == 0, s"blocks=$blocks must divide bits=$bits")
    require(maxHamming < blocks,
      s"pigeonhole needs maxHamming < blocks, got $maxHamming/$blocks")
    // No checkpoint here, unlike the SELF-join in hammingPairs: each
    // banded frame feeds exactly one join side, so there is no shared
    // subtree to materialize — eager checkpoints would only add passes.
    val cB = simhashBanded(corpusSh, bits, blocks)
    val bB = simhashBanded(batchSh, bits, blocks)
    // Same filter-before-dedup-exchange reorder as [[hammingPairs]]
    // (round-16, guide §2.3): the random band-collision candidate set
    // dwarfs the hamming ball, and hamming is pair-determined, so
    // filtering first shrinks the distinct's exchange to the true
    // near-dup pairs without changing a row.
    bB.as("a")
      .join(cB.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The artifact bundle of [[commitHashArtifacts]]: per-arrival gate
    * verdicts and the committed (id, simhash) table the next delivery
    * gates against. */
  case class CommittedHashes(verdicts: DataFrame, committed: DataFrame)

  /** COMMIT face of the perceptual-hash table — the media analog of
    * [[commitArtifacts]], closing the loop for every (id, hash) artifact
    * the hamming engine consumes (text simhash, image dHash, video frame
    * hashes, audio window fingerprints are all this shape).
    *
    * Gate: an arrival is `dup_corpus` if any corpus hash lies within
    * `maxHamming` ([[hammingPairsIncremental]], the ingest gate every
    * modality already uses); otherwise `dup_batch` if any LOWER-id
    * arrival lies within the radius (deterministic min-id keeper —
    * chains collapse toward the earliest arrival, the near-dup analog of
    * [[incrementalExact]]'s `dup_batch`; NOTE: unlike the exact case the
    * lower-id neighbor may itself be `dup_corpus`, in which case the
    * higher arrival is still suppressed — one pass, no graph peeling);
    * otherwise `new`. Commit: the
    * hash table gains exactly the `new` arrivals' rows — a bare union,
    * exact because ids are disjoint (a batch-sized semi-join `require`,
    * the same load-bearing guard as [[commitArtifacts]]').
    *
    * Scale shape: both verdict terms are band-bucketed pair joins
    * (never corpus × batch, never batch²); the fold is a batch-sized
    * delta appended to a materialized table. Re-gate closure holds by
    * construction: re-delivering a committed batch matches its own
    * committed hash at hamming 0 and gates `dup_corpus`. */
  def commitHashArtifacts(
      corpusHashes: DataFrame,
      arrivals: DataFrame,
      bits: Int,
      maxHamming: Int,
      blocks: Int
  ): CommittedHashes = {
    val corpus = corpusHashes.select("id", "simhash").localCheckpoint(true)
    val batch = arrivals.select("id", "simhash").localCheckpoint(true)
    val idClashes = batch
      .join(corpus.select("id"), Seq("id"), "left_semi")
      .count()
    require(idClashes == 0L,
      s"commitHashArtifacts: $idClashes arrival id(s) already exist in " +
        "the corpus hash table — ids must be disjoint (re-key the batch " +
        "before committing)")
    val corpusDup = hammingPairsIncremental(
        corpus, batch, bits, maxHamming, blocks)
      .select(col("id_a").as("id")).distinct()
      .withColumn("dup_corpus", lit(1))
    // hammingPairs emits id_a < id_b pairs: the HIGHER id of a batch
    // near-dup pair is the dup_batch side (min-id keeper).
    val batchDup = hammingPairs(batch, bits, maxHamming, blocks)
      .select(col("id_b").as("id")).distinct()
      .withColumn("dup_batch", lit(1))
    val verdicts = batch
      .join(corpusDup, Seq("id"), "left")
      .join(batchDup, Seq("id"), "left")
      .select(
        col("id"),
        col("simhash"),
        when(col("dup_corpus") === 1, lit("dup_corpus"))
          .when(col("dup_batch") === 1, lit("dup_batch"))
          .otherwise(lit("new"))
          .as("verdict"))
    val committed = corpus.unionByName(
      verdicts.filter(col("verdict") === "new").select("id", "simhash"))
    CommittedHashes(verdicts, committed)
  }

  /** RETRACTION of a perceptual-hash table — the takedown inverse of
    * [[commitHashArtifacts]], for any media modality the hamming engine
    * serves (image dHash, video frame hashes, audio window
    * fingerprints). Unlike the text corpus's artifacts
    * ([[retractArtifacts]]), the hash table carries NO content-keyed
    * set, df sidecar, or cap-filtered projection — it is one id-keyed
    * row per hashed unit — so the id anti-join IS the exact
    * retraction: retracted == rebuilt-from-scratch on corpus \ deleted
    * by construction, and retract ∘ commit == identity on the commit's
    * own accepted batch (MediaRetractSpec pins both, plus the gate
    * consequence: a twin of a retracted original re-gates as `new`).
    * The hash FUNCTION has no trained state, so nothing here is a
    * retrain decision — deletion is complete at the anti-join.
    *
    * For frame-level tables (video, audio windows), pass the CONTAINER
    * ids through the same `media_id·10 + unit_idx` encoding the table
    * itself uses — e.g. retracting clip 42 means deleting ids
    * 420..429, which [[frameIdsOf]]-style expansion produces
    * batch-side; this operator takes the already-encoded unit ids.
    *
    * Scale shape: one broadcastable anti-join on the (id, 8-byte hash)
    * table; the blob store's deletion is the caller's side effect. */
  def retractHashArtifacts(
      corpusHashes: DataFrame,
      deleteIds: DataFrame
  ): DataFrame =
    corpusHashes.join(
      deleteIds.select("id").distinct(), Seq("id"), "left_anti")

  // -------------------------------------------------------------------------
  // Benchmark decontamination
  // -------------------------------------------------------------------------

  /** Benchmark decontamination: flag corpus documents sharing word n-gram
    * shingles with an evaluation/benchmark set — the standard
    * training-data hygiene step (GPT-3 appendix C / PaLM-style n-gram
    * overlap; they use 8-13-grams, `n` is a parameter here).
    *
    * Scale shape: eval suites are MBs while the corpus is TBs, so the
    * bench shingle set is broadcast and the corpus side is ONE pass —
    * a broadcast left join marking hits, then a single groupBy(doc).
    * The corpus is never self-joined and never shuffled on the shingle;
    * the only corpus-sized shuffle is the per-doc aggregation (and the
    * shingle distinct inside [[shingleRows]]).
    *
    * Returns contaminated docs only (n_hits ≥ minHits):
    * (id, n_shingles, n_hits, contamination = n_hits/n_shingles). */
  def contamination(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minHits: Long = 1L
  ): DataFrame = {
    val docSh = shingleRows(docs, idCol, textCol, n)
    val benchSh = shingleRows(bench, idCol, textCol, n)
      .select(col("shingle")).distinct()
    docSh
      .join(broadcast(benchSh.withColumn("hit", lit(1))), Seq("shingle"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0))).as("n_hits"))
      .filter(col("n_hits") >= minHits)
      .withColumn(
        "contamination", round(col("n_hits") / col("n_shingles"), 6))
  }

  // -------------------------------------------------------------------------
  // Targeted data selection (importance weights)
  // -------------------------------------------------------------------------

  /** DSIR-style IMPORTANCE WEIGHTS for targeted data selection (the
    * hashed-n-gram importance-resampling recipe of Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling" —
    * public): score every RAW document by how much its hashed n-gram
    * features look like a small TARGET set, using document-frequency
    * multinomials over the same hashed shingle space the dedup family
    * uses. The ratio is pinned in EXACT integers — per feature,
    * `weight = (df_target + 1) · 10^6 DIV (df_raw + 1)` (the smoothed
    * likelihood ratio, DIV-truncated at micro precision — the same
    * exact-integer discipline as the PageRank recurrence) and a
    * document's score is the exact BIGINT sum of its distinct
    * features' weights — so the whole face is hash-checkable
    * cross-engine, which a float log-ratio never is. Resampling is
    * then one seeded weighted draw over `score_micros` (the
    * weighted-sample face).
    *
    * Scale shape: two df aggregations (the target side is
    * eval-suite-sized; the raw side is ONE corpus-wide shingle-keyed
    * partial agg) and one shingle-keyed join of corpus features
    * against the weight table — the BM25 two-scan discipline; the
    * corpus is never self-joined and the target df table broadcasts.
    *
    * Returns (id, n_features, score_micros). */
  def dsirWeights(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3
  ): DataFrame = {
    val rawSh = shingleRows(raw, idCol, textCol, n)
    val tgtDf = shingleRows(target, idCol, textCol, n)
      .groupBy("shingle").agg(count(lit(1)).as("dft"))
    val rawDf = rawSh.groupBy("shingle").agg(count(lit(1)).as("dfr"))
    val weights = rawDf
      .join(broadcast(tgtDf), Seq("shingle"), "left")
      .select(
        col("shingle"),
        expr("((coalesce(dft, CAST(0 AS BIGINT)) + 1) * 1000000) DIV (dfr + 1)")
          .as("wgt"))
    rawSh
      .join(weights, Seq("shingle"))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_features"),
        sum(col("wgt")).as("score_micros"))
  }

  // -------------------------------------------------------------------------
  // Intra-document repetition removal
  // -------------------------------------------------------------------------

  /** Intra-document sentence dedup (the Gopher / RefinedWeb "repetition
    * removal" step, applied at sentence granularity): drop every repeat of
    * an already-seen sentence WITHIN a document, keeping first occurrences
    * in their original order. Duplicated boilerplate sentences are the
    * dominant intra-doc noise in web-scale corpora.
    *
    * Scale shape: zero document-level shuffling beyond one (doc, sentence)
    * keyed window + one per-doc aggregation — each document's sentences
    * stay together, work is linear in total sentence count, and documents
    * never interact (embarrassingly parallel across the corpus).
    *
    * Returns (id, n_sentences, n_kept, clean_md5): counts before/after
    * plus the md5 of the deduped text (first occurrences joined with
    * ". " in position order) — the digest keeps the output narrow no
    * matter how large the document is. */
  def intraDocSentenceDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      splitRegex: String = graft.text.TextFunctions.PortableSentenceSplit
  ): DataFrame = {
    val sent = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), splitRegex)).as(Seq("pos", "raw")))
      .select(col("id"), col("pos"), trim(col("raw")).as("sentence"))
      .filter(length(col("sentence")) > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id", "sentence")
    sent
      .withColumn("first_pos", min(col("pos")).over(w))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_sentences"),
        countDistinct(col("sentence")).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("pos") === col("first_pos"),
                struct(col("pos"), col("sentence"))))),
            x => x.getField("sentence")),
          ". ")).as("clean_md5"))
  }

  /** CROSS-document sentence dedup, keep-FIRST policy (the CCNet-style
    * corpus-wide paragraph dedup, at sentence granularity): every
    * sentence instance in the corpus is kept iff it is the globally
    * first occurrence of that sentence — ordered by (doc id, position) —
    * so exactly one copy of every repeated sentence survives anywhere
    * in the corpus. The complement of [[boilerplate]]'s policy (which
    * flags ALL copies of high-df sentences): here later copies drop and
    * the first stays, the semantics a training corpus wants when the
    * repeated sentence is content, not chrome.
    *
    * Returns per-doc (id, n_sentences, n_kept, clean_md5) — the same
    * narrow digest as [[intraDocSentenceDedup]] (kept sentences joined
    * ". " in position order, md5'd), so the output never carries
    * document bodies.
    *
    * Scale shape: sentences hash to 60-bit longs before the global
    * keeper election, so the corpus-wide shuffle carries (8-byte hash,
    * id, pos) rows; the election is one groupBy(hash).min(struct) —
    * map-side combinable — joined back on the hash. Hot sentences
    * (classic boilerplate) concentrate on single keys exactly like hot
    * fingerprints in exact dedup; the min-struct aggregate is
    * associative, so AQE/partial aggregation absorbs the skew. */
  /** Shared sentence-instance rows of every cross-doc sentence face:
    * (id, pos, sentence, sh) — positioned, trimmed, non-empty, 60-bit
    * hashed. */
  private[dedup] def sentenceRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      splitRegex: String
  ): DataFrame = df
    .select(col(idCol).as("id"),
      posexplode(split(col(textCol), splitRegex)).as(Seq("pos", "raw")))
    .select(col("id"), col("pos"), trim(col("raw")).as("sentence"))
    .filter(length(col("sentence")) > 0)
    .withColumn("sh", hash60(col("sentence")))

  def crossDocSentenceDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      splitRegex: String = graft.text.TextFunctions.PortableSentenceSplit
  ): DataFrame = {
    val sent = sentenceRows(df, idCol, textCol, splitRegex)
    val keepers = sent
      .groupBy("sh")
      .agg(min(struct(col("id"), col("pos"))).as("keeper"))
      .select(col("sh"),
        col("keeper.id").as("keep_id"), col("keeper.pos").as("keep_pos"))
    sent
      .join(keepers, Seq("sh"))
      .withColumn("kept",
        col("id") === col("keep_id") && col("pos") === col("keep_pos"))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_sentences"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("pos"), col("sentence"))))),
            x => x.getField("sentence")),
          ". ")).as("clean_md5"))
  }

  /** The DISTINCT sentence-hash set of a corpus — the stored deploy-time
    * artifact the incremental/streaming sentence gates read and the
    * commit face folds. */
  def sentenceHashSet(
      df: DataFrame,
      idCol: String,
      textCol: String,
      splitRegex: String = graft.text.TextFunctions.PortableSentenceSplit
  ): DataFrame =
    sentenceRows(df, idCol, textCol, splitRegex).select("sh").distinct()

  /** INCREMENTAL cross-doc sentence dedup — the ingest-gate face of
    * [[crossDocSentenceDedup]]: arriving documents clean against the
    * FROZEN corpus sentence-hash set (an arriving sentence drops iff
    * the corpus already has it, or an earlier position of the SAME
    * arriving document does — arrivals never see each other, the
    * standard gate semantics that keeps the fold batching-invariant).
    * Same per-doc narrow digest output as the batch face. */
  def sentenceDedupIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      splitRegex: String = graft.text.TextFunctions.PortableSentenceSplit
  ): DataFrame =
    sentenceCleanAgainstSet(
      sentenceRows(corpus, idCol, textCol, splitRegex)
        .select("sh").distinct(),
      batch, idCol, textCol, splitRegex)

  /** [[sentenceDedupIncremental]] against a PRE-BUILT corpus hash set
    * (the stored deploy-time artifact) — the form the streaming gate
    * folds per micro-batch. The per-doc rollup is arrival-local: all of
    * a document's sentences travel in its one row. */
  def sentenceCleanAgainstSet(
      corpusHashes: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      splitRegex: String = graft.text.TextFunctions.PortableSentenceSplit
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id", "sh")
    sentenceRows(batch, idCol, textCol, splitRegex)
      .withColumn("first_pos", min(col("pos")).over(w))
      .join(corpusHashes.withColumn("in_corpus", lit(true)),
        Seq("sh"), "left")
      .withColumn("kept",
        col("in_corpus").isNull && col("pos") === col("first_pos"))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_sentences"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("pos"), col("sentence"))))),
            x => x.getField("sentence")),
          ". ")).as("clean_md5"))
  }

  /** COMMIT face of the sentence-hash artifact: the set the incremental
    * gate reads grows by exactly the arrivals' kept sentences. The fold
    * is a distinct union, EXACT against rebuild-from-scratch because a
    * kept sentence is by definition absent from the corpus set and the
    * union dedups sentences shared between arriving documents. Returns
    * the committed hash set; [[commitSentenceReadout]] gives the 1-row
    * count readout the oracle checks. */
  def committedSentenceHashes(
      corpusHashes: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      splitRegex: String = graft.text.TextFunctions.PortableSentenceSplit
  ): DataFrame =
    corpusHashes
      .unionByName(
        sentenceRows(batch, idCol, textCol, splitRegex)
          .join(corpusHashes.withColumn("in_corpus", lit(true)),
            Seq("sh"), "left")
          .filter(col("in_corpus").isNull)
          .select("sh"))
      .distinct()

  /** 1-row (n_corpus, n_new, n_committed) readout of
    * [[committedSentenceHashes]] — counts crossJoined 1×1, the commit
    * family's readout shape. */
  def commitSentenceReadout(
      corpusHashes: DataFrame,
      committed: DataFrame
  ): DataFrame = {
    val a = corpusHashes.agg(count(lit(1)).as("n_corpus"))
    val b = committed.agg(count(lit(1)).as("n_committed"))
    a.crossJoin(b)
      .withColumn("n_new", col("n_committed") - col("n_corpus"))
      .select("n_corpus", "n_new", "n_committed")
  }

  /** RETRACTION (takedown) of the sentence-hash artifact — the commit
    * face's inverse, with the content-keyed subtlety every shared-
    * content set has (the fingerprint/span-fp sets in
    * [[retractArtifacts]]): a hash leaves the set iff NO surviving
    * document still produces it. The retention scan is deleted-set
    * bounded — the survivors' sentence stream semi-joins the deleted
    * documents' hash set BEFORE any distinct, so the rescan reduces to
    * rows that could possibly matter, never a full re-aggregation.
    * `deletedIds` carries one `idCol` column. */
  def retractSentenceHashes(
      committed: DataFrame,
      docs: DataFrame,
      deletedIds: DataFrame,
      idCol: String,
      textCol: String,
      splitRegex: String = graft.text.TextFunctions.PortableSentenceSplit
  ): DataFrame = {
    val deleted = docs.join(deletedIds, Seq(idCol), "semi")
    val survivors = docs.join(deletedIds, Seq(idCol), "anti")
    val delSet = sentenceHashSet(deleted, idCol, textCol, splitRegex)
    val retained = sentenceRows(survivors, idCol, textCol, splitRegex)
      .join(delSet, Seq("sh"), "semi")
      .select("sh").distinct()
    val toRemove = delSet.join(retained, Seq("sh"), "anti")
    committed.join(toRemove, Seq("sh"), "anti")
  }

  /** Per-document N-GRAM NOVELTY against a frozen corpus: for every
    * batch document, (distinct word-n-gram shingle count, how many of
    * those shingles exist anywhere in the corpus, and the unseen
    * fraction in exact integer micros). Low novelty on a document no
    * near-dup pair flags means it is a paraphrase mosaic of corpus
    * content — the signal pairwise Jaccard thresholds structurally
    * miss. Documents too short to shingle (< n words) emit no row.
    *
    * Scale shape: one hash join of batch (8-byte shingle, id) rows
    * against the corpus's DISTINCT shingle set — the decontamination
    * gate's shuffle; in production the corpus side is the stored
    * shingle-set artifact the commit family maintains. */
  def ngramNovelty(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3
  ): DataFrame =
    ngramNoveltyFromRows(
      shingleRows(corpus, idCol, textCol, n).select("shingle").distinct(),
      shingleRows(batch, idCol, textCol, n, spread = false))

  /** [[ngramNovelty]] over pre-built shingle tables: `corpusShingles` is
    * the DISTINCT corpus shingle set (the stored deploy-time artifact),
    * `batchRows` the batch's (id, shingle) rows. The per-doc aggregation
    * is batch-row-local, which is what makes the streaming face's
    * per-micro-batch fold exact. */
  def ngramNoveltyFromRows(
      corpusShingles: DataFrame,
      batchRows: DataFrame
  ): DataFrame =
    batchRows
      .join(corpusShingles.withColumn("seen", lit(1L)),
        Seq("shingle"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
      .withColumn("novelty_micros",
        expr("(n_shingles - n_seen) * 1000000 DIV n_shingles"))

  /** Cross-document boilerplate detection (the ACROSS-docs line dedup of
    * RefinedWeb-style cleaning, at sentence granularity): a sentence
    * occurring in ≥ `minDocs` distinct documents is boilerplate (headers,
    * footers, cookie banners, license blurbs). Returns per-doc
    * (id, n_sentences, n_boiler, boiler_ratio).
    *
    * Scale shape: sentences are hashed to 60-bit longs BEFORE the
    * document-frequency aggregation, so the corpus-wide shuffle carries
    * 8-byte keys; the df side reduces to the (hash, df≥minDocs) flag set
    * before joining back — at web scale that join is the standard
    * sentence-hash shuffle join, and the flag set is a candidate for a
    * Bloom pre-probe exactly like [[incrementalExact]]'s corpus side. */
  def boilerplate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Long = 3L,
      splitRegex: String = graft.text.TextFunctions.PortableSentenceSplit
  ): DataFrame = {
    val sent = df
      .select(col(idCol).as("id"),
        explode(split(col(textCol), splitRegex)).as("raw"))
      .select(col("id"), trim(col("raw")).as("s"))
      .filter(length(col("s")) > 0)
      .select(col("id"), hash60(col("s")).as("sh"))
    val flagged = sent
      .distinct()
      .groupBy("sh")
      .agg(count(lit(1)).as("df_docs"))
      .filter(col("df_docs") >= minDocs)
      .select(col("sh"), lit(1).as("boiler"))
    sent
      .join(flagged, Seq("sh"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_sentences"),
        sum(coalesce(col("boiler"), lit(0))).cast("long").as("n_boiler"))
      .withColumn("boiler_ratio",
        round(col("n_boiler") / col("n_sentences"), 6))
  }

  /** Positioned word n-gram windows over a MATERIALIZED words array:
    * (0-based start position, '_'-joined window). The positional twin of
    * [[shinglesOfWords]], for span-level operators that need to know
    * WHERE a window sits, not just that it exists. */
  def posShingles(w: Column, n: Int): Column =
    when(size(w) < n, expr("CAST(array() AS array<struct<pos:int,s:string>>)"))
      .otherwise(
        transform(
          sequence(lit(1), size(w) - (n - 1)),
          i => {
            val pieces = (0 until n)
              .map(k => element_at(w, (i + lit(k)).cast("int")))
            struct(
              (i - 1).cast("int").as("pos"),
              concat(pieces.flatMap(p => Seq(p, lit("_"))).dropRight(1): _*)
                .as("s"))
          }
        )
      )

  /** Corpus-wide duplicate SPAN detection — the scalable face of exact
    * substring deduplication (Lee et al. 2022, arXiv:2107.06499: ~50-token
    * exact duplicates riddle web corpora and measurably hurt LMs; their
    * exact tool is a single-machine suffix array, which has no distributed
    * twin — fingerprinted fixed-width windows are the standard scale-out
    * approximation). A window of `w` tokens is a duplicate span iff its
    * fingerprint occurs in ≥ `minDocs` distinct documents. Per document,
    * overlapping duplicate windows are merged by interval union
    * (gaps-and-islands: a window opens a new island only when its start
    * exceeds the running max end), so `dup_tokens` counts each duplicated
    * token once no matter how many windows cover it.
    *
    * Scale shape: windows are hashed to 60-bit longs pre-shuffle; the df
    * aggregation reduces to the (fingerprint ≥ minDocs) flag set before
    * joining back (same discipline as [[boilerplate]]); the interval
    * union is a doc_id-keyed window — partition-parallel, documents never
    * interact after the flag join. */
  def duplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8,
      minDocs: Long = 2L
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // toks feeds BOTH the span explode and the final n_tokens join —
    // checkpointed so the corpus is scanned and split exactly once (the
    // md5-heavy spans frame below is separately materialized for ITS two
    // consumers; re-deriving it from toks would re-hash every window).
    val toks = df.select(col(idCol).as("id"), words(col(textCol)).as("wd"))
      .localCheckpoint(true)
    val spans = toks
      .select(col("id"), explode(posShingles(col("wd"), w)).as("ps"))
      .select(col("id"), col("ps.pos").as("pos"), hash60(col("ps.s")).as("fp"))
      .localCheckpoint(true)
    val dupFps = spans
      .select("id", "fp").distinct()
      .groupBy("fp").agg(count(lit(1)).as("df_docs"))
      .filter(col("df_docs") >= minDocs)
      .select("fp")
    val dup = spans.join(dupFps, Seq("fp"))
    val ord = Window.partitionBy("id").orderBy("pos")
    val islands = dup
      .withColumn(
        "prev_end",
        max(col("pos") + w)
          .over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn(
        "opens",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn(
        "island",
        sum(col("opens")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("id", "island")
      .agg(min(col("pos")).as("s"), max(col("pos") + w).as("e"))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_islands"),
        sum(col("e") - col("s")).as("dup_tokens"))
    val dupCounts = dup.groupBy("id").agg(count(lit(1)).as("n_dup_spans"))
    toks
      .select(col("id"), size(col("wd")).cast("long").as("n_tokens"))
      .join(dupCounts, Seq("id"), "left")
      .join(islands, Seq("id"), "left")
      .select(
        col("id"),
        col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_islands"), lit(0L)).as("n_islands"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"), 6)
          .as("dup_ratio"))
  }

  /** Duplicate-span REMOVAL — the rewrite [[duplicateSpans]] measures for
    * (exact-substring dedup, Lee et al. 2022, arXiv:2107.06499: the
    * published operation keeps ONE occurrence of each ~50-token repeated
    * substring and excises the rest; reference scale-out practice swaps
    * their single-machine suffix array for fingerprinted fixed-width
    * windows, same as the detector). Keeper discipline matches the
    * exact-dedup keep-list: for each duplicate fingerprint (window text
    * in ≥ `minDocs` distinct docs) the FIRST-occurring document —
    * min doc id — keeps its span; every other document gets the
    * interval-union of its removable windows excised, and the text is
    * re-stitched from the surviving tokens (single-space joined over the
    * [[words]] tokenization, the same canonical form every shingle
    * operator in this file already works over).
    *
    * Output per document (every input doc appears, untouched docs with
    * n_removed = 0): (id, n_tokens, n_kept, n_removed, clean_text).
    *
    * Single-pass caveat (inherent to span excision, not this
    * implementation): stitching the tokens AROUND an excised interval
    * creates new w-windows at the junction, and those can in principle
    * duplicate windows of other documents ("a b R S c d" minus "R S"
    * becomes "a b c d", which may now equal a doc that said that all
    * along) — so a re-scan is zero-residual when junctions don't
    * collide (spec-pinned on the fixture), and a pipeline wanting a
    * guarantee iterates detect→remove to fixpoint; each pass is this
    * operator.
    *
    * Scale shape — same discipline as the detector: windows hash to
    * 60-bit longs pre-shuffle; the keeper election is one fp-keyed
    * aggregation reduced to (fp, keeper) before joining back; the
    * interval union is a doc-keyed window (documents never interact
    * after the flag join); the final excision is MAP-SIDE — the per-doc
    * interval list (bounded by islands-per-doc, not corpus size) rides a
    * doc-keyed join and an index-aware `filter` lambda drops covered
    * tokens with no further shuffle. The token-filter is
    * O(n_tokens · n_islands) per doc — doc-bounded, never corpus². */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8,
      minDocs: Long = 2L
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"), words(col(textCol)).as("wd"))
      .localCheckpoint(true)
    val spans = toks
      .select(col("id"), explode(posShingles(col("wd"), w)).as("ps"))
      .select(col("id"), col("ps.pos").as("pos"), hash60(col("ps.s")).as("fp"))
      .localCheckpoint(true)
    val keepers = spans
      .select("id", "fp").distinct()
      .groupBy("fp")
      .agg(count(lit(1)).as("df_docs"), min(col("id")).as("keeper"))
      .filter(col("df_docs") >= minDocs)
      .select("fp", "keeper")
    // Removable = duplicate windows in NON-keeper docs only: the keeper
    // keeps every occurrence of its fingerprints (including intra-doc
    // repeats — df is distinct-doc, so a doc repeating itself is its own
    // keeper and loses nothing here; intraDocDedup is the operator for
    // that).
    val removable = spans.join(keepers, Seq("fp"))
      .filter(col("id") =!= col("keeper"))
      .select("id", "pos")
    exciseIntervals(toks, removable, w)
  }

  /** Shared excision tail of the span-removal family: interval-union the
    * removable `(id, pos)` windows per doc (the gaps-and-islands window
    * of [[duplicateSpans]]), then drop the covered tokens MAP-SIDE via a
    * per-doc interval list and an index-aware `filter` lambda, and
    * re-stitch `clean_text`. Doc-keyed shuffles only. */
  private[dedup] def exciseIntervals(
      toks: DataFrame,
      removable: DataFrame,
      w: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy("id").orderBy("pos")
    val islands = removable
      .withColumn(
        "prev_end",
        max(col("pos") + w)
          .over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn(
        "opens",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn(
        "island",
        sum(col("opens")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("id", "island")
      .agg(min(col("pos")).as("s"), max(col("pos") + w).as("e"))
    val ivs = islands.groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"))
    toks.join(ivs, Seq("id"), "left")
      .withColumn(
        "kept",
        when(col("ivs").isNull, col("wd"))
          .otherwise(expr(
            "filter(wd, (tok, j) -> NOT exists(ivs, iv -> j >= iv.s AND j < iv.e))")))
      .select(
        col("id"),
        size(col("wd")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        (size(col("wd")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  /** Incremental span removal — the batch×corpus face of
    * [[removeDuplicateSpans]], completing the incremental family for the
    * span operators: the corpus is canonical (already deduplicated, keeps
    * everything), and an ARRIVING batch document has every w-token window
    * already present anywhere in the corpus excised before ingest. No
    * batch×batch comparison and no minDocs election — presence in the
    * corpus alone makes a window removable (the corpus side is the
    * keeper by definition), mirroring [[incrementalExact]]'s verdict
    * discipline. Returns the rewritten batch
    * (id, n_tokens, n_kept, n_removed, clean_text).
    *
    * Scale shape: the corpus collapses to its DISTINCT window-fingerprint
    * set before the join (map-side partial distinct of 8-byte keys —
    * computable once at ingest and persistable, like the exact-dedup
    * fingerprint set); the flag join is fp-keyed batch-sized; islands
    * and stitching are the doc-keyed [[exciseIntervals]] tail over batch
    * rows only. The corpus text is scanned once, the batch twice (spans
    * + stitch, both from the checkpointed token frame). */
  def removeDuplicateSpansIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8
  ): DataFrame =
    spansIncremental(corpus, batch, idCol, textCol, w)._1

  /** [[removeDuplicateSpansIncremental]] plus its checkpointed token
    * frame, for a caller that materializes the result and can then
    * release the tokens. */
  private def spansIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      w: Int
  ): (DataFrame, DataFrame) = {
    val toks = batch.select(col(idCol).as("id"), words(col(textCol)).as("wd"))
      .localCheckpoint(true)
    val bSpans = toks
      .select(col("id"), explode(posShingles(col("wd"), w)).as("ps"))
      .select(col("id"), col("ps.pos").as("pos"), hash60(col("ps.s")).as("fp"))
    val corpusFps = spanFpSet(corpus, idCol, textCol, w)
    val removable = bSpans.join(corpusFps, Seq("fp")).select("id", "pos")
    (exciseIntervals(toks, removable, w), toks)
  }

  /** The corpus SPAN-FINGERPRINT artifact: the distinct 60-bit hashes of
    * every w-word window — what [[removeDuplicateSpansIncremental]]
    * excises against, and the third canonical artifact
    * [[commitArtifacts]] folds batches into. */
  def spanFpSet(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int
      ,
      spread: Boolean = true
  ): DataFrame = {
    val src = df.select(col(idCol).as("id"), col(textCol).as("text"))
    (if (spread) spreadNarrow(src) else src)
      .select(words(col("text")).as("wd"))
      .select(explode(posShingles(col("wd"), w)).as("ps"))
      .select(hash60(col("ps.s")).as("fp"))
      .distinct()
  }

  /** Per-doc sorted shingle-set arrays from distinct (id, blk, shingle)
    * rows — the [[shingleSetTable]] shape built from an already-computed
    * shingle pass (one blk per doc, so the arrays match it exactly). */
  private[dedup] def shingleSetsOfRows(rows: DataFrame): DataFrame = rows
    .groupBy("id")
    .agg(sort_array(collect_set(col("shingle"))).as("shingles"))

  /** The artifact bundle of [[commitArtifacts]]: the corpus artifacts as
    * a deploy would load them, the batch-side deltas, the cleaned
    * accepted documents, and the committed (corpus ∪ delta) artifacts
    * the NEXT delivery gates against. */
  case class CommittedArtifacts(
      corpusFingerprints: DataFrame,
      corpusBands: DataFrame,
      corpusSpanFps: DataFrame,
      accepted: DataFrame,
      deltaFingerprints: DataFrame,
      deltaBands: DataFrame,
      deltaSpanFps: DataFrame,
      fingerprints: DataFrame,
      bandTable: DataFrame,
      spanFps: DataFrame,
      // Round-11 commit faces: every artifact a streaming gate consumes
      // now compacts — the SimHash band table ([[simhashBandTable]],
      // read by simhashGateStream), the df-capped n-gram posting
      // artifact ([[ngramPostingTable]], read by ngramGateStream) with
      // its FULL document-frequency sidecar, and the per-doc shingle-set
      // table ([[shingleSetTable]], the verify side of both shingle
      // gates).
      corpusSimhashBands: DataFrame,
      deltaSimhashBands: DataFrame,
      simhashBands: DataFrame,
      corpusNgramPostings: DataFrame,
      corpusNgramDf: DataFrame,
      deltaNgramRows: DataFrame,
      ngramPostings: DataFrame,
      ngramDf: DataFrame,
      corpusShingleSets: DataFrame,
      deltaShingleSets: DataFrame,
      shingleSets: DataFrame)

  /** CORPUS COMMIT / COMPACTION — close the ingest loop. Every
    * incremental operator in this file treats the corpus artifacts as
    * frozen; this is the missing last step that folds an ACCEPTED batch
    * into updated artifacts, so the ingest story ends at "admitted",
    * not "flagged". Gate → clean → commit:
    *
    *   1. GATE: [[incrementalExact]] classifies the batch against the
    *      corpus fingerprint set; only `new` rows (first occurrence
    *      anywhere) ingest.
    *   2. CLEAN: [[removeDuplicateSpansIncremental]] excises every batch
    *      window already present in the corpus — the committed document
    *      is the cleaned one (lowercased kept words, the rewrite's
    *      canonical form).
    *   3. COMMIT: each canonical artifact gains its batch-sized delta —
    *      distinct fingerprint set ∪= cleaned fingerprints, MinHash band
    *      table ∪= cleaned band rows ([[bandTable]]), span fp set ∪=
    *      cleaned span fps ([[spanFpSet]]), SimHash band table ∪=
    *      cleaned simhash band rows ([[simhashBandTable]]), shingle-set
    *      table ∪= cleaned per-doc sets ([[shingleSetTable]]), and the
    *      df-capped n-gram posting artifact re-compacts (below).
    *
    * The posting fold is the one artifact with GLOBAL state (the df
    * cap), so the stored pair is (capped postings, FULL df sidecar):
    * fold = merge the df tables by sum, then cap-filter the row union.
    * Exact because df is monotone under ingest — a shingle over cap in
    * the corpus has no stored rows and can never re-enter; one under
    * cap has ALL its corpus rows stored, so the union sees every row of
    * corpus ∪ accepted and the filter reproduces the from-scratch
    * artifact.
    *
    * Scale shape: here the corpus artifacts are BUILT (checkpointed
    * once); in production they are already-materialized tables, and
    * every commit-time term is batch-sized except the df merge (a
    * batch-shingle-keyed upsert into a materialized table) — the
    * distinct-unions are the compaction, a merge of a materialized set
    * with a batch delta, never a corpus × batch join.
    * CommitArtifactsSpec pins the defining law: each committed artifact
    * equals the artifact recomputed FROM SCRATCH on corpus ∪ accepted. */
  def commitArtifacts(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      w: Int,
      simhashBlocks: Int = 4,
      ngramBlockCol: Column = lit(0L),
      ngramN: Int = 3,
      maxShingleDf: Int = DefaultShingleDfCap
  ): CommittedArtifacts = {
    val fpc = graft.text.TextFunctions.fingerprintCol _
    val corpusDocs = corpus
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .localCheckpoint(true)
    val batchDocs = batch.select(col(idCol).as("id"), col(textCol).as("text"))
    // The five corpus-artifact materializations and the batch
    // gate→clean chain depend only on the ALREADY-materialized
    // corpusDocs — running them sequentially serialized six independent
    // Spark jobs (round-16 measurement: 74 serial jobs, wall 11.3 s vs
    // 0.5 s of ideal 32-core task time for the whole query). Submit
    // them concurrently (graft.Par — guide §2.6 "overlap independent
    // jobs"); each thunk materializes exactly what the sequential code
    // did, so results are unchanged and every later consumer reads
    // checkpointed blocks as before. On a loud failure (the id-clash
    // check below, or any thunk error) checkpointAll releases what the
    // siblings materialized, corpusDocs included (its first thunk).
    val round1 = graft.Par.checkpointAll(
      () => corpusDocs,
      () => {
        val verdicts = incrementalExact(corpusDocs, batchDocs, "id", "text")
        val acceptedRaw = batchDocs
          .join(verdicts.filter(col("verdict") === "new").select("id"),
            Seq("id"))
        val (cleaned, toks) =
          spansIncremental(corpusDocs, acceptedRaw, "id", "text", w)
        // The token frame is dead once the accepted frame materialized,
        // on the success and on the id-clash path alike.
        val acc =
          try cleaned.select(col("id"), col("clean_text").as("text"))
            .localCheckpoint(true)
          finally graft.Ckpt.release(toks)
        // Id-disjointness is load-bearing, not hygiene: the gate dedups
        // by CONTENT fingerprint only, so a batch doc reusing a corpus
        // doc id with different text passes the gate, and the
        // band-table union below would silently conflate two documents
        // under one id — breaking the committed == rebuilt-from-scratch
        // law and every id-keyed verify downstream. (Same-id same-text
        // can't reach here: its fingerprint is dup_corpus and the gate
        // rejects it.) The check is a batch-sized semi-join against the
        // checkpointed corpus ids. Thrown inside the Par barrier, it
        // still fails the whole call loudly (Par rethrows).
        val idClashes = acc
          .join(corpusDocs.select("id"), Seq("id"), "left_semi")
          .count()
        if (idClashes != 0L) graft.Ckpt.release(acc)
        require(idClashes == 0L,
          s"commitArtifacts: $idClashes accepted batch id(s) already " +
            "exist in the corpus with different content — ids must be " +
            "disjoint (re-key the batch before committing)")
        acc
      },
      () => corpusDocs
        .select(fpc(col("text")).as("fingerprint"))
        .filter(col("fingerprint").isNotNull)
        .distinct()
        .localCheckpoint(true),
      () => bandTable(corpusDocs, "id", "text", numHashes, bands)
        .localCheckpoint(true),
      () => spanFpSet(corpusDocs, "id", "text", w).localCheckpoint(true),
      // SimHash band table: per-row map work, so the fold is a bare
      // union — ids are disjoint (the guard above), making the union
      // exactly the rebuilt artifact.
      () => simhashBandTable(corpusDocs, "id", "text", simhashBlocks)
        .localCheckpoint(true),
      // N-gram posting artifact: stored as (capped postings, FULL df
      // sidecar); fold per the scaladoc. One checkpointed shingle pass
      // per side feeds postings, df and the per-doc set table.
      () => ngramShingleRows(corpusDocs, "id", "text", ngramBlockCol, ngramN)
        .localCheckpoint(true))
    val Seq(_, accepted, corpusFps, corpusBands, corpusSpans,
        corpusSimBands, corpusNgramRows) = round1
    // The delta shingle rows and the corpus df sidecar read round one's
    // frames, which ride along so that a failure here releases them too.
    val Seq(deltaNgramRows, corpusNgramDf) = graft.Par.checkpointAll(
      round1.map(f => () => f) ++ Seq(
        () => ngramShingleRows(accepted, "id", "text", ngramBlockCol, ngramN,
          spread = false)
          .localCheckpoint(true),
        () => corpusNgramRows
          .groupBy("blk", "shingle")
          .agg(count(lit(1)).as("df"))
          .localCheckpoint(true)): _*).takeRight(2)
    val deltaFps = accepted
      .select(fpc(col("text")).as("fingerprint"))
      .filter(col("fingerprint").isNotNull)
      .distinct()
    val deltaBands =
      bandTable(accepted, "id", "text", numHashes, bands, spread = false)
    val deltaSpans = spanFpSet(accepted, "id", "text", w, spread = false)
    val deltaSimBands =
      simhashBandTable(accepted, "id", "text", simhashBlocks, spread = false)
    val corpusNgramPostings = corpusNgramRows
      .join(
        corpusNgramDf.filter(col("df") <= maxShingleDf)
          .select("blk", "shingle"),
        Seq("blk", "shingle"))
      .select("blk", "shingle", "id")
    val deltaNgramDf = deltaNgramRows
      .groupBy("blk", "shingle")
      .agg(count(lit(1)).as("df"))
    val committedNgramDf = corpusNgramDf
      .unionByName(deltaNgramDf)
      .groupBy("blk", "shingle")
      .agg(sum(col("df")).as("df"))
      .localCheckpoint(true)
    val committedNgramPostings = corpusNgramPostings
      .unionByName(deltaNgramRows.select("blk", "shingle", "id"))
      .join(
        committedNgramDf.filter(col("df") <= maxShingleDf)
          .select("blk", "shingle"),
        Seq("blk", "shingle"))
      .select("blk", "shingle", "id")
    // Per-doc shingle-set table (the verify side of both shingle gates):
    // per-doc rows, disjoint ids — bare union, built from the SAME
    // checkpointed shingle pass as the postings.
    val corpusSets = shingleSetsOfRows(corpusNgramRows)
    val deltaSets = shingleSetsOfRows(deltaNgramRows)
    CommittedArtifacts(
      corpusFingerprints = corpusFps,
      corpusBands = corpusBands,
      corpusSpanFps = corpusSpans,
      accepted = accepted,
      deltaFingerprints = deltaFps,
      deltaBands = deltaBands,
      deltaSpanFps = deltaSpans,
      fingerprints = corpusFps.unionByName(deltaFps).distinct(),
      bandTable = corpusBands.unionByName(deltaBands),
      spanFps = corpusSpans.unionByName(deltaSpans).distinct(),
      corpusSimhashBands = corpusSimBands,
      deltaSimhashBands = deltaSimBands,
      simhashBands = corpusSimBands.unionByName(deltaSimBands),
      corpusNgramPostings = corpusNgramPostings,
      corpusNgramDf = corpusNgramDf,
      deltaNgramRows = deltaNgramRows,
      ngramPostings = committedNgramPostings,
      ngramDf = committedNgramDf,
      corpusShingleSets = corpusSets,
      deltaShingleSets = deltaSets,
      shingleSets = corpusSets.unionByName(deltaSets))
  }

  /** The seven gate-consumed artifact tables as a deployment stores
    * them — the retraction input shape ([[retractArtifacts]]); build
    * one from a corpus with [[gateArtifactsOf]], or take the committed
    * side of a [[CommittedArtifacts]]. */
  case class GateArtifacts(
      fingerprints: DataFrame,
      bandTable: DataFrame,
      spanFps: DataFrame,
      simhashBands: DataFrame,
      ngramPostings: DataFrame,
      ngramDf: DataFrame,
      shingleSets: DataFrame)

  /** The stored artifact bundle of a corpus — the same builders
    * [[commitArtifacts]] uses for its corpus side, packaged for
    * [[retractArtifacts]] and its specs. One checkpointed shingle pass
    * feeds postings, df sidecar and shingle sets. */
  def gateArtifactsOf(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      w: Int,
      simhashBlocks: Int = 4,
      ngramBlockCol: Column = lit(0L),
      ngramN: Int = 3,
      maxShingleDf: Int = DefaultShingleDfCap
  ): GateArtifacts = {
    val fpc = graft.text.TextFunctions.fingerprintCol _
    val docs = corpus
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .localCheckpoint(true)
    val rows = ngramShingleRows(docs, "id", "text", ngramBlockCol, ngramN)
      .localCheckpoint(true)
    val dfT = rows
      .groupBy("blk", "shingle")
      .agg(count(lit(1)).as("df"))
      .localCheckpoint(true)
    GateArtifacts(
      fingerprints = docs
        .select(fpc(col("text")).as("fingerprint"))
        .filter(col("fingerprint").isNotNull)
        .distinct(),
      bandTable = bandTable(docs, "id", "text", numHashes, bands),
      spanFps = spanFpSet(docs, "id", "text", w),
      simhashBands = simhashBandTable(docs, "id", "text", simhashBlocks),
      ngramPostings = rows
        .join(
          dfT.filter(col("df") <= maxShingleDf).select("blk", "shingle"),
          Seq("blk", "shingle"))
        .select("blk", "shingle", "id"),
      ngramDf = dfT,
      shingleSets = shingleSetsOfRows(rows))
  }

  /** Retraction output: the seven artifact tables after the delete,
    * plus the cap-crossing shingles whose postings were repaired. */
  case class RetractedArtifacts(
      fingerprints: DataFrame,
      bandTable: DataFrame,
      spanFps: DataFrame,
      simhashBands: DataFrame,
      ngramPostings: DataFrame,
      ngramDf: DataFrame,
      shingleSets: DataFrame,
      repairedShingles: DataFrame)

  /** CORPUS RETRACTION — the INVERSE of [[commitArtifacts]]: remove a
    * set of documents (takedown / right-to-be-forgotten) from every
    * stored gate artifact, EXACTLY — RetractSpec pins each retracted
    * table equal to the artifact rebuilt from scratch on
    * corpus \ deleted, and retract ∘ commit == identity on the
    * commit's own accepted batch.
    *
    * Per artifact:
    *   - band table, simhash bands, shingle sets: id-keyed rows — a
    *     plain anti-join is the exact retraction.
    *   - fingerprint set / span fp set: CONTENT-keyed sets, so a
    *     deleted doc's entry leaves only if NO remaining document still
    *     produces it. The retention check restricts the remaining
    *     corpus's (map-side) fp stream to the broadcast deleted-fp set
    *     before any distinct — the scan is one pass over the remaining
    *     texts' fp/window columns, never corpus × corpus.
    *   - df sidecar: decrement by the deleted docs' shingle counts
    *     (exact — df is additive), dropping rows that reach zero.
    *   - df-capped postings: id-keyed removal PLUS the repair that
    *     makes deletion exact: a shingle OVER the cap before the delete
    *     stored no rows, so if the decremented df falls back UNDER the
    *     cap its remaining postings must be reconstructed — one
    *     re-shingle pass over the remaining corpus, semi-joined to the
    *     (batch-sized) crossing set, and skipped entirely when no
    *     shingle crosses. This repair is the exact inverse of the
    *     commit fold's cap-crossing drop.
    *
    * Scale shape: everything is id-keyed anti-joins, broadcast-
    * restricted map-side scans, or batch-sized joins; the only
    * corpus-sized pass beyond the artifact scans themselves is the
    * crosser repair, which emits only crossing-shingle rows and runs
    * only when the crossing set is non-empty. */
  def retractArtifacts(
      stored: GateArtifacts,
      corpus: DataFrame,
      deleteIds: DataFrame,
      idCol: String,
      textCol: String,
      w: Int,
      ngramBlockCol: Column = lit(0L),
      ngramN: Int = 3,
      maxShingleDf: Int = DefaultShingleDfCap
  ): RetractedArtifacts = {
    val fpc = graft.text.TextFunctions.fingerprintCol _
    val docs = corpus
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .localCheckpoint(true)
    val del = deleteIds.select(col("id")).distinct().localCheckpoint(true)
    val deleted = docs.join(del, Seq("id"), "left_semi").localCheckpoint(true)
    val remaining = docs.join(del, Seq("id"), "left_anti")
    // Id-keyed artifacts: the anti-join IS the exact retraction.
    val bandsAfter = stored.bandTable.join(del, Seq("id"), "left_anti")
    val simAfter = stored.simhashBands.join(del, Seq("id"), "left_anti")
    val setsAfter = stored.shingleSets.join(del, Seq("id"), "left_anti")
    // The three delete-side materializations below (content fps, span
    // fps, df decrement join) depend only on the checkpointed `deleted`
    // frame — submit them concurrently (round 17, guide §2.6: they were
    // three serial delete-sized jobs in the retraction's critical path).
    val Seq(deletedFps, deletedSpanFps, dfJoined) = graft.Par.checkpointAll(
      // Fingerprint set: retain any deleted fp a remaining doc still has.
      () => deleted
        .select(fpc(col("text")).as("fingerprint"))
        .filter(col("fingerprint").isNotNull)
        .distinct()
        .localCheckpoint(true),
      // Span fp set: the same retention discipline over window fps.
      () => spanFpSet(deleted, "id", "text", w, spread = false)
        .localCheckpoint(true),
      // Df sidecar: additive, so the decrement is exact.
      () => {
        val deletedDf =
          ngramShingleRows(deleted, "id", "text", ngramBlockCol, ngramN)
            .groupBy("blk", "shingle")
            .agg(count(lit(1)).as("ddf"))
        stored.ngramDf
          .join(deletedDf, Seq("blk", "shingle"), "left")
          .select(
            col("blk"), col("shingle"),
            col("df").as("df_before"),
            (col("df") - coalesce(col("ddf"), lit(0L))).as("df_after"))
          .localCheckpoint(true)
      })
    val retainedFps = remaining
      .select(fpc(col("text")).as("fingerprint"))
      .join(broadcast(deletedFps), Seq("fingerprint"), "left_semi")
      .distinct()
    val droppedFps =
      deletedFps.join(retainedFps, Seq("fingerprint"), "left_anti")
    val fpsAfter = stored.fingerprints
      .join(broadcast(droppedFps), Seq("fingerprint"), "left_anti")
    val retainedSpanFps = spanFpRows(remaining, "text", w)
      .join(broadcast(deletedSpanFps), Seq("fp"), "left_semi")
      .distinct()
    val droppedSpanFps =
      deletedSpanFps.join(retainedSpanFps, Seq("fp"), "left_anti")
    val spanAfter = stored.spanFps
      .join(broadcast(droppedSpanFps), Seq("fp"), "left_anti")
    val dfAfter = dfJoined
      .filter(col("df_after") > 0)
      .select(col("blk"), col("shingle"), col("df_after").as("df"))
    // Postings: id-keyed removal + the cap-crosser repair.
    val crossers = dfJoined
      .filter(
        col("df_before") > maxShingleDf &&
          col("df_after") <= maxShingleDf && col("df_after") > 0)
      .select("blk", "shingle")
      .localCheckpoint(true)
    val kept = stored.ngramPostings
      .join(del, Seq("id"), "left_anti")
      .select("blk", "shingle", "id")
    val postingsAfter =
      if (crossers.isEmpty) kept
      else
        kept.unionByName(
          ngramShingleRows(remaining, "id", "text", ngramBlockCol, ngramN)
            .join(broadcast(crossers), Seq("blk", "shingle"), "left_semi")
            .select("blk", "shingle", "id"))
    RetractedArtifacts(
      fingerprints = fpsAfter,
      bandTable = bandsAfter,
      spanFps = spanAfter,
      simhashBands = simAfter,
      ngramPostings = postingsAfter,
      ngramDf = dfAfter,
      shingleSets = setsAfter,
      repairedShingles = crossers)
  }

  /** Row-level (non-distinct) window fps — [[spanFpSet]] before its
    * distinct, for broadcast-restricted retention scans. */
  private def spanFpRows(df: DataFrame, textCol: String, w: Int): DataFrame =
    df.select(words(col(textCol)).as("wd"))
      .select(explode(posShingles(col("wd"), w)).as("ps"))
      .select(hash60(col("ps.s")).as("fp"))

  /** CORPUS VERSION DIFF — the dataset-release audit: given two corpus
    * versions keyed by document id, classify every id as `added`
    * (only in v2), `removed` (only in v1), `changed` (both, different
    * content fingerprint) or `unchanged`. The question every dataset
    * card and every retrain decision starts from ("what actually moved
    * between v1 and v2?"), answered without ever comparing text.
    *
    * Scale shape: each side is reduced MAP-SIDE to (id, 128-bit content
    * fingerprint) before the single id-keyed full outer join — document
    * bodies never shuffle, and the join carries two narrow columns per
    * side. At 100 TB both sides are one scan each; the output is
    * id-sized, and the usual consumer aggregates it straight down to
    * per-status counts (`groupBy(status)`), which AQE folds into the
    * same stage. */
  def corpusDiff(
      v1: DataFrame,
      v2: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val fp = graft.text.TextFunctions.fingerprintCol _
    // Null text folds to a sentinel fingerprint so presence is decided
    // by the JOIN, never by a null fp masquerading as a missing row.
    def keyed(df: DataFrame, fpName: String) = df.select(
      col(idCol).as("id"),
      coalesce(fp(col(textCol)), lit("<null-text>")).as(fpName))
    keyed(v1, "fp1")
      .join(keyed(v2, "fp2"), Seq("id"), "full_outer")
      .select(
        col("id"),
        when(col("fp1").isNull, lit("added"))
          .when(col("fp2").isNull, lit("removed"))
          .when(col("fp1") === col("fp2"), lit("unchanged"))
          .otherwise(lit("changed"))
          .as("status"))
  }

  // -------------------------------------------------------------------------
  // Incremental (batch-vs-corpus) dedup
  // -------------------------------------------------------------------------

  /** Incremental exact dedup: classify a NEW batch of documents against an
    * already-ingested corpus without re-deduplicating the corpus — the
    * shape every continuously-ingesting training pipeline needs (the
    * corpus is append-only; each delivery dedups against it, not with it).
    *
    * Verdict per batch row:
    *   - `dup_corpus`: fingerprint already present in the corpus;
    *   - `dup_batch`: new to the corpus, but a lower-id batch row has the
    *     same fingerprint (intra-batch keeper policy = min id);
    *   - `new`: first occurrence anywhere.
    *
    * Scale shape: the corpus side is reduced to DISTINCT fingerprints
    * before the join (map-side partial distinct), then a fingerprint-keyed
    * left join — the batch is never joined against corpus ROWS, only
    * against its fingerprint set, and the corpus is read once. The
    * intra-batch keeper is a fingerprint-partitioned min window (batch-
    * sized, keyed shuffle). At 100 TB the corpus fingerprint set is the
    * thing to pre-filter with [[graft.functions.Bloom]] (build once,
    * probe each delivery) so most batch rows skip the join entirely. */
  def incrementalExact(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val fp = graft.text.TextFunctions.fingerprintCol _
    // Null fingerprints (null text) are excluded: SQL null never equals
    // null, so such rows can be neither dup_corpus nor dup_batch, and a
    // fingerprint-partitioned window would wrongly group them together.
    val b = batch
      .select(col(idCol).as("id"), fp(col(textCol)).as("fingerprint"))
      .filter(col("fingerprint").isNotNull)
    val seen = corpus
      .select(fp(col(textCol)).as("fingerprint"))
      .filter(col("fingerprint").isNotNull)
      .distinct()
      .withColumn("in_corpus", lit(1))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fingerprint")
    b.join(seen, Seq("fingerprint"), "left")
      .withColumn("first_id", min(col("id")).over(w))
      .select(
        col("id"),
        col("fingerprint"),
        when(col("in_corpus") === 1, lit("dup_corpus"))
          .when(col("id") > col("first_id"), lit("dup_batch"))
          .otherwise(lit("new"))
          .as("verdict"))
  }

  // -------------------------------------------------------------------------
  // Blocked n-gram Jaccard
  // -------------------------------------------------------------------------

  /** Default per-block shingle document-frequency cap for
    * [[ngramJaccardBlocked]] candidate generation: a shingle appearing in
    * more than this many documents of one block contributes no candidate
    * pairs. Bounds the posting-list self-join at df² per shingle —
    * without it one hot shingle (a stopword trigram) inside one block
    * produces |posting|² join rows, and block population grows linearly
    * with the corpus, so the hot-key pair dominates the job at 100×. */
  val DefaultShingleDfCap = 1000

  /** Exact n-gram Jaccard over pairs restricted to a blocking key (the
    * scalable discipline: n² only within blocks).
    *
    * Candidate generation uses only shingles with per-block document
    * frequency ≤ `maxShingleDf` (standard web-dedup practice). The
    * posting lists are collected per (block, shingle) and pairs are
    * EXPLODED map-side from each sub-cap list — ≤ cap²/2 pairs per
    * shingle, zero self-join — and the explode directly yields each
    * pair's rare-shingle intersection count, so the candidate pass and
    * most of the verify pass are the same single aggregation.
    *
    * VERIFICATION stays exact over the FULL shingle sets: the few
    * over-cap (hot) shingles are joined back only against the candidate
    * pairs (candidate-bounded, never posting²) and added to the
    * intersection. The cap therefore only limits RECALL to pairs sharing
    * at least one sub-cap shingle — which true near-dups (many
    * doc-specific shingles in common) always do — never the Jaccard
    * value of a surviving pair. */
  def ngramJaccardBlocked(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: Column,
      threshold: Double,
      n: Int = 3,
      maxShingleDf: Int = DefaultShingleDfCap
  ): DataFrame = {
    // ONE shuffle from the raw scan to deduped posting lists:
    // collect_set absorbs the per-doc shingle dedup (a doc has exactly
    // one blk, so (shingle, doc) hits exactly one list), replacing the
    // separate distinct + checkpoint a naive pipeline would pay.
    val lists = df
      .select(col(idCol).as("id"), blockCol.as("blk"),
        words(col(textCol)).as("w"))
      .select(col("id"), col("blk"),
        explode(shinglesOfWords(col("w"), n)).as("shingle_s"))
      .select(col("id"), col("blk"), hash60(col("shingle_s")).as("shingle"))
      .groupBy("blk", "shingle")
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .localCheckpoint(true)
    // Cost-based gate, decided like an optimizer would but from REAL
    // statistics: `lists` is already materialized, so asking whether any
    // over-cap key exists is a cheap local scan. In the common no-hot
    // case the whole correction subtree (two joins + an agg) vanishes
    // from the plan and the rare counts are already exact.
    val hasHot = !lists.filter(size(col("ids")) > maxShingleDf).isEmpty
    // Sub-cap postings: all i<j pairs, map-side (ids sorted, so id_a <
    // id_b by construction); count per pair = rare-shingle intersection.
    // Checkpointed only when the hot correction adds a second consumer.
    val rarePairs0 = lists
      .filter(size(col("ids")) <= maxShingleDf)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids) - i - 1), " +
          "y -> named_struct('id_a', x, 'id_b', y))))")).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_rare"))
    val rarePairs =
      if (hasHot) rarePairs0.localCheckpoint(true) else rarePairs0
    // Hot-shingle membership rows (linear in corpus; few distinct hot
    // keys by construction), intersected candidate-bounded.
    val withInter =
      if (!hasHot) rarePairs.withColumn("n_inter", col("n_rare"))
      else {
        val hot = lists
          .filter(size(col("ids")) > maxShingleDf)
          .select(col("blk"), col("shingle"), explode(col("ids")).as("id"))
        val hotInter = rarePairs
          .select("id_a", "id_b")
          .join(hot.select(col("id").as("id_a"), col("blk"), col("shingle")),
            Seq("id_a"))
          .join(hot.select(col("id").as("id_b"), col("blk"), col("shingle")),
            Seq("id_b", "blk", "shingle"))
          .groupBy("id_a", "id_b")
          .agg(count(lit(1)).as("n_hot"))
        rarePairs
          .join(hotInter, Seq("id_a", "id_b"), "left")
          .withColumn(
            "n_inter", col("n_rare") + coalesce(col("n_hot"), lit(0L)))
      }
    // Exact per-doc distinct-shingle counts, read off the lists frame
    // (each doc appears once per distinct shingle across all lists).
    val sizes = lists
      .select(explode(col("ids")).as("id"))
      .groupBy("id").agg(count(lit(1)).as("set_size"))
    withInter
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("set_size", "size_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("set_size", "size_b"), Seq("id_b"))
      .withColumn(
        "jaccard",
        round(col("n_inter") / (col("size_a") + col("size_b") - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Distinct (id, blk, shingle) rows for the n-gram Jaccard family —
    * word n-grams hashed to 60-bit longs BEFORE any shuffle (the same
    * early-hash discipline as [[shingleRows]]). */
  private[graft] def ngramShingleRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: Column,
      n: Int,
      spread: Boolean = true
  ): DataFrame = {
    val src = df.select(col(idCol).as("id"), blockCol.as("blk"),
      col(textCol).as("text"))
    (if (spread) spreadNarrow(src) else src)
      .select(col("id"), col("blk"),
        words(col("text")).as("w"))
      .select(col("id"), col("blk"),
        explode(shinglesOfWords(col("w"), n)).as("shingle_s"))
      .select(col("id"), col("blk"), hash60(col("shingle_s")).as("shingle"))
      .distinct()
  }

  /** The df-capped (blk, shingle, id) POSTING artifact of a corpus —
    * what the n-gram streaming gate
    * ([[graft.streaming.StreamingOps.ngramGateStream]]) joins arrivals
    * against: only postings whose (block, shingle) document frequency
    * is ≤ `maxShingleDf` generate candidates (the standard hot-shingle
    * cap — candidate RECALL only; the verify runs over full shingle
    * sets via [[shingleSetTable]], exactly like the batch operators). */
  def ngramPostingTable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: Column,
      n: Int = 3,
      maxShingleDf: Int = DefaultShingleDfCap
  ): DataFrame =
    ngramArtifacts(df, idCol, textCol, blockCol, n, maxShingleDf)._1

  /** BOTH ingest artifacts of the n-gram gate from ONE checkpointed
    * shingle pass — (df-capped posting table, per-doc shingle-set
    * arrays). Building the sets from the same frame saves a second full
    * corpus tokenize+hash scan (the dominant cost of the gate's
    * deploy-time build; one blk per doc, so the per-doc sets equal
    * [[shingleSetTable]]'s exactly). */
  def ngramArtifacts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: Column,
      n: Int = 3,
      maxShingleDf: Int = DefaultShingleDfCap
  ): (DataFrame, DataFrame) = {
    val sh = ngramShingleRows(df, idCol, textCol, blockCol, n)
      .localCheckpoint(true)
    ngramArtifactsFromRows(sh, maxShingleDf)
  }

  /** [[ngramArtifacts]] from an ALREADY-MATERIALIZED distinct
    * (id, blk, shingle) frame — the face a memoized shingle pass feeds
    * (the tokenize+hash explode is the dominant cost of the artifact
    * build; consumers that share one materialized row table pay it
    * once). The caller owns materialization. */
  def ngramArtifactsFromRows(
      sh: DataFrame,
      maxShingleDf: Int = DefaultShingleDfCap
  ): (DataFrame, DataFrame) = {
    val rare = sh.groupBy("blk", "shingle")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf)
      .select("blk", "shingle")
    val postings =
      sh.join(rare, Seq("blk", "shingle")).select("blk", "shingle", "id")
    val sets = sh.groupBy("id")
      .agg(sort_array(collect_set(col("shingle"))).as("shingles"))
    (postings, sets)
  }

  /** Incremental df-capped n-gram Jaccard — the continuous-ingest
    * companion of [[ngramJaccardBlocked]], completing the incremental
    * family (exact, MinHash, SimHash, semantic, now n-gram): a NEW
    * batch is compared against the existing corpus ONLY, never
    * batch×batch or corpus×corpus. Candidates come from (block,
    * shingle) postings where BOTH sides are under `maxShingleDf`
    * (per-key pair work ≤ cap², and the cap bounds each side of the
    * cross product — the cost model of a two-sided posting join);
    * verification is exact over the full shingle sets via the shared
    * candidate-bounded [[jaccardVerifyTwoSided]], so, as in the
    * single-frame form, the cap limits only RECALL to pairs sharing a
    * sub-cap shingle — never a surviving pair's Jaccard value. In a
    * real pipeline the corpus posting lists are computed once at ingest
    * and stored; only the batch side is fresh work per delivery.
    * Returns (id_a = batch id, id_b = corpus id, jaccard ≥ threshold). */
  def ngramJaccardIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: Column,
      threshold: Double,
      n: Int = 3,
      maxShingleDf: Int = DefaultShingleDfCap
  ): DataFrame = {
    // Each side's shingle set feeds two consumers (its posting lists and
    // its verify/size side) — checkpoint once, same as minhashIncremental.
    val bSh = ngramShingleRows(batch, idCol, textCol, blockCol, n)
      .localCheckpoint(true)
    val cSh = ngramShingleRows(corpus, idCol, textCol, blockCol, n)
      .localCheckpoint(true)
    val bLists = bSh.groupBy("blk", "shingle")
      .agg(collect_set(col("id")).as("ids_b"))
    val cLists = cSh.groupBy("blk", "shingle")
      .agg(collect_set(col("id")).as("ids_c"))
    val cands = bLists
      .join(cLists, Seq("blk", "shingle"))
      .filter(size(col("ids_b")) <= maxShingleDf &&
        size(col("ids_c")) <= maxShingleDf)
      .select(explode(col("ids_b")).as("id_a"), col("ids_c"))
      .select(col("id_a"), explode(col("ids_c")).as("id_b"))
      .distinct()
    jaccardVerifyTwoSided(
      bSh.select("id", "shingle"), cSh.select("id", "shingle"),
      cands, threshold)
  }

  // -------------------------------------------------------------------------
  // Corpus-vs-corpus overlap
  // -------------------------------------------------------------------------

  /** Raw (non-distinct) 60-bit word-n-gram shingle stream of a corpus —
    * the multiset feed for sketches whose aggregate is set-insensitive
    * (min over a multiset == min over its distinct set), so no distinct
    * shuffle is needed before sketching. */
  private def rawShingles(
      df: DataFrame,
      textCol: String,
      n: Int
  ): DataFrame =
    // spreadNarrow BEFORE the projection (keyed on the caller's first
    // column — the doc id for every current caller): the downstream
    // sketch is a partial aggregation computing numHashes md5s per
    // shingle, and without the spread that entire pass runs on the one
    // partition a single-file scan produces (measured: 8.5 s of
    // single-task time in q_corpus_overlap at sf0.1).
    spreadNarrow(df)
      .select(words(col(textCol)).as("w"))
      .select(explode(shinglesOfWords(col("w"), n)).as("shingle_s"))
      .select(hash60(col("shingle_s")).as("shingle"))

  /** CORPUS-vs-CORPUS overlap — how much of two corpora's word-n-gram
    * shingle space is shared, as one tiny summary row. The question a
    * pipeline owner asks before mixing two sources (near-identical crawls
    * waste epochs) or after splitting train/holdout (shared shingle mass
    * is leakage surface). Two readouts:
    *
    *   - `jaccard_est_micros` — the MinHash bottom-1 sketch estimate:
    *     for each of `numHashes` permutations (the same md5-slice
    *     permutations as [[minhashSignature]], so the oracle computes
    *     identical longs), the CORPUS-wide min of the permuted shingle
    *     hash. P[min_A = min_B] = J(A,B), so the agreement fraction
    *     estimates corpus Jaccard (std ≈ √(J(1−J)/H)). This is the
    *     100 TB path: min() is a partial aggregate, so each corpus
    *     collapses map-side to `numHashes` longs — NO corpus-wide
    *     shuffle, and two corpora that never fit anywhere compare in
    *     H·8 bytes. (If shingle duplication is extreme, distinct-first
    *     then sketch trades one long-keyed shuffle for fewer md5s —
    *     the aggregate is identical either way.)
    *   - `jaccard_exact_micros` — the exact twin over the distinct
    *     shingle sets: union the tagged streams, one groupBy on the
    *     60-bit shingle key (max(flag) partial-aggs map-side), count
    *     membership. One bounded shuffle of 8-byte keys, plus an eager
    *     checkpoint of BOTH raw shingle multisets (corpus-sized) so the
    *     streams feed sketch and union once each. OFF by default —
    *     callers opt in (`withExact = true`) for verification scale and
    *     small corpora; the default is the sketch-only 100 TB path with
    *     no corpus-sized materialization anywhere.
    *
    * Micros are `round(1e6·x)` of ratios of exact integers — correctly
    * rounded IEEE division, engine-exact. Returns one row:
    * (n_hashes, n_agree, jaccard_est_micros[, n_shingles_a,
    * n_shingles_b, n_common, n_union, jaccard_exact_micros]).
    *
    * API note (round 9): `withExact` DEFAULTED to `true` before round 9;
    * the default flipped to `false` (sketch-only, the 100 TB path), which
    * also drops the five exact-twin columns from the default schema.
    * Callers that relied on the old default must now pass
    * `withExact = true` explicitly. */
  def corpusOverlap(
      dfA: DataFrame,
      dfB: DataFrame,
      textCol: String,
      numHashes: Int = 32,
      n: Int = 3,
      withExact: Boolean = false
  ): DataFrame = {
    def sketch(src: DataFrame, pre: String) = {
      // Round-17: the one-buffer imperative aggregate, same rewrite as
      // [[signatureOfShingles]] (bit-identical slots; min over a multiset
      // == min over its set, so the RAW stream feeds it unchanged).
      src.agg(expr(s"graft_minhash_sig(shingle, $numHashes)").as("__sig"))
        .select((0 until numHashes)
          .map(i => element_at(col("__sig"), i + 1).as(s"$pre$i")): _*)
    }
    // With the exact twin on, each side's shingle stream feeds TWO
    // consumers (its sketch and the union groupBy) — materialize once
    // (same eager-checkpoint discipline as minhashDuplicates). Sketch-only
    // mode stays a pure single pass: at 100 TB there is nothing to share
    // and a multiset-sized checkpoint would be the only corpus-sized
    // artifact in the plan.
    val shA =
      if (withExact) rawShingles(dfA, textCol, n).localCheckpoint(true)
      else rawShingles(dfA, textCol, n)
    val shB =
      if (withExact) rawShingles(dfB, textCol, n).localCheckpoint(true)
      else rawShingles(dfB, textCol, n)
    val est = sketch(shA, "ma_").crossJoin(sketch(shB, "mb_"))
      .select(
        lit(numHashes.toLong).as("n_hashes"),
        (0 until numHashes)
          .map(i =>
            when(col(s"ma_$i") === col(s"mb_$i"), 1L).otherwise(0L))
          .reduce(_ + _)
          .as("n_agree"))
      .withColumn(
        "jaccard_est_micros",
        round(col("n_agree").cast("double") * 1e6 /
          col("n_hashes").cast("double"), 0).cast("long"))
    if (!withExact) est
    else {
      val tagged = shA
        .select(col("shingle"), lit(1L).as("in_a"), lit(0L).as("in_b"))
        .unionByName(
          shB.select(col("shingle"), lit(0L).as("in_a"), lit(1L).as("in_b")))
      val ex = tagged
        .groupBy("shingle")
        .agg(max("in_a").as("a"), max("in_b").as("b"))
        .agg(
          sum("a").as("n_shingles_a"),
          sum("b").as("n_shingles_b"),
          sum(when(col("a") === 1L && col("b") === 1L, 1L).otherwise(0L))
            .as("n_common"))
        .withColumn(
          "n_union",
          col("n_shingles_a") + col("n_shingles_b") - col("n_common"))
        .withColumn(
          "jaccard_exact_micros",
          round(col("n_common").cast("double") * 1e6 /
            col("n_union").cast("double"), 0).cast("long"))
      est.crossJoin(ex)
    }
  }
}
