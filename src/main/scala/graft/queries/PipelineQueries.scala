package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.textanalysis.TextAnalysis

/** Training-data-pipeline query surface: dedup (MinHash-LSH, SimHash,
  * blocked n-gram Jaccard), similarity search (exact + LSH-bucketed cosine
  * top-k), language ID and quality scoring. Spark plans come from the
  * library modules; the DuckDB oracle SQL for the parameter-heavy
  * operators is GENERATED from the same parameters (stopword lists, LSH
  * hyperplanes, band layout), so the two engines cannot drift.
  */
object PipelineQueries {
  import Tables._

  val MinhashHashes = 8
  val MinhashBands = 4
  val MinhashThreshold = 0.2
  val SimhashMaxHamming = 3
  val SimhashBlocks = 4
  val JaccardThreshold = 0.1

  /** Per-block shingle df cap for n-gram Jaccard candidate generation
    * (see [[Dedup.ngramJaccardBlocked]]) — small at test scale so the cap
    * path is actually exercised; the oracle SQL applies the identical
    * cap. */
  val NgramDfCap = 50
  val TopK = 5
  val NumQueries = 10
  val LshBits = 4
  val Dims = 64

  // --- Spark sides ---------------------------------------------------------

  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    Dedup
      .minhashDuplicates(documents(s, d), "doc_id", "text",
        MinhashHashes, MinhashBands, MinhashThreshold)
      .orderBy("id_a", "id_b")

  def simhashValues(s: SparkSession, d: String): DataFrame =
    Dedup
      .simhash(documents(s, d), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup
      .simhashDuplicates(documents(s, d), "doc_id", "text",
        SimhashMaxHamming, SimhashBlocks)
      .orderBy("id_a", "id_b")

  /** Modulus partitioning documents into held-out "benchmark" docs
    * (doc_id % DecontamMod == 0) vs the training corpus (the rest). */
  val DecontamMod = 13
  /** doc_id % DsirMod == 0 plays the TARGET set of the DSIR face;
    * the rest is the raw corpus being scored. */
  val DsirMod = 11

  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    Dedup
      .contamination(
        docs.filter(col("doc_id") % DecontamMod =!= 0),
        docs.filter(col("doc_id") % DecontamMod === 0),
        "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .select(col("doc_id"), col("n_shingles"),
        col("n_hits").cast("long").as("n_hits"), col("contamination"))
      .orderBy("doc_id")
  }

  /** TARGETED DATA SELECTION — DSIR-style importance weights
    * ([[graft.dedup.Dedup.dsirWeights]]): the doc_id % [[DsirMod]] == 0
    * slice plays the small TARGET set, the rest is the raw corpus
    * being scored; each raw document's score is the exact-integer
    * smoothed df-likelihood-ratio sum over its hashed 3-gram features.
    * The oracle recomputes the dfs, the DIV-truncated weights, and the
    * per-doc sums end-to-end — integer arithmetic makes the importance
    * score hash-checkable cross-engine, unlike a float log-ratio. The
    * realization of the weights is the seeded weighted-sample face. */
  def dsirWeights(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    graft.dedup.Dedup
      .dsirWeights(
        docs.filter(col("doc_id") % DsirMod =!= 0),
        docs.filter(col("doc_id") % DsirMod === 0),
        "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .select(col("doc_id"), col("n_features"), col("score_micros"))
      .orderBy("doc_id")
  }

  def dsirWeightsOracle: String =
    s"""WITH $shinglesCte,
       |raw_sh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % $DsirMod != 0),
       |tgt_sh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % $DsirMod = 0),
       |dfr AS (SELECT shingle, count(*) AS dfr FROM raw_sh GROUP BY 1),
       |dft AS (SELECT shingle, count(*) AS dft FROM tgt_sh GROUP BY 1),
       |w AS (
       |  SELECT r.shingle,
       |    ((COALESCE(t.dft, 0) + 1) * 1000000) // (r.dfr + 1) AS wgt
       |  FROM dfr r LEFT JOIN dft t ON r.shingle = t.shingle)
       |SELECT rs.doc_id, count(*) AS n_features,
       |  CAST(sum(w.wgt) AS BIGINT) AS score_micros
       |FROM raw_sh rs JOIN w ON rs.shingle = w.shingle
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** Planted duplicate tail: guarantees every document exercises the
    * removal path (synthetic texts may otherwise have no repeats). */
  private val DupTail = ". tail dup. tail dup! unique end?"

  def intraDocDedup(s: SparkSession, d: String): DataFrame =
    Dedup
      .intraDocSentenceDedup(
        documents(s, d).withColumn("text", concat(col("text"), lit(DupTail))),
        "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  def intraDocDedupOracle: String =
    s"""WITH s0 AS (
       |  SELECT doc_id, string_split_regex(text || '$DupTail', '[.!?]+\\s+') AS arr
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, i AS pos, trim(arr[i]) AS sentence
       |  FROM s0, LATERAL (SELECT unnest(range(1, len(arr) + 1)) AS i) r
       |  WHERE length(trim(arr[i])) > 0),
       |m AS (
       |  SELECT *, min(pos) OVER (PARTITION BY doc_id, sentence) AS first_pos
       |  FROM s)
       |SELECT doc_id, count(*) AS n_sentences,
       |  CAST(count(DISTINCT sentence) AS BIGINT) AS n_kept,
       |  md5(string_agg(CASE WHEN pos = first_pos THEN sentence END, '. ' ORDER BY pos)) AS clean_md5
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** End-to-end corpus curation — the operators composed into the actual
    * cleaning pipeline a training corpus goes through, as ONE DataFrame
    * chain (one plan, one oracle): exact-dedup keep (min-id per
    * fingerprint) → minimum-length filter → cross-doc boilerplate filter
    * (ratio < 0.5 against corpus-wide sentence stats) → greedy per-lang
    * sequence packing of the survivors. Every stage is keyed or broadcast;
    * nothing global. Output: (doc_id, lang, n_tokens, bin). */
  def curationPipeline(s: SparkSession, d: String): DataFrame = {
    import graft.text.TextFunctions
    val docs = documents(s, d)
    val fpW = org.apache.spark.sql.expressions.Window
      .partitionBy(TextFunctions.fingerprintCol(col("text")))
    val keepExact = docs
      .withColumn("keep_id", min(col("doc_id")).over(fpW))
      .filter(col("doc_id") === col("keep_id") && col("n_chars") >= 200)
    val boiler = Dedup.boilerplate(docs, "doc_id", "text")
      .select(col("id").as("doc_id"), col("boiler_ratio"))
    val kept = keepExact
      .join(boiler, Seq("doc_id"))
      .filter(col("boiler_ratio") < 0.5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    kept
      .withColumn("n_tokens",
        TextFunctions.estimateTokensCol(col("text")).cast("long"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr(s"cum_before div ${TextQueries.PackBudget}").as("bin"))
      .orderBy("doc_id")
  }

  def curationPipelineOracle: String =
    s"""WITH fp AS (
       |  SELECT doc_id, lang, text, n_chars,
       |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
       |  FROM documents),
       |keepx AS (
       |  SELECT doc_id, lang, text FROM (
       |    SELECT *, min(doc_id) OVER (PARTITION BY f) AS keep_id FROM fp)
       |  WHERE doc_id = keep_id AND n_chars >= 200),
       |sb0 AS (SELECT doc_id, trim(x) AS sent FROM (
       |  SELECT doc_id, unnest(string_split_regex(text, '[.!?]+\\s+')) AS x
       |  FROM documents)),
       |sb AS (SELECT doc_id, CAST('0x' || substr(md5(sent),1,15) AS BIGINT) AS sh
       |  FROM sb0 WHERE length(sent) > 0),
       |flagged AS (SELECT sh FROM (
       |    SELECT sh, count(DISTINCT doc_id) AS dfd FROM sb GROUP BY 1)
       |  WHERE dfd >= 3),
       |ratio AS (
       |  SELECT doc_id,
       |    round(CAST(sum(CASE WHEN f.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS br
       |  FROM sb LEFT JOIN flagged f ON sb.sh = f.sh GROUP BY doc_id),
       |kept AS (
       |  SELECT k.doc_id, k.lang,
       |    CAST(CASE WHEN k.text IS NULL OR length(k.text) = 0 THEN 0
       |         ELSE greatest(1, CAST(floor(length(k.text)/4) AS INTEGER)) END AS BIGINT) AS n_tokens
       |  FROM keepx k JOIN ratio r ON k.doc_id = r.doc_id
       |  WHERE r.br < 0.5),
       |c AS (
       |  SELECT doc_id, lang, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM kept)
       |SELECT doc_id, lang, n_tokens, cum_before // ${TextQueries.PackBudget} AS bin
       |FROM c ORDER BY doc_id""".stripMargin

  /** Planted footer: appended to every document so the boilerplate
    * detector always has corpus-wide repeated sentences to flag. */
  private[graft] val Footer =
    ". generated by example corp. all rights reserved?"

  def boilerplateQ(s: SparkSession, d: String): DataFrame =
    Dedup
      .boilerplate(
        documents(s, d).withColumn("text", concat(col("text"), lit(Footer))),
        "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  def boilerplateOracle: String =
    s"""WITH s0 AS (
       |  SELECT doc_id, string_split_regex(text || '$Footer', '[.!?]+\\s+') AS arr
       |  FROM documents),
       |s1 AS (SELECT doc_id, trim(x) AS sent
       |  FROM (SELECT doc_id, unnest(arr) AS x FROM s0)),
       |s AS (SELECT doc_id, CAST('0x' || substr(md5(sent),1,15) AS BIGINT) AS sh
       |  FROM s1 WHERE length(sent) > 0),
       |flagged AS (
       |  SELECT sh FROM (
       |    SELECT sh, count(DISTINCT doc_id) AS dfd FROM s GROUP BY 1)
       |  WHERE dfd >= 3)
       |SELECT doc_id, count(*) AS n_sentences,
       | CAST(sum(CASE WHEN f.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       | round(CAST(sum(CASE WHEN f.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS boiler_ratio
       |FROM s LEFT JOIN flagged f ON s.sh = f.sh
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** CROSS-document sentence dedup, keep-first
    * ([[Dedup.crossDocSentenceDedup]]): the planted [[Footer]] sentences
    * repeat in every document, so exactly one document (the lowest id)
    * keeps each — the CCNet-style corpus-wide dedup policy, the
    * complement of [[boilerplateQ]]'s flag-all-copies. Any naturally
    * repeated fixture sentences dedup the same way. */
  def sentenceDedupQ(s: SparkSession, d: String): DataFrame =
    Dedup
      .crossDocSentenceDedup(
        documents(s, d).withColumn("text", concat(col("text"), lit(Footer))),
        "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Shared sentence-row CTE of the cross-doc sentence oracles:
    * `s` = (doc_id, pos, sentence, sh) with the planted [[Footer]]. */
  private def sentenceCteSql: String =
    s"""s0 AS (
       |  SELECT doc_id, string_split_regex(text || '$Footer', '[.!?]+\\s+') AS arr
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, i - 1 AS pos, trim(arr[i]) AS sentence,
       |    CAST('0x' || substr(md5(trim(arr[i])),1,15) AS BIGINT) AS sh
       |  FROM s0, LATERAL (SELECT unnest(range(1, len(arr) + 1)) AS i) r
       |  WHERE length(trim(arr[i])) > 0)""".stripMargin

  def sentenceDedupOracle: String =
    s"""WITH $sentenceCteSql,
       |k AS (
       |  SELECT *, row_number() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rn
       |  FROM s)
       |SELECT doc_id, count(*) AS n_sentences,
       |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  md5(coalesce(
       |    string_agg(CASE WHEN rn = 1 THEN sentence END, '. ' ORDER BY pos),
       |    '')) AS clean_md5
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** INCREMENTAL sentence dedup ([[Dedup.sentenceDedupIncremental]]):
    * the doc_id % [[IncrementalMod]] == 0 slice arrives against the
    * frozen corpus sentence-hash set of everything else; the planted
    * [[Footer]] guarantees every arrival has corpus-duplicated
    * sentences to drop. */
  def sentenceDedupIncQ(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .withColumn("text", concat(col("text"), lit(Footer)))
    Dedup
      .sentenceDedupIncremental(
        docs.filter(col("doc_id") % IncrementalMod =!= 0),
        docs.filter(col("doc_id") % IncrementalMod === 0),
        "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  def sentenceDedupIncOracle: String =
    s"""WITH $sentenceCteSql,
       |cs AS (SELECT DISTINCT sh FROM s WHERE doc_id % $IncrementalMod <> 0),
       |b AS (
       |  SELECT *, min(pos) OVER (PARTITION BY doc_id, sh) AS first_pos
       |  FROM s WHERE doc_id % $IncrementalMod = 0),
       |k AS (
       |  SELECT b.doc_id, b.pos, b.sentence,
       |    (cs.sh IS NULL AND b.pos = b.first_pos) AS kept
       |  FROM b LEFT JOIN cs ON b.sh = cs.sh)
       |SELECT doc_id, count(*) AS n_sentences,
       |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  md5(coalesce(
       |    string_agg(CASE WHEN kept THEN sentence END, '. ' ORDER BY pos),
       |    '')) AS clean_md5
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** COMMIT face of the sentence-hash artifact
    * ([[Dedup.committedSentenceHashes]]): the gate's corpus set grows
    * by exactly the arrivals' kept sentences; readout is the 1-row
    * count compose, and the set-equality law (committed == distinct
    * hashes of corpus ∪ batch) is spec-pinned. */
  def sentenceCommit(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .withColumn("text", concat(col("text"), lit(Footer)))
    val corpusSet = Dedup
      .sentenceHashSet(
        docs.filter(col("doc_id") % IncrementalMod =!= 0), "doc_id", "text")
      .localCheckpoint(true)
    val committed = Dedup.committedSentenceHashes(
      corpusSet,
      docs.filter(col("doc_id") % IncrementalMod === 0), "doc_id", "text")
    Dedup.commitSentenceReadout(corpusSet, committed)
  }

  def sentenceCommitOracle: String =
    s"""WITH $sentenceCteSql,
       |cs AS (SELECT DISTINCT sh FROM s WHERE doc_id % $IncrementalMod <> 0),
       |com AS (SELECT DISTINCT sh FROM s)
       |SELECT
       |  (SELECT count(*) FROM cs) AS n_corpus,
       |  (SELECT count(*) FROM com) - (SELECT count(*) FROM cs) AS n_new,
       |  (SELECT count(*) FROM com) AS n_committed""".stripMargin

  /** SENTENCE-artifact RETRACTION ([[Dedup.retractSentenceHashes]]):
    * the committed sentence-hash set (all documents) has its
    * doc_id % 10 == 3 slice taken down; a hash survives iff a remaining
    * document still produces it (the planted [[Footer]] sentences
    * always do — the content-keyed retention case exercised on every
    * run). Emits the retracted SET itself, and the oracle REBUILDS it
    * from scratch on the survivors — retracted == rebuilt hash-checked
    * cross-engine, the content-keyed twin of q_semantic_retract. */
  def sentenceRetract(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .withColumn("text", concat(col("text"), lit(Footer)))
    val committed = Dedup.sentenceHashSet(docs, "doc_id", "text")
    Dedup
      .retractSentenceHashes(
        committed, docs,
        docs.filter(col("doc_id") % KnnRetractMod === KnnRetractResidue)
          .select("doc_id"),
        "doc_id", "text")
      .orderBy("sh")
  }

  def sentenceRetractOracle: String =
    s"""WITH $sentenceCteSql
       |SELECT DISTINCT sh FROM s
       |WHERE doc_id % $KnnRetractMod <> $KnnRetractResidue
       |ORDER BY sh""".stripMargin

  /** Batch = doc_id % IncrementalMod == 0 arriving against the corpus of
    * everything else. */
  val IncrementalMod = 10

  /** Batch modulus for the incremental MinHash near-dup query. */
  val MinhashIncMod = 7

  def minhashIncrementalQ(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    Dedup
      .minhashIncremental(
        docs.filter(col("doc_id") % MinhashIncMod =!= 0),
        docs.filter(col("doc_id") % MinhashIncMod === 0),
        "doc_id", "text", MinhashHashes, MinhashBands, MinhashThreshold)
      .orderBy("id_a", "id_b")
  }

  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    Dedup
      .incrementalExact(
        docs.filter(col("doc_id") % IncrementalMod =!= 0),
        docs.filter(col("doc_id") % IncrementalMod === 0),
        "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup
      .ngramJaccardBlocked(documents(s, d), "doc_id", "text", col("lang"),
        JaccardThreshold, n = 3, maxShingleDf = NgramDfCap)
      .orderBy("id_a", "id_b")

  def simTopK(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity
      .cosineTopK(emb, emb.filter(col("vec_id") < NumQueries), TopK)
      .orderBy("q_vec_id", "rnk")
  }

  def simTopKLsh(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity
      .cosineTopKLsh(emb, emb.filter(col("vec_id") < NumQueries), TopK,
        Dims, LshBits)
      .orderBy("q_vec_id", "rnk")
  }

  def langId(s: SparkSession, d: String): DataFrame =
    TextAnalysis
      .langId(documents(s, d), "text")
      .select(
        Seq(col("doc_id")) ++
          TextAnalysis.stopwords.map { case (l, _) => col(s"s_$l") } ++
          Seq(col("predicted"),
            (col("predicted") === col("lang")).as("correct")): _*
      )
      .orderBy("doc_id")

  /** Raw MinHash signatures — the dedup internals as their own checkable
    * surface. */
  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    Dedup
      .minhashSignature(documents(s, d), "doc_id", "text", MinhashHashes)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  def minhashSignaturesOracle: String = {
    val sigCols = (0 until MinhashHashes)
      .map(i =>
        s"min(CAST('0x' || substr(md5('${i / 2}:' || CAST(shingle AS VARCHAR)),${1 + 15 * (i % 2)},15) AS BIGINT)) AS sig_$i")
      .mkString(", ")
    s"""WITH $shinglesCte
       |SELECT doc_id, $sigCols FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The composed curation verdict: quality gate + exact-dup gate in one
    * pass — the per-document keep/drop decision a training-data pipeline
    * actually ships. Joins are a single broadcast-size aggregate back
    * onto the corpus (the dup-group keeper map). */
  def curationVerdict(s: SparkSession, d: String): DataFrame = {
    // Window-min over the dup key: ONE shuffle and one corpus scan,
    // versus the aggregate-then-join-back formulation (two scans, two
    // shuffles) it replaced — the keeper id is just min(doc_id) over the
    // dup-key partition.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("dup_key")
    documents(s, d)
      .withColumn("dup_key", md5(substring(col("text"), 1, 50)))
      .withColumn("keep_doc_id", min(col("doc_id")).over(w))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("is_canonical", col("doc_id") === col("keep_doc_id"))
      .withColumn("keep", col("is_canonical") && col("quality") >= 0.7)
      .select("doc_id", "quality", "is_canonical", "keep")
      .orderBy("doc_id")
  }

  def curationVerdictOracle: String = {
    // Reuse the quality formula body from qualityOracle's CTEs.
    s"""WITH m AS (
       |  SELECT doc_id, md5(substr(text, 1, 50)) AS dup_key,
       |    CAST(length(text) AS DOUBLE) AS n_chars,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_words,
       |    CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) AS n_punct,
       |    CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it)\\b')) AS DOUBLE) AS n_stop
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, dup_key,
       |    round(
       |      (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END) * CAST(0.3 AS DOUBLE)
       |    + (CASE WHEN (CASE WHEN n_words > 0 THEN n_chars / n_words ELSE 0 END) >= 3
       |         AND (CASE WHEN n_words > 0 THEN n_chars / n_words ELSE 0 END) <= 12
       |        THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END) * CAST(0.3 AS DOUBLE)
       |    + (CASE WHEN n_chars > 0 AND n_punct / n_chars <= 0.1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
       |    + (CASE WHEN n_words > 0 AND n_stop / n_words >= 0.05 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END) * CAST(0.2 AS DOUBLE), 6) AS quality
       |  FROM m),
       |k AS (SELECT dup_key, min(doc_id) AS keep_doc_id FROM m GROUP BY dup_key)
       |SELECT q.doc_id AS doc_id, q.quality AS quality,
       |  (q.doc_id = k.keep_doc_id) AS is_canonical,
       |  ((q.doc_id = k.keep_doc_id) AND q.quality >= 0.7) AS keep
       |FROM q JOIN k ON q.dup_key = k.dup_key
       |ORDER BY q.doc_id""".stripMargin
  }

  val IvfCentroidIds: Seq[Long] = (0 until 8).map(_ * 37L)
  val IvfNProbe = 2

  /** Declarative IVF-Flat ANN over the embeddings table with fixed
    * deterministic centroids — the oracle-checkable face of
    * [[graft.similarity.Ivf]] (the k-means build is seed-dependent and
    * only equality-tested). */
  def ivfTopK(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    graft.similarity.Ivf
      .fixedTopK(emb, emb.filter(col("vec_id") < NumQueries),
        IvfCentroidIds, IvfNProbe, TopK)
      .orderBy("q_vec_id", "rnk")
  }

  def ivfTopKOracle: String = {
    val ids = IvfCentroidIds.mkString(", ")
    s"""WITH c0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |cent AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, emb AS cemb
       |  FROM c0 WHERE vec_id IN ($ids)),
       |asg AS (
       |  SELECT vec_id, emb, cell, sqrt(list_dot_product(emb, emb)) AS nrm FROM (
       |    SELECT a.vec_id, a.emb, c.cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        list_dot_product(a.emb, a.emb) - 2 * list_dot_product(a.emb, c.cemb) + list_dot_product(c.cemb, c.cemb) ASC,
       |        c.cell ASC) AS rn
       |    FROM c0 a CROSS JOIN cent c) WHERE rn = 1),
       |probes AS (
       |  SELECT q_vec_id, q_emb, cell, sqrt(list_dot_product(q_emb, q_emb)) AS q_nrm FROM (
       |    SELECT a.vec_id AS q_vec_id, a.emb AS q_emb, c.cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        list_dot_product(a.emb, a.emb) - 2 * list_dot_product(a.emb, c.cemb) + list_dot_product(c.cemb, c.cemb) ASC,
       |        c.cell ASC) AS rn
       |    FROM c0 a CROSS JOIN cent c WHERE a.vec_id < $NumQueries) WHERE rn <= $IvfNProbe),
       |scored AS (
       |  SELECT p.q_vec_id, s.vec_id,
       |    round(list_dot_product(s.emb, p.q_emb) / (s.nrm * p.q_nrm), 6) AS score
       |  FROM asg s JOIN probes p ON s.cell = p.cell AND s.vec_id <> p.q_vec_id)
       |SELECT q_vec_id, CAST(rnk AS BIGINT) AS rnk, vec_id, score FROM (
       |  SELECT q_vec_id, vec_id, score,
       |    row_number() OVER (PARTITION BY q_vec_id ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM scored) WHERE rnk <= $TopK
       |ORDER BY q_vec_id, rnk""".stripMargin
  }

  /** ANN INDEX-HEALTH monitor: measured recall@K of the deployed IVF
    * configuration against the exact scan, on a SAMPLED query set — the
    * retrain trigger that complements the geometric drift monitor
    * (q_cell_drift): drift says the centroids moved; recall says whether
    * retrieval quality actually degraded. One row per sampled query:
    * how many of its exact top-K the IVF path returned, and the
    * exact-integer recall in micros (n_hit·10⁶/K — integer arithmetic
    * so both engines agree bit-for-bit). Scale shape: the expensive
    * exact ground truth runs over |Q| SAMPLED queries only (the
    * monitor's cost knob — a small constant, not the corpus), one
    * broadcast-NLJ corpus scan shared by all of them; the IVF side is
    * the deployed index's own query path. */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val queries = emb.filter(col("vec_id") < NumQueries)
    val exact = graft.similarity.Similarity
      .cosineTopK(emb, queries, TopK)
      .select(col("q_vec_id"), col("vec_id"))
    val approx = graft.similarity.Ivf
      .fixedTopK(emb, queries, IvfCentroidIds, IvfNProbe, TopK)
      .select(col("q_vec_id"), col("vec_id"), lit(1).as("hit"))
    exact
      .join(approx, Seq("q_vec_id", "vec_id"), "left")
      .groupBy("q_vec_id")
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .withColumn(
        "recall_micros",
        expr(s"CAST(n_hit * 1000000 DIV $TopK AS BIGINT)"))
      .orderBy("q_vec_id")
  }

  def annRecallOracle: String = {
    val ids = IvfCentroidIds.mkString(", ")
    s"""WITH c AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT *, sqrt(list_dot_product(emb, emb)) AS nrm FROM c),
       |q AS (SELECT vec_id AS q_vec_id, emb AS q_emb, nrm AS q_nrm
       |      FROM n WHERE vec_id < $NumQueries),
       |ex AS (
       |  SELECT q_vec_id, vec_id FROM (
       |    SELECT q.q_vec_id, n.vec_id,
       |      row_number() OVER (PARTITION BY q.q_vec_id ORDER BY
       |        round(list_dot_product(n.emb, q.q_emb) / (n.nrm * q.q_nrm), 6) DESC,
       |        n.vec_id ASC) AS rnk
       |    FROM n JOIN q ON n.vec_id <> q.q_vec_id)
       |  WHERE rnk <= $TopK),
       |cent AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, emb AS cemb
       |  FROM c WHERE vec_id IN ($ids)),
       |asg AS (
       |  SELECT vec_id, emb, cell, sqrt(list_dot_product(emb, emb)) AS nrm FROM (
       |    SELECT a.emb, a.vec_id, ct.cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        list_dot_product(a.emb, a.emb) - 2 * list_dot_product(a.emb, ct.cemb) + list_dot_product(ct.cemb, ct.cemb) ASC,
       |        ct.cell ASC) AS rn
       |    FROM c a CROSS JOIN cent ct) WHERE rn = 1),
       |probes AS (
       |  SELECT q_vec_id, q_emb, cell, sqrt(list_dot_product(q_emb, q_emb)) AS q_nrm FROM (
       |    SELECT a.vec_id AS q_vec_id, a.emb AS q_emb, ct.cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        list_dot_product(a.emb, a.emb) - 2 * list_dot_product(a.emb, ct.cemb) + list_dot_product(ct.cemb, ct.cemb) ASC,
       |        ct.cell ASC) AS rn
       |    FROM c a CROSS JOIN cent ct WHERE a.vec_id < $NumQueries) WHERE rn <= $IvfNProbe),
       |iv AS (
       |  SELECT q_vec_id, vec_id FROM (
       |    SELECT s.vec_id, p.q_vec_id,
       |      row_number() OVER (PARTITION BY p.q_vec_id ORDER BY
       |        round(list_dot_product(s.emb, p.q_emb) / (s.nrm * p.q_nrm), 6) DESC,
       |        s.vec_id ASC) AS rnk
       |    FROM asg s JOIN probes p ON s.cell = p.cell AND s.vec_id <> p.q_vec_id)
       |  WHERE rnk <= $TopK)
       |SELECT ex.q_vec_id AS q_vec_id,
       |  CAST(sum(CASE WHEN iv.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST(sum(CASE WHEN iv.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000 // $TopK AS BIGINT) AS recall_micros
       |FROM ex LEFT JOIN iv ON ex.q_vec_id = iv.q_vec_id AND ex.vec_id = iv.vec_id
       |GROUP BY ex.q_vec_id
       |ORDER BY q_vec_id""".stripMargin
  }

  val SpanW = 8
  val SpanMinDocs = 2L

  /** Duplicate-span detection over the documents table
    * ([[graft.dedup.Dedup.duplicateSpans]]): per doc, how many of its
    * 8-token windows appear verbatim in ≥2 documents, merged to an exact
    * interval-union duplicated-token count. */
  def dupSpans(s: SparkSession, d: String): DataFrame =
    graft.dedup.Dedup
      .duplicateSpans(documents(s, d), "doc_id", "text", SpanW, SpanMinDocs)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  def dupSpansOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS wd
       |  FROM documents),
       |sp AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    CAST('0x' || substr(md5(array_to_string(wd[i : i + $SpanW - 1], '_')), 1, 15) AS BIGINT) AS fp
       |  FROM (SELECT doc_id, wd, unnest(range(1, greatest(len(wd) - $SpanW + 2, 1))) AS i FROM t)),
       |flags AS (
       |  SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM sp)
       |  GROUP BY fp HAVING count(*) >= $SpanMinDocs),
       |dup AS (SELECT sp.doc_id, sp.pos FROM sp JOIN flags USING (fp)),
       |isl AS (
       |  SELECT doc_id, island, min(pos) AS s, max(pos + $SpanW) AS e FROM (
       |    SELECT doc_id, pos,
       |      CAST(sum(opens) OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
       |    FROM (
       |      SELECT doc_id, pos,
       |        CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS opens
       |      FROM (
       |        SELECT doc_id, pos,
       |          max(pos + $SpanW) OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |        FROM dup)))
       |  GROUP BY doc_id, island),
       |isl_doc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_islands,
       |    CAST(sum(e - s) AS BIGINT) AS dup_tokens
       |  FROM isl GROUP BY doc_id),
       |dc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans FROM dup GROUP BY doc_id)
       |SELECT t.doc_id AS doc_id, CAST(len(t.wd) AS BIGINT) AS n_tokens,
       |  COALESCE(dc.n_dup_spans, 0) AS n_dup_spans,
       |  COALESCE(isl_doc.n_islands, 0) AS n_islands,
       |  COALESCE(isl_doc.dup_tokens, 0) AS dup_tokens,
       |  round(COALESCE(isl_doc.dup_tokens, 0) / CAST(len(t.wd) AS BIGINT), 6) AS dup_ratio
       |FROM t LEFT JOIN dc ON t.doc_id = dc.doc_id
       |LEFT JOIN isl_doc ON t.doc_id = isl_doc.doc_id
       |ORDER BY doc_id""".stripMargin

  /** Duplicate-span REMOVAL over the documents table
    * ([[graft.dedup.Dedup.removeDuplicateSpans]]): the rewrite
    * [[dupSpans]] measures for — keeper (min doc id per duplicate
    * fingerprint) keeps its span, every other doc has the interval-union
    * of its removable 8-token windows excised and its text re-stitched
    * from the surviving tokens. Exact string surgery, hash-checked. */
  def dedupSpansRewrite(s: SparkSession, d: String): DataFrame =
    graft.dedup.Dedup
      .removeDuplicateSpans(documents(s, d), "doc_id", "text", SpanW, SpanMinDocs)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** The span-rewrite CTE chain up to `ka` (doc_id → kept-token count +
    * stitched `clean_text`) — shared by [[dedupSpansRewriteOracle]] and
    * the clean→repack composition oracle so the excision arithmetic
    * exists once on the oracle side. */
  private def spanRewriteCtesSql: String =
    s"""t AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS wd
       |  FROM documents),
       |sp AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    CAST('0x' || substr(md5(array_to_string(wd[i : i + $SpanW - 1], '_')), 1, 15) AS BIGINT) AS fp
       |  FROM (SELECT doc_id, wd, unnest(range(1, greatest(len(wd) - $SpanW + 2, 1))) AS i FROM t)),
       |flags AS (
       |  SELECT fp, min(doc_id) AS keeper
       |  FROM (SELECT DISTINCT doc_id, fp FROM sp)
       |  GROUP BY fp HAVING count(*) >= $SpanMinDocs),
       |dup AS (
       |  SELECT sp.doc_id, sp.pos FROM sp JOIN flags USING (fp)
       |  WHERE sp.doc_id <> flags.keeper),
       |isl AS (
       |  SELECT doc_id, island, min(pos) AS s, max(pos + $SpanW) AS e FROM (
       |    SELECT doc_id, pos,
       |      CAST(sum(opens) OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
       |    FROM (
       |      SELECT doc_id, pos,
       |        CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS opens
       |      FROM (
       |        SELECT doc_id, pos,
       |          max(pos + $SpanW) OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |        FROM dup)))
       |  GROUP BY doc_id, island),
       |toks AS (
       |  SELECT doc_id, j - 1 AS tpos, wd[CAST(j AS INTEGER)] AS tok
       |  FROM (SELECT doc_id, wd, unnest(range(1, len(wd) + 1)) AS j FROM t)),
       |kept AS (
       |  SELECT tk.doc_id, tk.tpos, tk.tok FROM toks tk
       |  WHERE NOT EXISTS (SELECT 1 FROM isl
       |    WHERE isl.doc_id = tk.doc_id AND tk.tpos >= isl.s AND tk.tpos < isl.e)),
       |ka AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY tpos) AS clean_text
       |  FROM kept GROUP BY doc_id)""".stripMargin

  def dedupSpansRewriteOracle: String =
    s"""WITH $spanRewriteCtesSql
       |SELECT t.doc_id AS doc_id, CAST(len(t.wd) AS BIGINT) AS n_tokens,
       |  COALESCE(ka.n_kept, 0) AS n_kept,
       |  CAST(len(t.wd) AS BIGINT) - COALESCE(ka.n_kept, 0) AS n_removed,
       |  COALESCE(ka.clean_text, '') AS clean_text
       |FROM t LEFT JOIN ka ON t.doc_id = ka.doc_id
       |ORDER BY doc_id""".stripMargin

  /** PER-SOURCE data scorecard — the "data card" rollup a pipeline owner
    * reads before deciding what to crawl more of: per source, document
    * count, battery survivors ([[curationFunnel]]'s language-conditional
    * stage-1 verdict — the stopword rule applies to English only, the
    * same conditioning the funnel uses, composed from
    * [[TextAnalysis.gopherFilters]] so the queries cannot drift; the
    * unconditional battery kills the whole synthetic fixture on
    * stopwords, which would leave this readout's keep branch dead),
    * the keep rate, the exact-dup member count
    * (non-keeper members of a [[TextQueries.dedupExact]] prefix-key
    * group — the fixture's collision-bearing key) and the integer mean
    * quality. All exact integers / deterministic rounding both engines.
    *
    * Scale shape: one battery scan (per-row rules), one
    * fingerprint-keyed window for keeper election (key grows with the
    * data), a doc-keyed join, and a #sources-keyed partial-agg rollup. */
  def sourceScorecard(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d)
    val battery = TextAnalysis.gopherFilters(
        docs, "doc_id", "text",
        extra = Seq(
          TextAnalysis.qualityScore(col("text")).as("quality"),
          col("lang")))
      .withColumn(
        "keep",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_symbol_ratio") && col("r_bullet") && col("r_ellipsis") &&
          col("r_alpha") && (col("lang") =!= "en" || col("r_stopword")) &&
          col("quality") >= 0.7)
      .select(
        col("doc_id"), col("keep"),
        round(col("quality") * 1e6, 0).cast("long").as("qm"))
    val dupFlag = docs
      .select(
        col("doc_id"), col("source"),
        md5(substring(col("text"), 1, 50)).as("dup_key"))
      .withColumn(
        "keeper", min(col("doc_id")).over(Window.partitionBy("dup_key")))
      .select(
        col("doc_id"), col("source"),
        when(col("doc_id") > col("keeper"), 1L).otherwise(0L).as("is_dup"))
    dupFlag.join(battery, Seq("doc_id"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(col("is_dup")).as("n_dup"),
        sum(col("qm")).as("sum_qm"))
      .select(
        col("source"), col("n_docs"), col("n_keep"),
        expr("CAST(round(CAST(n_keep AS DOUBLE) * 1000000 / CAST(n_docs AS DOUBLE), 0) AS BIGINT)")
          .as("keep_rate_micros"),
        col("n_dup"),
        expr("sum_qm div n_docs").as("mean_quality_micros"))
      .orderBy("source")
  }

  def sourceScorecardOracle: String =
    s"""WITH $gopherBatteryCtesSql,
       |k AS (
       |  SELECT r.doc_id,
       |    (r.r_word_count AND r.r_mean_word_len AND r.r_symbol_ratio
       |      AND r.r_bullet AND r.r_ellipsis AND r.r_alpha
       |      AND (dl.lang <> 'en' OR r.r_stopword)
       |      AND q.quality >= 0.7) AS keep,
       |    CAST(round(q.quality * 1000000, 0) AS BIGINT) AS qm
       |  FROM r
       |  JOIN q ON r.doc_id = q.doc_id
       |  JOIN (SELECT doc_id, lang FROM documents) dl ON r.doc_id = dl.doc_id),
       |f AS (
       |  SELECT doc_id, source, md5(substr(text, 1, 50)) AS dup_key
       |  FROM documents),
       |dflag AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY dup_key)
       |      THEN 1 ELSE 0 END AS is_dup
       |  FROM f),
       |j AS (SELECT d.source, d.is_dup, k.keep, k.qm
       |  FROM dflag d JOIN k ON d.doc_id = k.doc_id),
       |agg AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |    CAST(sum(is_dup) AS BIGINT) AS n_dup,
       |    CAST(sum(qm) AS BIGINT) AS sum_qm
       |  FROM j GROUP BY source)
       |SELECT source, n_docs, n_keep,
       |  CAST(round(CAST(n_keep AS DOUBLE) * 1000000 / CAST(n_docs AS DOUBLE), 0) AS BIGINT) AS keep_rate_micros,
       |  n_dup,
       |  CAST(sum_qm // n_docs AS BIGINT) AS mean_quality_micros
       |FROM agg ORDER BY source""".stripMargin

  /** TOKEN-BUDGET data selection — "give me the best B tokens": rank the
    * corpus by the quality blend (ties to the lower doc id), take the
    * greedy quality-descending prefix until the running token total
    * reaches the budget (here B = half the corpus's tokens, computed
    * in-plan so the query bites identically at every scale factor; the
    * budget-crossing document is included). The published
    * data-selection shape (quality-ranked selection under a token
    * budget, QuRating / DsDm-style) reduced to exact integers.
    *
    * Scale shape: the global quality-descending running total comes
    * from [[graft.operators.PrefixSum.globalCumsum]] over quality-range
    * buckets — NEVER a global ORDER BY window (one task would sort and
    * sum the whole corpus); the budget is a 1-row broadcast; the keep
    * flag is a map-side comparison. */
  def budgetSelect(s: SparkSession, d: String): DataFrame = {
    val scored = documents(s, d).select(
        col("doc_id"),
        graft.textanalysis.TextAnalysis.qualityScore(col("text")).as("quality"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .withColumn("qm", round(col("quality") * 1e6, 0).cast("long"))
      .localCheckpoint(true)
    val ranked = graft.operators.PrefixSum.globalCumsum(
      scored,
      bucket = format_string(
        "%020d",
        graft.operators.PrefixSum.adaptiveRangeBucket(scored, -col("qm"), 12)),
      order = Seq(col("qm").desc, col("doc_id").asc),
      value = col("n_tokens"),
      out = "cum_tokens")
    val tot = scored.agg(expr("sum(n_tokens) div 2").as("budget"))
    ranked
      .crossJoin(broadcast(tot))
      .select(
        col("doc_id"), col("quality"), col("n_tokens"), col("cum_tokens"),
        (col("cum_tokens") - col("n_tokens") < col("budget")).as("keep"))
      .orderBy("doc_id")
  }

  def budgetSelectOracle: String =
    s"""WITH $qualityCtesSql,
       |w AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |j AS (
       |  SELECT q.doc_id, q.quality, w.n_tokens,
       |    CAST(round(q.quality * 1000000, 0) AS BIGINT) AS qmm
       |  FROM q JOIN w USING (doc_id)),
       |t AS (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS budget FROM w),
       |r AS (
       |  SELECT doc_id, quality, n_tokens,
       |    CAST(sum(n_tokens) OVER (ORDER BY qmm DESC, doc_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM j)
       |SELECT doc_id, quality, n_tokens, cum_tokens,
       |  (cum_tokens - n_tokens < budget) AS keep
       |FROM r CROSS JOIN t ORDER BY doc_id""".stripMargin

  /** MIX-AWARE data selection — [[budgetSelect]] generalized to the
    * target mix: given an overall token budget B (half the corpus,
    * in-plan), each source receives budget round(weight·B) at the
    * [[TextQueries.mixWeights]] temperature-√ weights, and keeps its
    * quality-descending prefix under that budget — the "build a B-token
    * corpus AT the target source distribution" step that composes
    * quality scoring, mix weighting and greedy selection into the
    * actual corpus-construction decision. Token metric = n_chars div 4,
    * the same estimate the weights are computed from, so budgets and
    * masses are in one currency.
    *
    * Scale shape: per-source running totals via the hierarchical prefix
    * sum over (source, quality-range) buckets — sources are COARSE keys
    * (the §9 anti-pattern for a source-keyed window); per-source
    * offsets and budgets are #sources-row driver folds / broadcasts. */
  def mixSelect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scored = documents(s, d).select(
        col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        expr("n_chars div 4").as("n_tokens"))
      .withColumn("qm", round(col("quality") * 1e6, 0).cast("long"))
      .localCheckpoint(true)
    val per = scored.groupBy("source")
      .agg(sum("n_tokens").as("src_tokens"))
      .withColumn(
        "s_micros",
        round(sqrt(col("src_tokens").cast("double")) * 1e6, 0).cast("long"))
    val tot = per.agg(
      sum("s_micros").as("tot_micros"), sum("src_tokens").as("tot_tokens"))
    val targets = per.crossJoin(broadcast(tot))
      .withColumn(
        "target_tokens",
        expr("CAST(round(CAST(s_micros AS DOUBLE) / CAST(tot_micros AS DOUBLE)" +
          " * CAST(tot_tokens div 2 AS DOUBLE), 0) AS BIGINT)"))
      .select("source", "target_tokens")
    val ranked = graft.operators.PrefixSum.globalCumsum(
      scored,
      bucket = format_string(
        "%s\u0001%020d", col("source"),
        graft.operators.PrefixSum.adaptiveRangeBucket(scored, -col("qm"), 12)),
      order = Seq(col("source"), col("qm").desc, col("doc_id").asc),
      value = col("n_tokens"),
      out = "gcum")
    val counts = scored.groupBy("source").agg(sum("n_tokens").as("t"))
      .orderBy("source").collect()
    var acc = 0L
    val offs = counts.map { r =>
      val o = acc; acc += r.getLong(1); (r.getString(0), o)
    }.toSeq
    ranked
      .join(broadcast(offs.toDF("source", "src_off")), Seq("source"))
      .withColumn("cum_src_tokens", col("gcum") - col("src_off"))
      .join(broadcast(targets), Seq("source"))
      .select(
        col("doc_id"), col("source"), col("quality"), col("n_tokens"),
        col("cum_src_tokens"), col("target_tokens"),
        (col("cum_src_tokens") - col("n_tokens") < col("target_tokens"))
          .as("keep"))
      .orderBy("doc_id")
  }

  def mixSelectOracle: String =
    s"""WITH $qualityCtesSql,
       |w AS (
       |  SELECT doc_id, source, CAST(n_chars // 4 AS BIGINT) AS n_tokens
       |  FROM documents),
       |j AS (
       |  SELECT w.doc_id, w.source, q.quality, w.n_tokens,
       |    CAST(round(q.quality * 1000000, 0) AS BIGINT) AS qmm
       |  FROM w JOIN q ON w.doc_id = q.doc_id),
       |per AS (
       |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
       |  FROM j GROUP BY source),
       |sp AS (SELECT *,
       |  CAST(round(sqrt(CAST(src_tokens AS DOUBLE)) * 1000000, 0) AS BIGINT) AS s_micros
       |  FROM per),
       |t AS (SELECT CAST(sum(s_micros) AS BIGINT) AS tot_micros,
       |  CAST(sum(src_tokens) AS BIGINT) AS tot_tokens FROM sp),
       |tg AS (SELECT source,
       |  CAST(round(CAST(s_micros AS DOUBLE) / CAST(tot_micros AS DOUBLE)
       |    * CAST(tot_tokens // 2 AS DOUBLE), 0) AS BIGINT) AS target_tokens
       |  FROM sp, t),
       |r AS (
       |  SELECT doc_id, source, quality, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY qmm DESC, doc_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_src_tokens
       |  FROM j)
       |SELECT r.doc_id, r.source, r.quality, r.n_tokens, r.cum_src_tokens,
       |  tg.target_tokens,
       |  (r.cum_src_tokens - r.n_tokens < tg.target_tokens) AS keep
       |FROM r JOIN tg ON r.source = tg.source
       |ORDER BY doc_id""".stripMargin

  /** CLEAN → REPACK — the published dedup-then-train composition
    * (exact-substring dedup feeding sequence assembly): the corpus is
    * span-rewritten by [[graft.dedup.Dedup.removeDuplicateSpans]]
    * (keeper-first excision, [[dedupSpansRewrite]]'s exact semantics),
    * then the SURVIVING text is tokenized and packed into fixed-length
    * training sequences by [[TextQueries.trainSequencesDocs]] — so
    * removed spans shift every downstream sequence boundary, and the
    * layout checksums certify the whole two-stage pipeline end to end.
    * Scale shape = the two stages' own shapes composed; the stitched
    * corpus flows between them as a doc-keyed frame, never collected. */
  def cleanPack(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val cleaned = graft.dedup.Dedup
      .removeDuplicateSpans(docs, "doc_id", "text", SpanW, SpanMinDocs)
      .select(col("id").as("doc_id"), col("clean_text").as("text"))
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
    TextQueries.trainSequencesDocs(s, cleaned)
  }

  def cleanPackOracle: String =
    s"""WITH $spanRewriteCtesSql,
       |cleaned AS (
       |  SELECT d0.doc_id, d0.lang, COALESCE(ka.clean_text, '') AS text
       |  FROM documents d0 LEFT JOIN ka ON d0.doc_id = ka.doc_id),
       |${TextQueries.trainSeqCtesSql("cleaned")}
       |${TextQueries.trainSeqSelectSql}""".stripMargin

  /** Incremental span removal over the documents table
    * ([[graft.dedup.Dedup.removeDuplicateSpansIncremental]]): the
    * doc_id % 3 == 0 slice plays the arriving batch (the same residue as
    * the streaming ingest split), the rest the canonical corpus; every
    * batch window already present in the corpus is excised before
    * ingest. */
  def incrementalSpans(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    graft.dedup.Dedup
      .removeDuplicateSpansIncremental(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", SpanW)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  def incrementalSpansOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS wd
       |  FROM documents),
       |sp AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    CAST('0x' || substr(md5(array_to_string(wd[i : i + $SpanW - 1], '_')), 1, 15) AS BIGINT) AS fp
       |  FROM (SELECT doc_id, wd, unnest(range(1, greatest(len(wd) - $SpanW + 2, 1))) AS i FROM t)),
       |cfp AS (SELECT DISTINCT fp FROM sp WHERE doc_id % 3 <> 0),
       |dup AS (
       |  SELECT sp.doc_id, sp.pos FROM sp JOIN cfp USING (fp)
       |  WHERE sp.doc_id % 3 = 0),
       |isl AS (
       |  SELECT doc_id, island, min(pos) AS s, max(pos + $SpanW) AS e FROM (
       |    SELECT doc_id, pos,
       |      CAST(sum(opens) OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
       |    FROM (
       |      SELECT doc_id, pos,
       |        CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS opens
       |      FROM (
       |        SELECT doc_id, pos,
       |          max(pos + $SpanW) OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |        FROM dup)))
       |  GROUP BY doc_id, island),
       |tb AS (SELECT doc_id, wd FROM t WHERE doc_id % 3 = 0),
       |toks AS (
       |  SELECT doc_id, j - 1 AS tpos, wd[CAST(j AS INTEGER)] AS tok
       |  FROM (SELECT doc_id, wd, unnest(range(1, len(wd) + 1)) AS j FROM tb)),
       |kept AS (
       |  SELECT tk.doc_id, tk.tpos, tk.tok FROM toks tk
       |  WHERE NOT EXISTS (SELECT 1 FROM isl
       |    WHERE isl.doc_id = tk.doc_id AND tk.tpos >= isl.s AND tk.tpos < isl.e)),
       |ka AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY tpos) AS clean_text
       |  FROM kept GROUP BY doc_id)
       |SELECT tb.doc_id AS doc_id, CAST(len(tb.wd) AS BIGINT) AS n_tokens,
       |  COALESCE(ka.n_kept, 0) AS n_kept,
       |  CAST(len(tb.wd) AS BIGINT) - COALESCE(ka.n_kept, 0) AS n_removed,
       |  COALESCE(ka.clean_text, '') AS clean_text
       |FROM tb LEFT JOIN ka ON tb.doc_id = ka.doc_id
       |ORDER BY doc_id""".stripMargin

  /** CORPUS COMMIT readout ([[graft.dedup.Dedup.commitArtifacts]] over
    * the [[IncrementalMod]] split): gate the arriving batch with the
    * exact-dedup verdicts, span-clean the survivors against the corpus,
    * fold the cleaned batch into the three canonical artifacts
    * (fingerprint set, MinHash band table, span fp set), and report one
    * row per artifact — deploy-time size, batch delta size, committed
    * size. The counts pin gate, clean and commit cross-engine;
    * CommitArtifactsSpec pins the set-level law (committed == from
    * scratch on corpus ∪ accepted). */
  def corpusCommit(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val a = graft.dedup.Dedup.commitArtifacts(
      docs.filter(col("doc_id") % IncrementalMod =!= 0),
      docs.filter(col("doc_id") % IncrementalMod === 0),
      "doc_id", "text", MinhashHashes, MinhashBands, SpanW,
      simhashBlocks = SimhashBlocks)
    def row(name: String, c: DataFrame, del: DataFrame, com: DataFrame) =
      c.agg(count(lit(1)).as("n_corpus"))
        .crossJoin(del.agg(count(lit(1)).as("n_delta")))
        .crossJoin(com.agg(count(lit(1)).as("n_committed")))
        .select(
          lit(name).as("artifact"),
          col("n_corpus"), col("n_delta"), col("n_committed"))
    row("fingerprint", a.corpusFingerprints, a.deltaFingerprints,
        a.fingerprints)
      .unionByName(
        row("minhash_band", a.corpusBands, a.deltaBands, a.bandTable))
      .unionByName(
        row("span_fp", a.corpusSpanFps, a.deltaSpanFps, a.spanFps))
      .unionByName(
        row("simhash_band", a.corpusSimhashBands, a.deltaSimhashBands,
          a.simhashBands))
      .unionByName(
        row("ngram_posting", a.corpusNgramPostings, a.deltaNgramRows,
          a.ngramPostings))
      .unionByName(
        row("shingle_set", a.corpusShingleSets, a.deltaShingleSets,
          a.shingleSets))
      .orderBy("artifact")
  }

  /** DuckDB oracle for [[corpusCommit]]: the exact-dedup gate CTEs (the
    * [[incrementalDedupOracle]] arithmetic), the span-rewrite CTEs over
    * the gated batch (the [[incrementalSpansOracle]] arithmetic), then
    * each artifact recomputed on the cleaned survivors and counted
    * before/delta/after. */
  /** The gate + span-clean CTE chain (fpt…ka) shared VERBATIM by
    * [[corpusCommitOracle]] and [[streamLifecycleOracle]] — one
    * definition, so the lifecycle oracle's gate can never drift from
    * the commit oracle's. Ends before the accepted-doc projection
    * (`cleaned` for the commit face; the lifecycle filters survivors). */
  private def commitGateCtesSql: String = {
    val M = IncrementalMod
    val W = SpanW
    s"""fpt AS (
       |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
       |  FROM documents),
       |b AS (SELECT doc_id, fingerprint FROM fpt WHERE doc_id % $M = 0),
       |seen AS (SELECT DISTINCT fingerprint FROM fpt WHERE doc_id % $M <> 0),
       |firsts AS (SELECT fingerprint, min(doc_id) AS first_id FROM b GROUP BY fingerprint),
       |acc AS (
       |  SELECT b.doc_id FROM b
       |  LEFT JOIN seen s ON b.fingerprint = s.fingerprint
       |  JOIN firsts f ON b.fingerprint = f.fingerprint
       |  WHERE s.fingerprint IS NULL AND b.doc_id = f.first_id),
       |t AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS wd FROM documents),
       |sp AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    CAST('0x' || substr(md5(array_to_string(wd[i : i + $W - 1], '_')), 1, 15) AS BIGINT) AS fp
       |  FROM (SELECT doc_id, wd, unnest(range(1, greatest(len(wd) - $W + 2, 1))) AS i FROM t)),
       |cfp AS (SELECT DISTINCT fp FROM sp WHERE doc_id % $M <> 0),
       |dup AS (
       |  SELECT sp.doc_id, sp.pos FROM sp JOIN cfp USING (fp) JOIN acc USING (doc_id)),
       |isl AS (
       |  SELECT doc_id, island, min(pos) AS s, max(pos + $W) AS e FROM (
       |    SELECT doc_id, pos,
       |      CAST(sum(opens) OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
       |    FROM (
       |      SELECT doc_id, pos,
       |        CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS opens
       |      FROM (
       |        SELECT doc_id, pos,
       |          max(pos + $W) OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |        FROM dup)))
       |  GROUP BY doc_id, island),
       |tb AS (SELECT t.doc_id, t.wd FROM t JOIN acc USING (doc_id)),
       |toks AS (
       |  SELECT doc_id, j - 1 AS tpos, wd[CAST(j AS INTEGER)] AS tok
       |  FROM (SELECT doc_id, wd, unnest(range(1, len(wd) + 1)) AS j FROM tb)),
       |kept AS (
       |  SELECT tk.doc_id, tk.tpos, tk.tok FROM toks tk
       |  WHERE NOT EXISTS (SELECT 1 FROM isl
       |    WHERE isl.doc_id = tk.doc_id AND tk.tpos >= isl.s AND tk.tpos < isl.e)),
       |ka AS (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text
       |  FROM kept GROUP BY doc_id)""".stripMargin
  }

  /** The artifact-recompute CTEs (afp…pdf) over an accepted-docs CTE
    * named `src` — the second block [[corpusCommitOracle]] and
    * [[streamLifecycleOracle]] share verbatim. */
  private def commitArtifactCtesSql(src: String): String = {
    val M = IncrementalMod
    val W = SpanW
    s"""afp AS (
       |  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
       |  FROM $src),
       |cw AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM $src),
       |ashl AS (
       |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s),1,15) AS BIGINT) AS shingle FROM (
       |    SELECT doc_id, unnest([w[i] || '_' || w[i+1] || '_' || w[i+2] for i in range(1, len(w)-1)]) AS s
       |    FROM cw)),
       |asig AS (SELECT doc_id, $sigColsSql FROM ashl GROUP BY doc_id),
       |aband AS (
       |  ${bandSelectsSql("asig")}),
       |aspfp AS (
       |  SELECT DISTINCT CAST('0x' || substr(md5(array_to_string(w[i : i + $W - 1], '_')), 1, 15) AS BIGINT) AS fp
       |  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - $W + 2, 1))) AS i FROM cw)),
       |cshl AS (
       |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s),1,15) AS BIGINT) AS shingle FROM (
       |    SELECT doc_id, unnest([w[i] || '_' || w[i+1] || '_' || w[i+2] for i in range(1, len(w)-1)]) AS s
       |    FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
       |      FROM documents WHERE doc_id % $M <> 0))),
       |csig AS (SELECT doc_id, $sigColsSql FROM cshl GROUP BY doc_id),
       |cband AS (
       |  ${bandSelectsSql("csig")}),
       |csimd AS (
       |  SELECT doc_id FROM t
       |  WHERE doc_id % $M <> 0 AND len(list_filter(wd, x -> x <> '')) > 0),
       |asimd AS (
       |  SELECT doc_id FROM cw WHERE len(list_filter(w, x -> x <> '')) > 0),
       |cdf AS (SELECT shingle, count(*) AS df FROM cshl GROUP BY shingle),
       |pall AS (
       |  SELECT doc_id, shingle FROM cshl
       |  UNION ALL SELECT doc_id, shingle FROM ashl),
       |pdf AS (SELECT shingle, count(*) AS df FROM pall GROUP BY shingle)""".stripMargin
  }

  def corpusCommitOracle: String = {
    s"""WITH $commitGateCtesSql,
       |cleaned AS (
       |  SELECT tb.doc_id, COALESCE(ka.clean_text, '') AS text
       |  FROM tb LEFT JOIN ka ON tb.doc_id = ka.doc_id),
       |${commitArtifactCtesSql("cleaned")}
       |SELECT 'fingerprint' AS artifact,
       |  (SELECT count(*) FROM seen) AS n_corpus,
       |  (SELECT count(*) FROM afp) AS n_delta,
       |  (SELECT count(*) FROM (SELECT fingerprint FROM seen UNION SELECT fingerprint FROM afp)) AS n_committed
       |UNION ALL
       |SELECT 'minhash_band',
       |  (SELECT count(*) FROM cband),
       |  (SELECT count(*) FROM aband),
       |  (SELECT count(*) FROM cband) + (SELECT count(*) FROM aband)
       |UNION ALL
       |SELECT 'span_fp',
       |  (SELECT count(*) FROM cfp),
       |  (SELECT count(*) FROM aspfp),
       |  (SELECT count(*) FROM (SELECT fp FROM cfp UNION SELECT fp FROM aspfp))
       |UNION ALL
       |SELECT 'simhash_band',
       |  (SELECT count(*) * $SimhashBlocks FROM csimd),
       |  (SELECT count(*) * $SimhashBlocks FROM asimd),
       |  (SELECT count(*) * $SimhashBlocks FROM csimd)
       |    + (SELECT count(*) * $SimhashBlocks FROM asimd)
       |UNION ALL
       |SELECT 'ngram_posting',
       |  (SELECT count(*) FROM cshl JOIN cdf USING (shingle)
       |     WHERE cdf.df <= ${graft.dedup.Dedup.DefaultShingleDfCap}),
       |  (SELECT count(*) FROM ashl),
       |  (SELECT count(*) FROM pall JOIN pdf USING (shingle)
       |     WHERE pdf.df <= ${graft.dedup.Dedup.DefaultShingleDfCap})
       |UNION ALL
       |SELECT 'shingle_set',
       |  (SELECT count(DISTINCT doc_id) FROM cshl),
       |  (SELECT count(DISTINCT doc_id) FROM ashl),
       |  (SELECT count(DISTINCT doc_id) FROM cshl)
       |    + (SELECT count(DISTINCT doc_id) FROM ashl)
       |ORDER BY artifact""".stripMargin
  }

  val KmeansIters = 3

  /** Trained k-means (integer Lloyd's, [[graft.similarity.Ivf.lloydInt]])
    * over the embeddings table: per-cell member count, member-id sum and
    * centroid checksum after [[KmeansIters]] exact-arithmetic iterations
    * from the fixed seed vectors. This is the trained-quantizer path made
    * hash-checkable — the MLlib seed-dependent build can't be. */
  def kmeansTrain(s: SparkSession, d: String): DataFrame =
    graft.similarity.Ivf
      .lloydInt(embeddings(s, d), IvfCentroidIds, KmeansIters)

  /** DuckDB twin: the same Lloyd's iterations unrolled as CTEs — integer
    * micros quantization, integer L2², truncating integer centroid means
    * (`//` truncates exactly like Spark's `div`), empty cells keep their
    * previous centroid. */
  def kmeansTrainOracle: String = {
    val ids = IvfCentroidIds.mkString(", ")
    val dist =
      "list_sum(list_transform(range(1, len(q.qe) + 1), i -> (q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i])))"
    val sb = new StringBuilder
    sb.append(
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
         |  FROM embeddings),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, qe AS ce
         |  FROM q WHERE vec_id IN ($ids))""".stripMargin)
    for (i <- 1 to KmeansIters) {
      sb.append(
        s""",
           |a$i AS (
           |  SELECT vec_id, qe, cell FROM (
           |    SELECT q.vec_id, q.qe, c.cell,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY $dist ASC, c.cell ASC) AS rn
           |    FROM q, c${i - 1} c) WHERE rn = 1),
           |u$i AS (
           |  SELECT cell, list(CAST(s // n AS BIGINT) ORDER BY pos) AS ce FROM (
           |    SELECT cell, pos, sum(v) AS s, count(*) AS n FROM (
           |      SELECT cell, unnest(range(1, len(qe) + 1)) AS pos, unnest(qe) AS v
           |      FROM a$i)
           |    GROUP BY cell, pos)
           |  GROUP BY cell),
           |c$i AS (
           |  SELECT p.cell, COALESCE(u.ce, p.ce) AS ce
           |  FROM c${i - 1} p LEFT JOIN u$i u ON p.cell = u.cell)""".stripMargin)
    }
    sb.append(
      s"""
         |SELECT c.cell,
         |  CAST(COALESCE(st.n, 0) AS BIGINT) AS n_members,
         |  CAST(COALESCE(st.id_sum, 0) AS BIGINT) AS id_sum,
         |  CAST(list_sum(c.ce) AS BIGINT) AS centroid_sum
         |FROM c$KmeansIters c LEFT JOIN (
         |  SELECT cell, count(*) AS n, sum(vec_id) AS id_sum
         |  FROM a$KmeansIters GROUP BY cell) st ON c.cell = st.cell
         |ORDER BY c.cell""".stripMargin)
    sb.toString
  }

  /** End-to-end TRAINED IVF search ([[graft.similarity.Ivf.trainedTopK]]):
    * integer Lloyd's training ([[KmeansIters]] iterations from the fixed
    * seed vectors), trained-cell assignment and probing by exact integer
    * distance, cosine scoring — the full composition a real user runs,
    * hash-checked end to end (training was `q_kmeans_train`, fixed-centroid
    * search was `q_ivf_topk`; this closes the composition gap). */
  def ivfTrainedTopK(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    graft.similarity.Ivf
      .trainedTopK(emb, emb.filter(col("vec_id") < NumQueries),
        IvfCentroidIds, KmeansIters, IvfNProbe, TopK)
      .orderBy("q_vec_id", "rnk")
  }

  /** DuckDB twin: the kmeans-train CTE chain (same as
    * [[kmeansTrainOracle]]) composed with trained-assignment probing and
    * cosine ranking. */
  def ivfTrainedTopKOracle: String = {
    val ids = IvfCentroidIds.mkString(", ")
    val dist =
      "list_sum(list_transform(range(1, len(q.qe) + 1), i -> (q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i])))"
    val sb = new StringBuilder
    sb.append(
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, qe AS ce
         |  FROM q WHERE vec_id IN ($ids))""".stripMargin)
    for (i <- 1 to KmeansIters) {
      sb.append(
        s""",
           |a$i AS (
           |  SELECT vec_id, qe, cell FROM (
           |    SELECT q.vec_id, q.qe, c.cell,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY $dist ASC, c.cell ASC) AS rn
           |    FROM q, c${i - 1} c) WHERE rn = 1),
           |u$i AS (
           |  SELECT cell, list(CAST(s // n AS BIGINT) ORDER BY pos) AS ce FROM (
           |    SELECT cell, pos, sum(v) AS s, count(*) AS n FROM (
           |      SELECT cell, unnest(range(1, len(qe) + 1)) AS pos, unnest(qe) AS v
           |      FROM a$i)
           |    GROUP BY cell, pos)
           |  GROUP BY cell),
           |c$i AS (
           |  SELECT p.cell, COALESCE(u.ce, p.ce) AS ce
           |  FROM c${i - 1} p LEFT JOIN u$i u ON p.cell = u.cell)""".stripMargin)
    }
    sb.append(
      s""",
         |asg AS (
         |  SELECT a.vec_id, a.cell, q.emb,
         |    sqrt(list_dot_product(q.emb, q.emb)) AS nrm
         |  FROM a$KmeansIters a JOIN q ON a.vec_id = q.vec_id),
         |probes AS (
         |  SELECT q_vec_id, q_emb, cell,
         |    sqrt(list_dot_product(q_emb, q_emb)) AS q_nrm FROM (
         |    SELECT q.vec_id AS q_vec_id, q.emb AS q_emb, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY $dist ASC, c.cell ASC) AS rn
         |    FROM q, c$KmeansIters c WHERE q.vec_id < $NumQueries)
         |  WHERE rn <= $IvfNProbe),
         |scored AS (
         |  SELECT p.q_vec_id, s.vec_id,
         |    round(list_dot_product(s.emb, p.q_emb) / (s.nrm * p.q_nrm), 6) AS score
         |  FROM asg s JOIN probes p ON s.cell = p.cell AND s.vec_id <> p.q_vec_id)
         |SELECT q_vec_id, CAST(rnk AS BIGINT) AS rnk, vec_id, score FROM (
         |  SELECT q_vec_id, vec_id, score,
         |    row_number() OVER (PARTITION BY q_vec_id ORDER BY score DESC, vec_id ASC) AS rnk
         |  FROM scored) WHERE rnk <= $TopK
         |ORDER BY q_vec_id, rnk""".stripMargin)
    sb.toString
  }

  val SemDedupThreshold = 0.35

  /** SemDeDup drop list over the embeddings table: cluster with the fixed
    * IVF centroids, intra-cluster cosine pairs ≥ threshold, keep lowest id
    * (see [[graft.similarity.Ivf.semanticDedup]]). */
  def semanticDedup(s: SparkSession, d: String): DataFrame =
    graft.similarity.Ivf
      .semanticDedup(embeddings(s, d), IvfCentroidIds, SemDedupThreshold)
      .orderBy("vec_id")

  def semanticDedupOracle: String = {
    val ids = IvfCentroidIds.mkString(", ")
    s"""WITH c0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |cent AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, emb AS cemb
       |  FROM c0 WHERE vec_id IN ($ids)),
       |asg AS (
       |  SELECT vec_id, emb, cell, sqrt(list_dot_product(emb, emb)) AS nrm FROM (
       |    SELECT a.vec_id, a.emb, c.cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        list_dot_product(a.emb, a.emb) - 2 * list_dot_product(a.emb, c.cemb) + list_dot_product(c.cemb, c.cemb) ASC,
       |        c.cell ASC) AS rn
       |    FROM c0 a CROSS JOIN cent c) WHERE rn = 1),
       |pairs AS (
       |  SELECT b.vec_id AS id_b, b.cell AS cell,
       |    round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS score
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id)
       |SELECT id_b AS vec_id, cell, count(*) AS n_dups,
       |  max(score) AS max_score
       |FROM pairs WHERE score >= CAST($SemDedupThreshold AS DOUBLE)
       |GROUP BY id_b, cell
       |ORDER BY vec_id""".stripMargin
  }

  /** Batch residue for the incremental SemDeDup query: vec_id % 9 == 8 is
    * the one residue class mod 9 that contains NO [[IvfCentroidIds]]
    * centroid (ids are 0,37,…,259 ≡ 0..7 mod 9), so every centroid stays
    * on the corpus side of the split. */
  val SemIncMod = 9
  val SemIncResidue = 8

  /** Incremental SemDeDup drop list: the vec_id % 9 == 8 batch arriving
    * against the corpus of everything else, batch×corpus pairs only
    * (see [[graft.similarity.Ivf.semanticDedupIncremental]]). */
  def semanticDedupIncrementalQ(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    graft.similarity.Ivf
      .semanticDedupIncremental(
        emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue),
        emb.filter(col("vec_id") % SemIncMod === SemIncResidue),
        IvfCentroidIds, SemDedupThreshold)
      .orderBy("vec_id")
  }

  def semanticDedupIncrementalOracle: String = {
    val ids = IvfCentroidIds.mkString(", ")
    s"""WITH c0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings WHERE vec_id % $SemIncMod <> $SemIncResidue),
       |b0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings WHERE vec_id % $SemIncMod = $SemIncResidue),
       |cent AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, emb AS cemb
       |  FROM c0 WHERE vec_id IN ($ids)),
       |asgc AS (
       |  SELECT vec_id, emb, cell, sqrt(list_dot_product(emb, emb)) AS nrm FROM (
       |    SELECT a.vec_id, a.emb, c.cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        list_dot_product(a.emb, a.emb) - 2 * list_dot_product(a.emb, c.cemb) + list_dot_product(c.cemb, c.cemb) ASC,
       |        c.cell ASC) AS rn
       |    FROM c0 a CROSS JOIN cent c) WHERE rn = 1),
       |asgb AS (
       |  SELECT vec_id, emb, cell, sqrt(list_dot_product(emb, emb)) AS nrm FROM (
       |    SELECT a.vec_id, a.emb, c.cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        list_dot_product(a.emb, a.emb) - 2 * list_dot_product(a.emb, c.cemb) + list_dot_product(c.cemb, c.cemb) ASC,
       |        c.cell ASC) AS rn
       |    FROM b0 a CROSS JOIN cent c) WHERE rn = 1),
       |pairs AS (
       |  SELECT b.vec_id AS id_b, b.cell AS cell,
       |    round(list_dot_product(c.emb, b.emb) / (c.nrm * b.nrm), 6) AS score
       |  FROM asgb b JOIN asgc c ON b.cell = c.cell)
       |SELECT id_b AS vec_id, cell, count(*) AS n_dups, max(score) AS max_score
       |FROM pairs WHERE score >= CAST($SemDedupThreshold AS DOUBLE)
       |GROUP BY id_b, cell
       |ORDER BY vec_id""".stripMargin
  }

  /** COMMIT face of the semantic family's stored artifact
    * ([[graft.similarity.Ivf.commitCellAssignments]]): the vec_id % 9
    * == 8 arrivals assign against the FROZEN corpus-trained centroid
    * table (per-vector map work) and fold into the corpus's stored
    * (vec_id, cell) assignment as a bare id-disjoint union. The emitted
    * frame is the COMMITTED table itself, and the oracle REBUILDS it
    * from scratch — one assignment pass over corpus ∪ arrivals — so the
    * committed == rebuilt law is hash-checked cross-engine, the
    * q_manifest_commit discipline. The artifact is what the incremental
    * gate reads per delivery
    * ([[graft.similarity.Ivf.semanticIncrementalFromArtifacts]], pinned
    * == the recomputing gate in SemanticCommitSpec). */
  def semanticCommit(s: SparkSession, d: String): DataFrame = {
    val ivf = graft.similarity.Ivf
    val emb = embeddings(s, d)
    val corpus = emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue)
    val arrivals = emb.filter(col("vec_id") % SemIncMod === SemIncResidue)
    val cent = ivf.fixedCentroidsDouble(corpus, IvfCentroidIds)
      .localCheckpoint(true)
    val stored = ivf.assignCells(corpus, cent).localCheckpoint(true)
    ivf.commitCellAssignments(stored, cent, arrivals).orderBy("vec_id")
  }

  def semanticCommitOracle: String = {
    val ids = IvfCentroidIds.mkString(", ")
    s"""WITH c0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |cent AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, emb AS cemb
       |  FROM c0 WHERE vec_id IN ($ids))
       |SELECT vec_id, cell FROM (
       |  SELECT a.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      list_dot_product(a.emb, a.emb) - 2 * list_dot_product(a.emb, c.cemb) + list_dot_product(c.cemb, c.cemb) ASC,
       |      c.cell ASC) AS rn
       |  FROM c0 a CROSS JOIN cent c) WHERE rn = 1
       |ORDER BY vec_id""".stripMargin
  }

  /** QUALITY-DISTRIBUTION drift monitor — the text-quality member of
    * the drift-monitor family (q_cell_drift watches embedding geometry,
    * q_ann_recall retrieval quality, q_pq_distortion the quantizer;
    * THIS watches whether arriving data's quality-score distribution
    * still looks like the corpus the filters were tuned on): per
    * discrete quality level, corpus and arrival counts, each side's
    * level fraction in exact integer micros (`n·10⁶ div total` — no
    * float anywhere, so both engines agree bit-for-bit), and the
    * absolute per-level fraction delta. Σ delta_micros / 2 is the total
    * variation distance — the drift statistic — computable by the
    * consumer with one more integer sum; it is deliberately NOT a
    * log-ratio PSI, because ln is not correctly-rounded-guaranteed
    * across engines while integer division is.
    *
    * Scale shape: two corpus passes collapse immediately to ≤ a dozen
    * level rows (the quality blend has finitely many values); totals
    * are 1-row aggregates of THOSE histograms crossJoined back — the
    * readout composes level-count-sized frames only. */
  def qualityDrift(s: SparkSession, d: String): DataFrame = {
    val scored = documents(s, d).select(
      col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
    qualityDriftReadout(
      scored.filter(col("doc_id") % IncrementalMod =!= 0)
        .groupBy("quality").agg(count(lit(1)).as("corpus_n")),
      scored.filter(col("doc_id") % IncrementalMod === 0)
        .groupBy("quality").agg(count(lit(1)).as("batch_n")))
  }

  /** The drift readout over a frozen corpus histogram and an arrival
    * histogram — shared by the batch and streaming faces so the two can
    * never drift (the streaming face folds arrivals into `batch_n` in
    * complete mode, state bounded by the level count, then joins the
    * SAME baseline). */
  private[graft] def qualityDriftReadout(
      ch: DataFrame, bh: DataFrame, key: String = "quality"): DataFrame = {
    val ct = ch.agg(sum(col("corpus_n")).as("corpus_total"))
    val bt = bh.agg(sum(col("batch_n")).as("batch_total"))
    ch.join(bh, Seq(key), "full_outer")
      .na.fill(0L, Seq("corpus_n", "batch_n"))
      .crossJoin(broadcast(ct))
      .crossJoin(broadcast(bt))
      .withColumn("corpus_frac_micros",
        expr("corpus_n * 1000000 DIV corpus_total"))
      .withColumn("batch_frac_micros",
        expr("batch_n * 1000000 DIV batch_total"))
      .withColumn("delta_micros",
        abs(col("batch_frac_micros") - col("corpus_frac_micros")))
      .select(key, "corpus_n", "batch_n",
        "corpus_frac_micros", "batch_frac_micros", "delta_micros")
      .orderBy(key)
  }

  /** SOURCE-MIX drift monitor — the ingest-ops face of the drift
    * family: the corpus's per-`source` document distribution against
    * the arriving batch's, in the same exact integer-micros
    * total-variation readout as [[qualityDrift]] (shared helper — the
    * two readouts cannot drift). A crawler gone rogue, a feed gone
    * silent, or a new source appearing all surface as mass moving in
    * this table before any content-level monitor fires. Histograms
    * collapse to ≤ |sources| rows immediately. */
  def sourceDrift(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "source")
    qualityDriftReadout(
      docs.filter(col("doc_id") % IncrementalMod =!= 0)
        .groupBy("source").agg(count(lit(1)).as("corpus_n")),
      docs.filter(col("doc_id") % IncrementalMod === 0)
        .groupBy("source").agg(count(lit(1)).as("batch_n")),
      "source")
  }

  def sourceDriftOracle: String =
    s"""WITH ch AS (SELECT source, count(*) AS n FROM documents
       |       WHERE doc_id % $IncrementalMod <> 0 GROUP BY 1),
       |bh AS (SELECT source, count(*) AS n FROM documents
       |       WHERE doc_id % $IncrementalMod = 0 GROUP BY 1),
       |ct AS (SELECT sum(n) AS t FROM ch),
       |bt AS (SELECT sum(n) AS t FROM bh)
       |SELECT COALESCE(ch.source, bh.source) AS source,
       |  CAST(COALESCE(ch.n, 0) AS BIGINT) AS corpus_n,
       |  CAST(COALESCE(bh.n, 0) AS BIGINT) AS batch_n,
       |  CAST(COALESCE(ch.n, 0) * 1000000 // ct.t AS BIGINT) AS corpus_frac_micros,
       |  CAST(COALESCE(bh.n, 0) * 1000000 // bt.t AS BIGINT) AS batch_frac_micros,
       |  CAST(abs(COALESCE(bh.n, 0) * 1000000 // bt.t
       |         - COALESCE(ch.n, 0) * 1000000 // ct.t) AS BIGINT) AS delta_micros
       |FROM ch FULL OUTER JOIN bh ON ch.source = bh.source, ct, bt
       |ORDER BY source""".stripMargin

  def qualityDriftOracle: String =
    s"""WITH $qualityCtesSql,
       |ch AS (SELECT quality, count(*) AS n FROM q
       |       WHERE doc_id % $IncrementalMod <> 0 GROUP BY 1),
       |bh AS (SELECT quality, count(*) AS n FROM q
       |       WHERE doc_id % $IncrementalMod = 0 GROUP BY 1),
       |ct AS (SELECT sum(n) AS t FROM ch),
       |bt AS (SELECT sum(n) AS t FROM bh)
       |SELECT COALESCE(ch.quality, bh.quality) AS quality,
       |  CAST(COALESCE(ch.n, 0) AS BIGINT) AS corpus_n,
       |  CAST(COALESCE(bh.n, 0) AS BIGINT) AS batch_n,
       |  CAST(COALESCE(ch.n, 0) * 1000000 // ct.t AS BIGINT) AS corpus_frac_micros,
       |  CAST(COALESCE(bh.n, 0) * 1000000 // bt.t AS BIGINT) AS batch_frac_micros,
       |  CAST(abs(COALESCE(ch.n, 0) * 1000000 // ct.t
       |         - COALESCE(bh.n, 0) * 1000000 // bt.t) AS BIGINT) AS delta_micros
       |FROM ch FULL OUTER JOIN bh ON ch.quality = bh.quality, ct, bt
       |ORDER BY quality""".stripMargin

  /** Neighbors kept per vector in the kNN-graph family. */
  val KnnGraphK = 4

  /** MUTUAL kNN graph over the embeddings table
    * ([[graft.similarity.Ivf.mutualKnnEdges]]): every vector queries the
    * IVF index it lives in (nProbe cells probed map-side, candidates
    * from a cell-keyed shuffle join — both sides are the corpus, so
    * nothing broadcasts), keeps its [[KnnGraphK]] best, and an
    * undirected edge survives iff BOTH endpoints keep each other — the
    * symmetric sparsifier that graph-based corpus organization
    * (cluster pruning, diversity selection) builds on, with hub degree
    * capped at k by construction. */
  def knnGraph(s: SparkSession, d: String): DataFrame =
    mutualEdgesMemo(s, d).orderBy("id_a", "id_b")

  /** The mutual-kNN edge set's memo family: the graph, cluster and
    * keep-list queries all read the SAME deterministic edge set, so one
    * build serves every declared consumer. */
  private val KnnEdgesMemo = graft.Memo.frames("knn_edges",
    Set("q_knn_graph", "q_semantic_clusters", "q_semantic_keeplist",
      "q_semantic_quality_keeplist", "q_graph_stats", "q_graph_pagerank",
      "q_graph_drift", "q_pagerank_keeplist", "q_pagerank_incremental",
      "q_pagerank_residual"))

  private[graft] def mutualEdgesMemo(s: SparkSession, d: String): DataFrame =
    graft.Memo.get(KnnEdgesMemo, s, d) {
      graft.similarity.Ivf
        .mutualKnnEdges(embeddings(s, d), IvfCentroidIds, IvfNProbe, KnnGraphK)
        .localCheckpoint(true)
    }

  /** The probe/assign/score/rank CTEs of the whole-corpus kNN edge set
    * — shared by the graph, clusters, keep-list and retraction oracles.
    * Yields `medges` (mutual (id_a, id_b, score), id_a < id_b) over the
    * optionally filtered embeddings slice. */
  private def knnEdgesCtes: String = knnEdgesCtesWhere("")

  private def knnEdgesCtesWhere(filter: String): String =
    knnEdgesCtesPrefixed("", filter)

  /** [[knnEdgesCtesWhere]] with every CTE name prefixed, so two edge
    * builds (e.g. the drift monitor's baseline + current graphs) can
    * coexist in one WITH clause without name collisions. */
  private def knnEdgesCtesPrefixed(p: String, filter: String): String =
    knnEdgesCtesPrefixedIds(p, filter, IvfCentroidIds)

  /** [[knnEdgesCtesPrefixed]] under an EXPLICIT centroid-id set — the
    * partial-refresh oracle builds the mixed (kept ∪ retrained) set
    * with it. Cell numbering is by sorted id, a pure relabeling of the
    * store's in-place numbering: edges are label-free, so the faces
    * compare exactly. */
  private def knnEdgesCtesPrefixedIds(
      p: String, filter: String, centroidIds: Seq[Long]): String = {
    val ids = centroidIds.mkString(", ")
    s"""${p}c0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings$filter),
       |${p}cent AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, emb AS cemb
       |  FROM ${p}c0 WHERE vec_id IN ($ids)),
       |${p}asg AS (
       |  SELECT vec_id, emb, cell, sqrt(list_dot_product(emb, emb)) AS nrm FROM (
       |    SELECT a.vec_id, a.emb, c.cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        list_dot_product(a.emb, a.emb) - 2 * list_dot_product(a.emb, c.cemb) + list_dot_product(c.cemb, c.cemb) ASC,
       |        c.cell ASC) AS rn
       |    FROM ${p}c0 a CROSS JOIN ${p}cent c) WHERE rn = 1),
       |${p}probes AS (
       |  SELECT q_vec_id, q_emb, cell, sqrt(list_dot_product(q_emb, q_emb)) AS q_nrm FROM (
       |    SELECT a.vec_id AS q_vec_id, a.emb AS q_emb, c.cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        list_dot_product(a.emb, a.emb) - 2 * list_dot_product(a.emb, c.cemb) + list_dot_product(c.cemb, c.cemb) ASC,
       |        c.cell ASC) AS rn
       |    FROM ${p}c0 a CROSS JOIN ${p}cent c) WHERE rn <= $IvfNProbe),
       |${p}scored AS (
       |  SELECT p.q_vec_id, s.vec_id,
       |    round(list_dot_product(s.emb, p.q_emb) / (s.nrm * p.q_nrm), 6) AS score
       |  FROM ${p}asg s JOIN ${p}probes p ON s.cell = p.cell AND s.vec_id <> p.q_vec_id),
       |${p}e AS (
       |  SELECT q_vec_id AS src, vec_id AS dst, score FROM (
       |    SELECT q_vec_id, vec_id, score,
       |      row_number() OVER (PARTITION BY q_vec_id ORDER BY score DESC, vec_id ASC) AS rnk
       |    FROM ${p}scored) WHERE rnk <= $KnnGraphK),
       |${p}medges AS (
       |  SELECT e1.src AS id_a, e1.dst AS id_b, e1.score
       |  FROM ${p}e e1 JOIN ${p}e e2 ON e1.src = e2.dst AND e1.dst = e2.src
       |  WHERE e1.src < e1.dst)""".stripMargin
  }

  def knnGraphOracle: String =
    s"""WITH $knnEdgesCtes
       |SELECT id_a, id_b, score FROM medges
       |ORDER BY id_a, id_b""".stripMargin

  /** The cell-scoped partial refresh's retrain set
    * (q_stream_knn_refresh_cells): cells 2 and 5 of the canonical
    * deploy re-point to surviving stored vectors 19 and 41 — the
    * store applies it via [[graft.similarity.KnnStore.refreshCells]];
    * the oracle recomputes from scratch under the equivalent MIXED
    * centroid-id set. */
  val KnnRefreshCellsReplacements: Map[Long, Long] =
    Map(2L -> 19L, 5L -> 41L)

  /** The mixed centroid-id set the partial refresh converges to:
    * the canonical sorted ids with the retrained cells' ids swapped. */
  val KnnRefreshCellsMixedIds: Seq[Long] = IvfCentroidIds.sorted
    .zipWithIndex
    .map { case (id, i) =>
      KnnRefreshCellsReplacements.getOrElse(i.toLong, id)
    }

  /** The from-scratch mutual-graph oracle under an explicit centroid
    * set — shared by the partial-refresh face. */
  def knnGraphOracleForIds(centroidIds: Seq[Long]): String =
    s"""WITH ${knnEdgesCtesPrefixedIds("", "", centroidIds)}
       |SELECT id_a, id_b, score FROM medges
       |ORDER BY id_a, id_b""".stripMargin

  /** INCREMENTAL mutual-kNN graph
    * ([[graft.similarity.Ivf.mutualKnnIncremental]]): the vec_id % 9 ==
    * 8 arrivals fold into the corpus graph's stored artifacts —
    * re-ranking only arrivals plus the corpus queries whose probe cells
    * an arrival landed in — and the result must equal the from-scratch
    * graph of corpus ∪ batch, which is EXACTLY what the oracle computes
    * (the q_knn_graph oracle over all embeddings; the centroid ids all
    * live on the corpus side of the split, so cell numbering resolves
    * identically). The incremental law is hash-checked cross-engine,
    * not assumed. */
  def knnGraphInc(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    graft.similarity.Ivf
      .mutualKnnIncremental(
        emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue),
        emb.filter(col("vec_id") % SemIncMod === SemIncResidue),
        IvfCentroidIds, IvfNProbe, KnnGraphK)
      .orderBy("id_a", "id_b")
  }

  /** From-scratch IS the incremental oracle — the fold law. */
  def knnGraphIncOracle: String = knnGraphOracle

  /** SEMANTIC assignment RETRACTION
    * ([[graft.similarity.Ivf.retractCellAssignments]]): the stored cell
    * table built on the whole corpus has its vec_id % 10 == 3 slice
    * taken down (a residue class holding no centroid, so the frozen
    * quantizer survives); the emitted frame is the retracted table and
    * the oracle REBUILDS it from scratch on the survivors — retracted
    * == rebuilt hash-checked cross-engine, the id-keyed-artifact twin
    * of q_index_retract. */
  def semanticRetract(s: SparkSession, d: String): DataFrame = {
    val ivf = graft.similarity.Ivf
    val emb = embeddings(s, d)
    val cent = ivf.fixedCentroidsDouble(emb, IvfCentroidIds)
      .localCheckpoint(true)
    val stored = ivf.assignCells(emb, cent)
    ivf.retractCellAssignments(
        stored,
        emb.filter(col("vec_id") % KnnRetractMod === KnnRetractResidue)
          .select("vec_id"))
      .orderBy("vec_id")
  }

  def semanticRetractOracle: String = {
    val ids = IvfCentroidIds.mkString(", ")
    s"""WITH c0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |cent AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, emb AS cemb
       |  FROM c0 WHERE vec_id IN ($ids))
       |SELECT vec_id, cell FROM (
       |  SELECT a.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      list_dot_product(a.emb, a.emb) - 2 * list_dot_product(a.emb, c.cemb) + list_dot_product(c.cemb, c.cemb) ASC,
       |      c.cell ASC) AS rn
       |  FROM c0 a CROSS JOIN cent c
       |  WHERE a.vec_id % $KnnRetractMod <> $KnnRetractResidue) WHERE rn = 1
       |ORDER BY vec_id""".stripMargin
  }

  /** Planted broken-row ids for the embedding-quality battery (far above
    * any fixture vec_id). */
  val EmbBadZeroId = 9000001L
  val EmbBadDimId = 9000002L
  val EmbBadNanId = 9000003L

  /** EMBEDDING-QUALITY battery — the quality gate of the embeddings
    * table, closing the one input modality without one (text has the
    * Gopher battery, media have decode `ok` flags): per vector, its
    * dimension count, NaN flag, zero-vector flag and L2 norm in exact
    * integer micros, with a CASE verdict (bad_dim / nan / zero / pass).
    * A broken encoder ships exactly these three failure shapes —
    * truncated rows, NaN blowups, all-zero fallbacks — and each is
    * planted deterministically so the battery's every branch is
    * oracle-exercised. The norm is the SAME sequential-fold double dot
    * product every similarity face uses (graft_dot == DuckDB
    * list_dot_product bit-for-bit), so the gate adds no new
    * cross-engine arithmetic. Row-local map work; nothing shuffles. */
  def embeddingQuality(s: SparkSession, d: String): DataFrame = {
    val planted = s.sql(
      s"""SELECT CAST($EmbBadZeroId AS BIGINT) AS vec_id,
         |  transform(sequence(1, $Dims), x -> CAST(0.0 AS FLOAT)) AS embedding
         |UNION ALL
         |SELECT CAST($EmbBadDimId AS BIGINT),
         |  transform(sequence(1, ${Dims / 2}), x -> CAST(0.5 AS FLOAT))
         |UNION ALL
         |SELECT CAST($EmbBadNanId AS BIGINT),
         |  transform(sequence(1, $Dims),
         |    x -> CASE WHEN x = 1 THEN CAST('NaN' AS FLOAT)
         |         ELSE CAST(0.5 AS FLOAT) END)""".stripMargin)
    embeddingBattery(embeddings(s, d).select("vec_id", "embedding")
        .unionByName(planted))
      .orderBy("vec_id")
  }

  /** The row-local battery core over any (vec_id, embedding) frame —
    * shared by the batch face and the streaming ingest gate. */
  private[graft] def embeddingBattery(df: DataFrame): DataFrame =
    df
      .withColumn("emb", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("n_dims", size(col("embedding")).cast("long"))
      .withColumn("has_nan", expr("exists(emb, x -> isnan(x))"))
      .withColumn("norm_micros", expr(
        "CASE WHEN exists(emb, x -> isnan(x)) THEN NULL " +
          "ELSE CAST(round(sqrt(graft_dot(emb, emb)) * 1000000, 0) AS BIGINT) END"))
      .withColumn("is_zero",
        coalesce(col("norm_micros") === 0L, lit(false)))
      .withColumn("verdict", expr(
        s"""CASE WHEN n_dims <> $Dims THEN 'bad_dim'
           |     WHEN has_nan THEN 'nan'
           |     WHEN norm_micros = 0 THEN 'zero'
           |     ELSE 'pass' END""".stripMargin))
      .select("vec_id", "n_dims", "has_nan", "is_zero",
        "norm_micros", "verdict")

  def embeddingQualityOracle: String =
    s"""WITH base AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT CAST($EmbBadZeroId AS BIGINT),
       |    CAST([0.0 for x in range($Dims)] AS FLOAT[])
       |  UNION ALL
       |  SELECT CAST($EmbBadDimId AS BIGINT),
       |    CAST([0.5 for x in range(${Dims / 2})] AS FLOAT[])
       |  UNION ALL
       |  SELECT CAST($EmbBadNanId AS BIGINT),
       |    CAST([CASE WHEN x = 0 THEN CAST('nan' AS FLOAT)
       |           ELSE CAST(0.5 AS FLOAT) END for x in range($Dims)] AS FLOAT[])),
       |e AS (
       |  SELECT vec_id, embedding,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM base),
       |f AS (
       |  SELECT vec_id,
       |    CAST(len(embedding) AS BIGINT) AS n_dims,
       |    len(list_filter(emb, x -> isnan(x))) > 0 AS has_nan,
       |    CASE WHEN len(list_filter(emb, x -> isnan(x))) > 0 THEN NULL
       |         ELSE CAST(round(sqrt(list_dot_product(emb, emb)) * 1000000, 0) AS BIGINT)
       |    END AS norm_micros
       |  FROM e)
       |SELECT vec_id, n_dims, has_nan,
       |  coalesce(norm_micros = 0, false) AS is_zero,
       |  norm_micros,
       |  CASE WHEN n_dims <> $Dims THEN 'bad_dim'
       |       WHEN has_nan THEN 'nan'
       |       WHEN norm_micros = 0 THEN 'zero'
       |       ELSE 'pass' END AS verdict
       |FROM f ORDER BY vec_id""".stripMargin

  /** GRAPH-HEALTH readout — the observability face of the mutual-kNN
    * graph, paralleling [[dupHistogram]] for text clusters: the DEGREE
    * histogram (how many vectors carry k mutual edges — a left-shifted
    * distribution means nProbe/k are too tight, a right-saturated one
    * means the space is over-connected) and the COMPONENT-SIZE
    * histogram (how big the clusters the prune step will collapse are —
    * the number an owner checks before trusting q_semantic_keeplist's
    * drop rate). Both collapse the edge set to ≤ k distinct degree rows
    * and ≤ \|components\| size rows immediately; cost rides the
    * memoized edge build. */
  def graphStats(s: SparkSession, d: String): DataFrame = {
    val e = mutualEdgesMemo(s, d)
    val deg = e
      .select(explode(array(col("id_a"), col("id_b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .select(lit("degree").as("stat"), col("k"), col("n"))
    val cs = Dedup
      .connectedComponents(e.select("id_a", "id_b"))
      .groupBy("component").agg(count(lit(1)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .select(lit("component_size").as("stat"), col("k"), col("n"))
    deg.unionByName(cs).orderBy("stat", "k")
  }

  def graphStatsOracle: String =
    s"""WITH RECURSIVE $knnEdgesCtes,
       |gedges AS (
       |  SELECT id_a AS src, id_b AS dst FROM medges
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM medges),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM gedges
       |  UNION
       |  SELECT re.id, g.dst AS r FROM reach re JOIN gedges g ON g.src = re.r),
       |cc AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
       |deg AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT v, CAST(count(*) AS BIGINT) AS k FROM (
       |      SELECT id_a AS v FROM medges UNION ALL SELECT id_b FROM medges)
       |    GROUP BY v) GROUP BY k),
       |cs AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT component, CAST(count(*) AS BIGINT) AS k FROM cc
       |    GROUP BY component) GROUP BY k)
       |SELECT 'degree' AS stat, k, n FROM deg
       |UNION ALL
       |SELECT 'component_size' AS stat, k, n FROM cs
       |ORDER BY stat, k""".stripMargin

  /** QUALITY-AWARE semantic keeper — [[qualityKeeplist]]'s policy
    * applied to the embedding-space clusters: within every mutual-kNN
    * component keep the HIGHEST-quality member (ties to the lowest id),
    * not blindly the lowest id — the policy SemDeDup deployments
    * actually want, since the cluster representative becomes training
    * data. One row per vector with its component, the text quality
    * score of the document it embeds (vec_id == doc_id by the fixture's
    * contract, the same join q_lang_centroid rides), the elected
    * keeper and the keep verdict. The component-keyed window is
    * cluster-bounded — never unpartitioned. */
  def semanticQualityKeeplist(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = documents(s, d).select(
      col("doc_id").as("vec_id"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
    val cc = Dedup
      .connectedComponents(mutualEdgesMemo(s, d).select("id_a", "id_b"))
      .withColumnRenamed("id", "vec_id")
    embeddings(s, d).select("vec_id")
      .join(q, Seq("vec_id"))
      .join(cc, Seq("vec_id"), "left")
      .withColumn("component", coalesce(col("component"), col("vec_id")))
      .withColumn(
        "keeper_id",
        min(struct((-col("quality")).as("nq"), col("vec_id").as("id")))
          .over(Window.partitionBy("component"))
          .getField("id"))
      .select(
        col("vec_id"), col("component"), col("quality"), col("keeper_id"),
        (col("vec_id") === col("keeper_id")).as("keep"))
      .orderBy("vec_id")
  }

  def semanticQualityKeeplistOracle: String =
    s"""WITH RECURSIVE $knnEdgesCtes,
       |gedges AS (
       |  SELECT id_a AS src, id_b AS dst FROM medges
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM medges),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM gedges
       |  UNION
       |  SELECT re.id, g.dst AS r FROM reach re JOIN gedges g ON g.src = re.r),
       |cc AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
       |$qualityCtesSql,
       |j AS (
       |  SELECT e.vec_id, COALESCE(cc.component, e.vec_id) AS component,
       |    q.quality
       |  FROM embeddings e
       |  LEFT JOIN cc ON e.vec_id = cc.id
       |  JOIN q ON e.vec_id = q.doc_id),
       |k AS (
       |  SELECT component, vec_id AS keeper_id FROM (
       |    SELECT component, vec_id,
       |      row_number() OVER (PARTITION BY component
       |        ORDER BY quality DESC, vec_id ASC) AS rn
       |    FROM j) WHERE rn = 1)
       |SELECT j.vec_id, j.component, j.quality, k.keeper_id,
       |  j.vec_id = k.keeper_id AS keep
       |FROM j JOIN k ON j.component = k.component
       |ORDER BY j.vec_id""".stripMargin

  /** Takedown split for the kNN-graph retraction: vec_id % 10 == 3 is a
    * residue class containing NO [[IvfCentroidIds]] centroid, so the
    * frozen quantizer survives the deletion. */
  val KnnRetractMod = 10
  val KnnRetractResidue = 3

  /** kNN-graph RETRACTION ([[graft.similarity.Ivf.knnIndexRetract]]):
    * the vec_id % 10 == 3 slice is taken down; affected queries are
    * read off the stored edge table (a deleted vector in the top-k),
    * re-ranked against the surviving assignment, everything else kept
    * verbatim — and the result must equal the from-scratch graph of the
    * survivors, which is exactly what the oracle computes. */
  def knnRetract(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val ivf = graft.similarity.Ivf
    val idx = ivf.knnIndexArtifacts(emb, IvfCentroidIds, IvfNProbe, KnnGraphK)
    ivf.mutualGraph(ivf.knnIndexRetract(
        idx,
        emb.filter(col("vec_id") % KnnRetractMod === KnnRetractResidue)
          .select("vec_id")))
      .orderBy("id_a", "id_b")
  }

  def knnRetractOracle: String =
    s"""WITH ${knnEdgesCtesWhere(
           s" WHERE vec_id % $KnnRetractMod <> $KnnRetractResidue")}
       |SELECT id_a, id_b, score FROM medges
       |ORDER BY id_a, id_b""".stripMargin

  /** Power-iteration count / damping (85/100) / teleport mass for the
    * graph-centrality readout. All arithmetic is exact BIGINT micros:
    * contrib(u) = rank(u) DIV deg(u); rank'(v) = teleport +
    * (85 · Σ inflow) DIV 100 — both engines truncate identically, so
    * the fixed iteration count is hash-checkable cross-engine (float
    * PageRank never is). */
  val PagerankIters = 5
  val PagerankTeleportMicros = 150000L
  /** Warm-start iterations of the incremental face — fewer than the
    * cold-start depth, because the subgraph ranks already carry most of
    * the fixed point; q_pagerank_residual is the monitor that says
    * whether this depth converged on a given graph. */
  val PagerankIncIters = 3

  /** GRAPH CENTRALITY over the mutual-kNN graph — fixed-point PageRank
    * in exact integer micros, [[PagerankIters]] synchronous iterations
    * over the memoized edge set: the importance score
    * diversity-weighted data selection ranks cluster members by (a
    * hub of near-duplicate paraphrases outranks its satellites, an
    * isolated vector holds exactly the teleport mass). Dangling mass
    * is deliberately dropped, not redistributed — the recurrence is
    * pinned, not the stochastic-matrix limit, which is what makes it
    * oracle-checkable.
    *
    * Scale shape: each iteration is two vertex-keyed shuffles
    * (contrib = rank DIV deg per source, then an inflow sum per
    * destination) over (id, long) rows — the standard vertex-centric
    * plan; the edge and degree tables build once (checkpointed via the
    * shared memo) and the rank frame stays |V| rows throughout. Hub
    * degree is capped at k by the mutual-graph construction, so no
    * skew salting is needed. */
  def graphPagerank(s: SparkSession, d: String): DataFrame =
    pagerankFrame(s, d).orderBy("vec_id")

  /** The unordered (vec_id, rank_micros) frame of [[graphPagerank]] —
    * shared with the rank-weighted keep-list. */
  private def pagerankFrame(s: SparkSession, d: String): DataFrame =
    pagerankOverEdges(
      mutualEdgesMemo(s, d).select("id_a", "id_b"),
      embeddings(s, d).select(col("vec_id").as("v")))

  /** The fixed-point power-iteration recurrence over an arbitrary
    * undirected edge set and vertex frame (one `v` column) — exposed
    * for PagerankPropertySpec. */
  private[graft] def pagerankOverEdges(
      edges: DataFrame,
      verts: DataFrame
  ): DataFrame = {
    val (dir, deg) = pagerankDirDeg(edges)
    var rank = verts.withColumn("r", lit(1000000L))
    for (_ <- 1 to PagerankIters)
      rank = pagerankStep(rank, dir, deg, verts)
    rank.select(col("v").as("vec_id"), col("r").as("rank_micros"))
  }

  /** The (directed-edge, out-degree) tables of the undirected edge set,
    * checkpointed once — shared by the rank and residual faces. */
  private[graft] def pagerankDirDeg(edges: DataFrame): (DataFrame, DataFrame) = {
    val dir = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(
        edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    val deg = dir.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    (dir, deg)
  }

  /** ONE synchronous power-iteration step of the pinned exact-integer
    * recurrence — the single definition both [[pagerankOverEdges]] and
    * [[pagerankResidualOverEdges]] iterate, so the monitored residual is
    * BY CONSTRUCTION the residual of the recurrence the rank face runs. */
  private[graft] def pagerankStep(
      rank: DataFrame,
      dir: DataFrame,
      deg: DataFrame,
      verts: DataFrame
  ): DataFrame = {
    val contrib = rank
      .join(deg, rank("v") === deg("src"))
      .select(col("src"), expr("r DIV deg").as("c"))
    val inflow = dir
      .join(contrib, Seq("src"))
      .groupBy("dst").agg(sum(col("c")).as("s"))
    verts
      .join(inflow, verts("v") === inflow("dst"), "left")
      .select(
        col("v"),
        expr(s"CAST($PagerankTeleportMicros" +
          s" + (85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100 AS BIGINT)")
          .as("r"))
  }

  /** PAGERANK CONVERGENCE READOUT — the monitor VERDICT.md round 11
    * asked for: the pinned [[PagerankIters]]-deep unrolling is a frozen
    * artifact like every trained table, and this is its drift row. One
    * row per iteration of the EXACT recurrence (same [[pagerankStep]]),
    * in exact integer micros: the L1 residual Σ|r_i − r_{i−1}|, the max
    * per-vertex delta, and how many vertices still moved — so an
    * operator can see whether the fixed depth converged on THEIR graph
    * (n_changed ≈ 0 ⟹ deeper unrolling would be a no-op) before
    * trusting the rank-weighted keep-list.
    *
    * Scale shape: each iteration checkpoints its |V|-row rank frame
    * (the residual join needs r_{i−1} AND r_i — without the checkpoint
    * the lazy 2-reference plan re-runs the whole prefix per iteration),
    * and each readout row is one vertex-keyed join + partial agg. */
  def pagerankResidual(s: SparkSession, d: String): DataFrame =
    pagerankResidualOverEdges(
      mutualEdgesMemo(s, d).select("id_a", "id_b"),
      embeddings(s, d).select(col("vec_id").as("v")))

  private[graft] def pagerankResidualOverEdges(
      edges: DataFrame,
      verts: DataFrame
  ): DataFrame = {
    val (dir, deg) = pagerankDirDeg(edges)
    var rank = verts.withColumn("r", lit(1000000L)).localCheckpoint(true)
    val rows = (1 to PagerankIters).map { i =>
      val next = pagerankStep(rank, dir, deg, verts).localCheckpoint(true)
      val delta = rank.select(col("v"), col("r").as("r_prev"))
        .join(next.select(col("v"), col("r").as("r_next")), Seq("v"))
        .select((col("r_next") - col("r_prev")).as("d"))
      // Materialize this iteration's 1-row readout NOW so r_{i−1}'s
      // checkpoint blocks release immediately (without this, every
      // iteration's |V|-row frame stays pinned until the final union
      // runs — PagerankIters× the needed footprint).
      val row = delta.agg(
        sum(abs(col("d"))).as("l1_residual_micros"),
        max(abs(col("d"))).as("max_delta_micros"),
        sum(when(col("d") =!= 0L, 1L).otherwise(0L)).as("n_changed"))
        .select(
          lit(i.toLong).as("iter"),
          col("l1_residual_micros"), col("max_delta_micros"),
          col("n_changed"))
        .localCheckpoint(true)
      graft.Ckpt.release(rank)
      rank = next
      row
    }
    graft.Ckpt.release(rank, dir, deg)
    rows.reduce(_ unionByName _).orderBy("iter")
  }

  /** INCREMENTAL PageRank — the delta-push answer to "vectors arrived,
    * don't recompute from cold" (round-13 VERDICT missing #5): the
    * corpus subgraph's ranks ([[PagerankIters]] cold iterations) WARM-
    * START the full graph — new vertices join at the initial mass —
    * and only [[PagerankIncIters]] further iterations of the SAME
    * pinned recurrence run over the union. Iteration one after the
    * fold-in is a full synchronous step (every inflow may have
    * changed); every later iteration is FRONTIER-PRUNED in the
    * Gauss-Southwell spirit, made exact: `contrib(u) = r DIV deg(u)`
    * can only change where `r` changed, so `rank'(v)` can only change
    * for v in the out-neighborhood of the changed set — everything
    * else carries forward UNTOUCHED, and the per-iteration joins are
    * bounded by the residual frontier, which contracts as the delta's
    * influence dissipates. The output is bit-identical to running the
    * same two-phase schedule synchronously (the frontier prune skips
    * only provably-unchanged rows), so the exact-integer oracle
    * recomputes both phases end-to-end and hash-checks the increment
    * cross-engine — the property float PageRank could never give.
    *
    * Scale shape: the warm phase is the standard vertex-centric plan
    * on the OLD graph (already paid before the delta arrives — in
    * production it is the stored rank table); the incremental phase
    * pays one full step plus frontier-bounded steps, each a semi-join
    * prune + the same two vertex-keyed shuffles, with the |V|-row rank
    * frame checkpointed per iteration exactly like the residual
    * readout. */
  def pagerankIncremental(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val corpusEmb = emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue)
    val oldEdges = graft.similarity.Ivf
      .mutualKnnEdges(corpusEmb, IvfCentroidIds, IvfNProbe, KnnGraphK)
      .select("id_a", "id_b")
    val oldVerts = corpusEmb.select(col("vec_id").as("v"))
    val edges = mutualEdgesMemo(s, d).select("id_a", "id_b")
    val verts = emb.select(col("vec_id").as("v"))
    // Warm phase inlined (rather than via pagerankOverEdges) so the OLD
    // graph's checkpointed dir/deg tables can be released the moment
    // the warm ranks materialize into the warm-start checkpoint below
    // (round-14 VERDICT #2 — the eager frames used to live until GC).
    val (dirO, degO) = pagerankDirDeg(oldEdges)
    var warmRank = oldVerts.withColumn("r", lit(1000000L))
    for (_ <- 1 to PagerankIters)
      warmRank = pagerankStep(warmRank, dirO, degO, oldVerts)
    val warm = warmRank.select(col("v"), col("r").as("wr"))
    val (dir, deg) = pagerankDirDeg(edges)
    // Fold the delta in: old vertices keep their warm rank, arrivals
    // start at the initial mass — then ONE full synchronous step.
    var prev = verts.join(warm, Seq("v"), "left")
      .select(col("v"), coalesce(col("wr"), lit(1000000L)).as("r"))
      .localCheckpoint(true)
    graft.Ckpt.release(dirO, degO) // warm phase materialized into prev
    var rank = pagerankStep(prev, dir, deg, verts).localCheckpoint(true)
    var prevAffected: DataFrame = null
    for (_ <- 2 to PagerankIncIters) {
      // Exact frontier: rank can only move where an IN-neighbor's rank
      // moved last iteration (deg is fixed, so contrib moves with r).
      val changed = prev.select(col("v"), col("r").as("rp"))
        .join(rank, Seq("v"))
        .filter(col("r") =!= col("rp"))
        .select(col("v").as("src"))
      val affected = dir
        .join(changed, Seq("src"), "left_semi")
        .select(col("dst").as("v")).distinct()
        .localCheckpoint(true)
      // The SAME pinned step, restricted to the affected vertices: the
      // dst-pruned edge set still carries ALL their in-edges, so the
      // recomputed rows equal the unpruned step's rows exactly.
      val dirPruned = dir
        .join(affected.select(col("v").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
      val stepped = pagerankStep(rank, dirPruned, deg, affected)
      val next = rank.join(affected, Seq("v"), "left_anti")
        .select("v", "r")
        .unionByName(stepped.select("v", "r"))
        .localCheckpoint(true)
      // `next` is materialized — r_{i−2}'s frame and the PREVIOUS
      // iteration's frontier are dead; release now instead of pinning
      // one |V|-row frame per iteration for the query's lifetime.
      graft.Ckpt.release(prev, prevAffected)
      prevAffected = affected
      prev = rank
      rank = next
    }
    graft.Ckpt.release(prev, prevAffected, dir, deg)
    rank.select(col("v").as("vec_id"), col("r").as("rank_micros"))
      .orderBy("vec_id")
  }

  /** One unrolled exact-integer power-iteration chain as DuckDB CTEs —
    * `$p1..$p$n` over `$dir`/`$deg`/`$verts` starting from `${p}0`;
    * the SQL twin of [[pagerankStep]], shared by the incremental
    * oracle's two phases. */
  private def pagerankIterCtes(
      p: String, n: Int, dir: String, deg: String, verts: String): String =
    (1 to n).map { i =>
      s"""$p$i AS (
         |  SELECT $verts.v,
         |    CAST($PagerankTeleportMicros
         |      + (85 * COALESCE(inf.s, 0)) // 100 AS BIGINT) AS r
         |  FROM $verts LEFT JOIN (
         |    SELECT $dir.dst AS v, sum(cc2.c) AS s
         |    FROM $dir JOIN (
         |      SELECT $p${i - 1}.v, $p${i - 1}.r // $deg.deg AS c
         |      FROM $p${i - 1} JOIN $deg ON $deg.v = $p${i - 1}.v) cc2
         |      ON cc2.v = $dir.src
         |    GROUP BY 1) inf ON inf.v = $verts.v)""".stripMargin
    }.mkString(",\n")

  def pagerankIncrementalOracle: String = {
    val oldGraph = knnEdgesCtesPrefixed(
      "o", s" WHERE vec_id % $SemIncMod <> $SemIncResidue")
    val fullGraph = knnEdgesCtesPrefixed("f", "")
    s"""WITH $oldGraph,
       |$fullGraph,
       |odir AS (
       |  SELECT id_a AS src, id_b AS dst FROM omedges
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM omedges),
       |odeg AS (SELECT src AS v, count(*) AS deg FROM odir GROUP BY 1),
       |overts AS (SELECT vec_id AS v FROM embeddings
       |  WHERE vec_id % $SemIncMod <> $SemIncResidue),
       |w0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM overts),
       |${pagerankIterCtes("w", PagerankIters, "odir", "odeg", "overts")},
       |fdir AS (
       |  SELECT id_a AS src, id_b AS dst FROM fmedges
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM fmedges),
       |fdeg AS (SELECT src AS v, count(*) AS deg FROM fdir GROUP BY 1),
       |fverts AS (SELECT vec_id AS v FROM embeddings),
       |g0 AS (
       |  SELECT fverts.v,
       |    COALESCE(w$PagerankIters.r, CAST(1000000 AS BIGINT)) AS r
       |  FROM fverts LEFT JOIN w$PagerankIters
       |    ON w$PagerankIters.v = fverts.v),
       |${pagerankIterCtes("g", PagerankIncIters, "fdir", "fdeg", "fverts")}
       |SELECT v AS vec_id, r AS rank_micros FROM g$PagerankIncIters
       |ORDER BY vec_id""".stripMargin
  }

  /** RANK-WEIGHTED semantic keeper — [[semanticQualityKeeplist]]'s
    * policy with graph CENTRALITY as the score: within every mutual-kNN
    * component keep the highest-PageRank member (ties to lowest id) —
    * the "keep the hub, drop the satellites" representative selection
    * for paraphrase clusters, where the most-connected member is the
    * canonical phrasing. Both inputs (rank frame, components) ride the
    * memoized edge build; the election window is component-keyed. */
  def pagerankKeeplist(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cc = Dedup
      .connectedComponents(mutualEdgesMemo(s, d).select("id_a", "id_b"))
      .withColumnRenamed("id", "vec_id")
    pagerankFrame(s, d)
      .join(cc, Seq("vec_id"), "left")
      .withColumn("component", coalesce(col("component"), col("vec_id")))
      .withColumn(
        "keeper_id",
        min(struct((-col("rank_micros")).as("nr"), col("vec_id").as("id")))
          .over(Window.partitionBy("component"))
          .getField("id"))
      .select(
        col("vec_id"), col("component"), col("rank_micros"),
        col("keeper_id"),
        (col("vec_id") === col("keeper_id")).as("keep"))
      .orderBy("vec_id")
  }

  def pagerankKeeplistOracle: String = {
    val iters = pagerankIterCtes("r", PagerankIters, "dir", "deg", "verts")
    s"""WITH RECURSIVE $knnEdgesCtes,
       |dir AS (
       |  SELECT id_a AS src, id_b AS dst FROM medges
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM medges),
       |deg AS (SELECT src AS v, count(*) AS deg FROM dir GROUP BY 1),
       |verts AS (SELECT vec_id AS v FROM embeddings),
       |r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM verts),
       |$iters,
       |gedges AS (
       |  SELECT id_a AS src, id_b AS dst FROM medges
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM medges),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM gedges
       |  UNION
       |  SELECT re.id, g.dst AS r FROM reach re JOIN gedges g ON g.src = re.r),
       |comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
       |j AS (
       |  SELECT rr.v AS vec_id, COALESCE(comp.component, rr.v) AS component,
       |    rr.r AS rank_micros
       |  FROM r$PagerankIters rr LEFT JOIN comp ON rr.v = comp.id),
       |k AS (
       |  SELECT component, vec_id AS keeper_id FROM (
       |    SELECT component, vec_id,
       |      row_number() OVER (PARTITION BY component
       |        ORDER BY rank_micros DESC, vec_id ASC) AS rn
       |    FROM j) WHERE rn = 1)
       |SELECT j.vec_id, j.component, j.rank_micros, k.keeper_id,
       |  j.vec_id = k.keeper_id AS keep
       |FROM j JOIN k ON j.component = k.component
       |ORDER BY j.vec_id""".stripMargin
  }

  def graphPagerankOracle: String = {
    val iters = pagerankIterCtes("r", PagerankIters, "dir", "deg", "verts")
    s"""WITH $knnEdgesCtes,
       |dir AS (
       |  SELECT id_a AS src, id_b AS dst FROM medges
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM medges),
       |deg AS (SELECT src AS v, count(*) AS deg FROM dir GROUP BY 1),
       |verts AS (SELECT vec_id AS v FROM embeddings),
       |r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM verts),
       |$iters
       |SELECT v AS vec_id, r AS rank_micros FROM r$PagerankIters
       |ORDER BY vec_id""".stripMargin
  }

  def pagerankResidualOracle: String = {
    val iters = pagerankIterCtes("r", PagerankIters, "dir", "deg", "verts")
    val rows = (1 to PagerankIters).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS iter,
         |  CAST(sum(abs(r$i.r - r${i - 1}.r)) AS BIGINT) AS l1_residual_micros,
         |  CAST(max(abs(r$i.r - r${i - 1}.r)) AS BIGINT) AS max_delta_micros,
         |  CAST(sum(CASE WHEN r$i.r <> r${i - 1}.r THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_changed
         |FROM r$i JOIN r${i - 1} ON r$i.v = r${i - 1}.v""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $knnEdgesCtes,
       |dir AS (
       |  SELECT id_a AS src, id_b AS dst FROM medges
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM medges),
       |deg AS (SELECT src AS v, count(*) AS deg FROM dir GROUP BY 1),
       |verts AS (SELECT vec_id AS v FROM embeddings),
       |r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM verts),
       |$iters
       |SELECT * FROM (
       |$rows
       |) ORDER BY iter""".stripMargin
  }

  /** GRAPH-DRIFT monitor — the kNN graph's entry in the drift-monitor
    * row (next to cell drift's geometric signal and ann recall's
    * retrieval one): the DEGREE distribution of the deployed baseline
    * graph (built on the corpus slice, the artifact q_knn_graph_inc
    * folds into) against the graph after the arrivals fold, as an
    * exact total-variation readout in integer micros — the same
    * deliberately-not-PSI arithmetic as [[qualityDrift]]. A mass shift
    * toward low degrees means arrivals are landing in sparse space
    * (index getting stale); toward k means they pile into existing
    * clusters. Both histograms collapse to ≤ k rows immediately; the
    * baseline build is the monitor's deploy-time artifact, measured
    * in-window here. */
  def graphDrift(s: SparkSession, d: String): DataFrame = {
    val ivf = graft.similarity.Ivf
    val emb = embeddings(s, d)
    val base = ivf.mutualKnnEdges(
      emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue),
      IvfCentroidIds, IvfNProbe, KnnGraphK)
    val cur = mutualEdgesMemo(s, d)
    def degHist(edges: DataFrame): DataFrame = edges
      .select(explode(array(col("id_a"), col("id_b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    val b = degHist(base).select(col("k"), col("n").as("base_n"))
    val c = degHist(cur).select(col("k"), col("n").as("cur_n"))
    b.join(c, Seq("k"), "full_outer")
      .na.fill(0L, Seq("base_n", "cur_n"))
      .crossJoin(broadcast(
        b.agg(sum("base_n").as("base_total"))
          .crossJoin(c.agg(sum("cur_n").as("cur_total")))))
      .withColumn("base_frac_micros",
        expr("base_n * 1000000 DIV base_total"))
      .withColumn("cur_frac_micros",
        expr("cur_n * 1000000 DIV cur_total"))
      .withColumn("delta_micros",
        abs(col("cur_frac_micros") - col("base_frac_micros")))
      .select("k", "base_n", "cur_n",
        "base_frac_micros", "cur_frac_micros", "delta_micros")
      .orderBy("k")
  }

  def graphDriftOracle: String =
    s"""WITH ${knnEdgesCtesPrefixed("bl_",
           s" WHERE vec_id % $SemIncMod <> $SemIncResidue")},
       |${knnEdgesCtes},
       |bh AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT v, count(*) AS k FROM (
       |      SELECT id_a AS v FROM bl_medges
       |      UNION ALL SELECT id_b FROM bl_medges)
       |    GROUP BY v) GROUP BY k),
       |ch AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT v, count(*) AS k FROM (
       |      SELECT id_a AS v FROM medges
       |      UNION ALL SELECT id_b FROM medges)
       |    GROUP BY v) GROUP BY k),
       |bt AS (SELECT sum(n) AS t FROM bh),
       |ct AS (SELECT sum(n) AS t FROM ch)
       |SELECT COALESCE(bh.k, ch.k) AS k,
       |  CAST(COALESCE(bh.n, 0) AS BIGINT) AS base_n,
       |  CAST(COALESCE(ch.n, 0) AS BIGINT) AS cur_n,
       |  CAST(COALESCE(bh.n, 0) * 1000000 // bt.t AS BIGINT) AS base_frac_micros,
       |  CAST(COALESCE(ch.n, 0) * 1000000 // ct.t AS BIGINT) AS cur_frac_micros,
       |  CAST(abs(COALESCE(ch.n, 0) * 1000000 // ct.t
       |         - COALESCE(bh.n, 0) * 1000000 // bt.t) AS BIGINT) AS delta_micros
       |FROM bh FULL OUTER JOIN ch ON bh.k = ch.k, bt, ct
       |ORDER BY k""".stripMargin

  /** EMBEDDING-SPACE clusters: connected components over the mutual
    * kNN graph — the grouping step of SemDeDup-style cluster pruning
    * and topic-balanced selection, through the SAME CC engine every
    * text dedup face uses (min-label propagation with the size-gated
    * driver fast path), so the graph family inherits its scale story.
    * Emits (id, component) for every vector with at least one mutual
    * edge; isolated vectors are their own trivial cluster and are
    * omitted, exactly like the text dup-cluster face. */
  def semanticClusters(s: SparkSession, d: String): DataFrame =
    Dedup.connectedComponents(mutualEdgesMemo(s, d).select("id_a", "id_b"))
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")

  /** SEMDEDUP PRUNE — the keep-list the semantic clusters exist for:
    * keep the min-id representative of every embedding-space cluster,
    * drop the rest, exactly the text dedup keep-list's policy
    * ([[dedupKeeplist]]) applied to the mutual-kNN components — and the
    * same scale machinery: [[Dedup.applyDropList]]'s observed-count-
    * sized Bloom filter passes definite keeps through map-side, so only
    * Bloom-positive rows reach the exactness anti-join. */
  def semanticKeeplist(s: SparkSession, d: String): DataFrame = {
    val drops = Dedup
      .connectedComponents(mutualEdgesMemo(s, d).select("id_a", "id_b"))
      .filter(col("id") =!= col("component"))
      .select(col("id").as("vec_id"))
    Dedup
      .applyDropList(embeddings(s, d).select("vec_id"), drops, "vec_id")
      .orderBy("vec_id")
  }

  def semanticKeeplistOracle: String =
    s"""WITH RECURSIVE $knnEdgesCtes,
       |gedges AS (
       |  SELECT id_a AS src, id_b AS dst FROM medges
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM medges),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM gedges
       |  UNION
       |  SELECT re.id, g.dst AS r FROM reach re JOIN gedges g ON g.src = re.r),
       |drops AS (
       |  SELECT id FROM (
       |    SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id)
       |  WHERE id <> component)
       |SELECT vec_id FROM embeddings
       |WHERE vec_id NOT IN (SELECT id FROM drops)
       |ORDER BY vec_id""".stripMargin

  def semanticClustersOracle: String =
    s"""WITH RECURSIVE $knnEdgesCtes,
       |gedges AS (
       |  SELECT id_a AS src, id_b AS dst FROM medges
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM medges),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM gedges
       |  UNION
       |  SELECT re.id, g.dst AS r FROM reach re JOIN gedges g ON g.src = re.r)
       |SELECT id AS vec_id, least(id, min(r)) AS component
       |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin

  /** Centroid ids for the semantic-decontamination split: (1..8)·37 —
    * none ≡ 0 mod [[DecontamMod]] (13), so every centroid stays on the
    * corpus side of the corpus/holdout split and the cell numbering
    * resolves against the corpus alone. */
  val SemDecontamCentroidIds: Seq[Long] = (1 to 8).map(_ * 37L)

  /** Probe width for [[semanticDecontam]] — the corpus side reaches
    * across one cell boundary, same width as the IVF search queries. */
  val SemDecontamNProbe = 2

  /** Semantic decontamination over the embeddings table
    * ([[graft.similarity.Ivf.semanticContamination]]): the vec_id %
    * [[DecontamMod]] == 0 slice plays the held-out benchmark (the same
    * residue the shingle-level [[decontaminate]] fixture uses), the rest
    * is the training corpus; corpus docs at cosine ≥
    * [[SemDedupThreshold]] against any holdout doc inside probed shared
    * cells are the drop list. */
  def semanticDecontam(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    graft.similarity.Ivf
      .semanticContamination(
        emb.filter(col("vec_id") % DecontamMod =!= 0),
        emb.filter(col("vec_id") % DecontamMod === 0),
        SemDecontamCentroidIds, SemDedupThreshold, SemDecontamNProbe)
      .orderBy("vec_id")
  }

  def semanticDecontamOracle: String = {
    val ids = SemDecontamCentroidIds.mkString(", ")
    s"""WITH c0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings WHERE vec_id % $DecontamMod <> 0),
       |h0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings WHERE vec_id % $DecontamMod = 0),
       |cent AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, emb AS cemb
       |  FROM c0 WHERE vec_id IN ($ids)),
       |probes AS (
       |  SELECT vec_id, emb, cell, sqrt(list_dot_product(emb, emb)) AS nrm FROM (
       |    SELECT a.vec_id, a.emb, c.cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        list_dot_product(a.emb, a.emb) - 2 * list_dot_product(a.emb, c.cemb) + list_dot_product(c.cemb, c.cemb) ASC,
       |        c.cell ASC) AS rn
       |    FROM c0 a CROSS JOIN cent c) WHERE rn <= $SemDecontamNProbe),
       |asgh AS (
       |  SELECT vec_id, emb, cell, sqrt(list_dot_product(emb, emb)) AS nrm FROM (
       |    SELECT a.vec_id, a.emb, c.cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        list_dot_product(a.emb, a.emb) - 2 * list_dot_product(a.emb, c.cemb) + list_dot_product(c.cemb, c.cemb) ASC,
       |        c.cell ASC) AS rn
       |    FROM h0 a CROSS JOIN cent c) WHERE rn = 1),
       |pairs AS (
       |  SELECT p.vec_id,
       |    round(list_dot_product(p.emb, h.emb) / (p.nrm * h.nrm), 6) AS score
       |  FROM probes p JOIN asgh h ON p.cell = h.cell)
       |SELECT vec_id, count(*) AS n_holdout_hits, max(score) AS max_score
       |FROM pairs WHERE score >= CAST($SemDedupThreshold AS DOUBLE)
       |GROUP BY vec_id
       |ORDER BY vec_id""".stripMargin
  }

  /** IVF cell-occupancy drift ([[graft.similarity.Ivf.cellDrift]]):
    * the [[SemIncMod]] batch's embedding distribution vs the corpus the
    * cells were trained on — the retrain-trigger readout for every
    * frozen-artifact incremental operator (PQ codebooks, SemDeDup cells).
    * Training is the exact integer Lloyd's from the fixed seeds, so the
    * whole pass — training included — is hash-checked. */
  def cellDrift(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    graft.similarity.Ivf.cellDrift(
      emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue),
      emb.filter(col("vec_id") % SemIncMod === SemIncResidue),
      IvfCentroidIds, KmeansIters)
  }

  def cellDriftOracle: String = {
    val ids = IvfCentroidIds.mkString(", ")
    val dist =
      "list_sum(list_transform(range(1, len(q.qe) + 1), i -> (q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i])))"
    val sb = new StringBuilder
    sb.append(
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
         |  FROM embeddings WHERE vec_id % $SemIncMod <> $SemIncResidue),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, qe AS ce
         |  FROM q WHERE vec_id IN ($ids))""".stripMargin)
    for (i <- 1 to KmeansIters) {
      sb.append(
        s""",
           |a$i AS (
           |  SELECT vec_id, qe, cell FROM (
           |    SELECT q.vec_id, q.qe, c.cell,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY $dist ASC, c.cell ASC) AS rn
           |    FROM q, c${i - 1} c) WHERE rn = 1),
           |u$i AS (
           |  SELECT cell, list(CAST(s // n AS BIGINT) ORDER BY pos) AS ce FROM (
           |    SELECT cell, pos, sum(v) AS s, count(*) AS n FROM (
           |      SELECT cell, unnest(range(1, len(qe) + 1)) AS pos, unnest(qe) AS v
           |      FROM a$i)
           |    GROUP BY cell, pos)
           |  GROUP BY cell),
           |c$i AS (
           |  SELECT p.cell, COALESCE(u.ce, p.ce) AS ce
           |  FROM c${i - 1} p LEFT JOIN u$i u ON p.cell = u.cell)""".stripMargin)
    }
    sb.append(
      s""",
         |b AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
         |  FROM embeddings WHERE vec_id % $SemIncMod = $SemIncResidue),
         |basg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT q.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY $dist ASC, c.cell ASC) AS rn
         |    FROM b q, c$KmeansIters c) WHERE rn = 1),
         |casg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT q.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY $dist ASC, c.cell ASC) AS rn
         |    FROM q, c$KmeansIters c) WHERE rn = 1),
         |nc AS (SELECT cell, count(*) AS n FROM casg GROUP BY cell),
         |nb AS (SELECT cell, count(*) AS n FROM basg GROUP BY cell),
         |j AS (
         |  SELECT c.cell,
         |    CAST(COALESCE(nc.n, 0) AS BIGINT) AS n_corpus,
         |    CAST(COALESCE(nb.n, 0) AS BIGINT) AS n_batch
         |  FROM c$KmeansIters c
         |  LEFT JOIN nc ON c.cell = nc.cell
         |  LEFT JOIN nb ON c.cell = nb.cell),
         |t AS (
         |  SELECT CAST(sum(n_corpus) AS BIGINT) AS tc,
         |    CAST(sum(n_batch) AS BIGINT) AS tb FROM j),
         |f AS (
         |  SELECT j.cell, j.n_corpus, j.n_batch,
         |    CASE WHEN t.tc = 0 THEN 0
         |      ELSE CAST(round(CAST(j.n_corpus AS DOUBLE) * 1000000 / CAST(t.tc AS DOUBLE), 0) AS BIGINT)
         |    END AS frac_corpus_micros,
         |    CASE WHEN t.tb = 0 THEN 0
         |      ELSE CAST(round(CAST(j.n_batch AS DOUBLE) * 1000000 / CAST(t.tb AS DOUBLE), 0) AS BIGINT)
         |    END AS frac_batch_micros
         |  FROM j, t)
         |SELECT cell, n_corpus, n_batch, frac_corpus_micros, frac_batch_micros,
         |  frac_batch_micros - frac_corpus_micros AS drift_micros
         |FROM f ORDER BY cell""".stripMargin)
    sb.toString
  }

  val CosineDupThreshold = 0.4

  def cosineDuplicates(s: SparkSession, d: String): DataFrame =
    Similarity
      .cosineDuplicates(embeddings(s, d), CosineDupThreshold, Dims, LshBits)
      .orderBy("id_a", "id_b")

  def cosineDuplicatesOracle: String = {
    val bucketSql = Similarity.lshBucketSql(
      "embedding", Dims, LshBits, (c, i) => s"$c[$i]")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
       |    $bucketSql AS bucket
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb, bucket, sqrt(list_dot_product(emb, emb)) AS nrm FROM v),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS score
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT DISTINCT id_a, id_b, score FROM pairs
       |WHERE score >= $CosineDupThreshold ORDER BY id_a, id_b""".stripMargin
  }

  /** Winnowing fingerprint via the custom codegen Expression. */
  def rollingFingerprint(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .filter(length(col("text")) >= graft.functions.RollingHashMin.DefaultWindow)
      .selectExpr("doc_id", "rolling_fingerprint(text) AS fingerprint")
      .orderBy("doc_id")
  }

  /** Termwise DuckDB twin of the rolling hash: h_i = Σ_j c[i+j]·B^(w-1-j)
    * mod M with the powers precomputed from the same constants. */
  def rollingFingerprintOracle: String = {
    import graft.functions.RollingHashMin.{DefaultBase => B, DefaultMod => M, DefaultWindow => W}
    val terms = (0 until W)
      .map { j =>
        val p = graft.functions.RollingHashMin.powMod(B, W - 1 - j, M)
        s"ord(substr(text, i + $j, 1)) * $p"
      }
      .mkString(" + ")
    s"""SELECT doc_id, CAST(min(h) AS BIGINT) AS fingerprint FROM (
       |  SELECT doc_id,
       |    unnest([($terms) % $M for i in range(1, length(text) - ${W - 2})]) AS h
       |  FROM documents WHERE length(text) >= $W)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Deterministic decomposed-Unicode suffix planted on every document:
    * `e` + U+0301 COMBINING ACUTE and `A` + U+030A COMBINING RING — NFC
    * composes both (→ é, Å), shrinking the codepoint count by exactly 2
    * per document. The fixture text itself is ASCII (the expression's
    * zero-allocation fast path), so without the plant the composition
    * path would never execute. */
  val NfcSuffix = " nfce\u0301A\u030A"

  /** Unicode NFC normalization over the corpus via the codegen
    * [[graft.functions.NfcNormalize]] Expression — the canonicalization
    * step that must precede every hash-keyed text operator (exact dedup,
    * shingles, BPE pre-tokens) on real multi-crawler corpora, where the
    * same text arrives composed from one source and decomposed from
    * another. The md5 of the normalized text pins the exact composed
    * bytes against DuckDB's utf8proc `nfc_normalize`. */
  def unicodeNfc(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .withColumn("t", concat(col("text"), lit(NfcSuffix)))
      .selectExpr("doc_id", "length(t) AS len_raw",
        "nfc_normalize(t) AS nfc")
      .selectExpr("doc_id", "len_raw", "length(nfc) AS len_nfc",
        "md5(nfc) AS nfc_md5")
      .orderBy("doc_id")
  }

  def unicodeNfcOracle: String =
    s"""SELECT doc_id,
       |  CAST(length(t) AS INTEGER) AS len_raw,
       |  CAST(length(nfc_normalize(t)) AS INTEGER) AS len_nfc,
       |  md5(nfc_normalize(t)) AS nfc_md5
       |FROM (SELECT doc_id, text || '$NfcSuffix' AS t FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Per-language embedding centroid: documents ⋈ embeddings on the doc
    * key, element-wise mean per (lang, dim). The float values go through
    * exact integer micro-units before summation so the result is
    * independent of summation order (the repo-wide float-agg convention).
    * At scale: posexplode emits |docs|×dims narrow rows, the aggregate is
    * partial-agg friendly, and the output is |langs|×dims — tiny. */
  def langCentroid(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("lang"))
    // Join on the doc key FIRST, then explode: the join processes
    // |embeddings| rows instead of |embeddings|×dims.
    val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
    emb
      .join(docs, emb("vec_id") === docs("doc_id"))
      .select(col("lang"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn(
        "v_micro",
        round(col("v").cast("double") * 1e6, 0).cast("long")
      )
      .groupBy(col("lang"), (col("pos") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), sum(col("v_micro")).as("sum_micro"))
      .select(
        col("lang"),
        col("dim"),
        round(col("sum_micro") / lit(1e6) / col("n"), 6).as("centroid_v")
      )
      .orderBy("lang", "dim")
  }

  def langCentroidOracle: String =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
      |  FROM embeddings),
      |j AS (
      |  SELECT d.lang AS lang, CAST(e.dim AS BIGINT) AS dim,
      |    CAST(round(CAST(v AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS v_micro
      |  FROM e JOIN documents d ON d.doc_id = e.vec_id)
      |SELECT lang, dim,
      |  round(CAST(CAST(sum(v_micro) AS BIGINT) AS DOUBLE) / 1000000.0 / count(*), 6) AS centroid_v
      |FROM j GROUP BY lang, dim ORDER BY lang, dim""".stripMargin

  def qualityScore(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** QUALITY THRESHOLD SWEEP — the operating-point curve behind every
    * "quality >= T" filter decision: one row per distinct quality level
    * with the docs/tokens AT that level and the docs/tokens a filter
    * set at that level would KEEP (cumulative from the top). This is
    * what a pipeline owner reads before moving a threshold: the exact
    * data cost of each candidate cut, in documents and training
    * tokens, from one corpus pass.
    *
    * Scale shape: ONE scan computes (quality, n_words) per doc; the
    * level histogram is a groupBy over the ~11 discrete blend values;
    * the cumulative join is levels × levels on a ≤ dozen-row frame
    * (deliberately a tiny nested-loop join rather than an
    * unpartitioned window — the global-window ban holds even where it
    * would be harmless). */
  def qualitySweep(s: SparkSession, d: String): DataFrame = {
    val scored = documents(s, d).select(
      TextAnalysis.qualityScore(col("text")).as("quality"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_words"))
    val levels = scored
      .groupBy("quality")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"))
      .localCheckpoint(true)
    val cum = levels.select(col("quality"))
      .join(
        broadcast(levels.select(
          col("quality").as("q2"), col("n_docs"), col("n_words"))),
        col("q2") >= col("quality"))
      .groupBy("quality")
      .agg(
        sum("n_docs").as("n_docs_kept"),
        sum("n_words").as("n_tokens_kept"))
    levels
      .select(col("quality"), col("n_docs"), col("n_words").as("n_tokens"))
      .join(cum, Seq("quality"))
      .orderBy("quality")
  }

  def qualitySweepOracle: String =
    s"""WITH $qualityCtesSql,
       |w AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words
       |  FROM documents),
       |lv AS (
       |  SELECT q.quality, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(w.n_words) AS BIGINT) AS n_tokens
       |  FROM q JOIN w USING (doc_id) GROUP BY 1)
       |SELECT a.quality, a.n_docs, a.n_tokens,
       |  CAST((SELECT sum(b.n_docs) FROM lv b WHERE b.quality >= a.quality) AS BIGINT) AS n_docs_kept,
       |  CAST((SELECT sum(b.n_tokens) FROM lv b WHERE b.quality >= a.quality) AS BIGINT) AS n_tokens_kept
       |FROM lv a ORDER BY quality""".stripMargin

  // --- generated DuckDB oracle SQL ----------------------------------------

  /** Distinct word-3-gram shingles per doc, hashed to 60-bit longs (same
    * early-hash as Dedup.shingleRows; DuckDB list comprehension). */
  private val shinglesCte =
    """sh AS (
      |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s),1,15) AS BIGINT) AS shingle FROM (
      |    SELECT doc_id, unnest([w[i] || '_' || w[i+1] || '_' || w[i+2] for i in range(1, len(w)-1)]) AS s
      |    FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents)))""".stripMargin

  /** Shared CTE chain ending in `pairs(id_a, id_b, jaccard)` — used by
    * both the pair query and the cluster query so the two oracles cannot
    * drift. */
  private def minhashPairsCtes: String = {
    val sigCols = (0 until MinhashHashes)
      .map(i =>
        s"min(CAST('0x' || substr(md5('${i / 2}:' || CAST(shingle AS VARCHAR)),${1 + 15 * (i % 2)},15) AS BIGINT)) AS sig_$i")
      .mkString(", ")
    val rows = MinhashHashes / MinhashBands
    val bandSelects = (0 until MinhashBands)
      .map { b =>
        val cat = (0 until rows)
          .map(r => s"CAST(sig_${b * rows + r} AS VARCHAR)")
          .mkString(" || ':' || ")
        s"SELECT doc_id, $b AS band, md5($cat) AS bh FROM sig"
      }
      .mkString("\n  UNION ALL ")
    s"""$shinglesCte,
       |sig AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
       |banded AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT c.id_a AS id_a, c.id_b AS id_b,
       |    round(n_inter / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
       |  FROM cand c
       |  JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
       |  JOIN sizes sa ON sa.doc_id = c.id_a
       |  JOIN sizes sb ON sb.doc_id = c.id_b
       |  WHERE round(n_inter / (sa.set_size + sb.set_size - n_inter), 6) >= $MinhashThreshold)""".stripMargin
  }

  def minhashOracle: String =
    s"""WITH $minhashPairsCtes
       |SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b""".stripMargin

  /** NEAR-DUP EXPLANATION ([[Dedup.minhashExplain]]): per verified
    * pair, the band-collision count, exact shingle intersection, both
    * set sizes and the Jaccard — the row an operator reads before
    * disputing a takedown or re-tuning the banding. Shares the dedup
    * face's candidate generation and verify joins, so explanation and
    * verdict can never disagree. */
  def dedupExplain(s: SparkSession, d: String): DataFrame =
    Dedup.minhashExplain(documents(s, d), "doc_id", "text",
        MinhashHashes, MinhashBands, MinhashThreshold)
      .orderBy("id_a", "id_b")

  def dedupExplainOracle: String =
    s"""WITH $minhashPairsCtes,
       |bandhits AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(count(*) AS BIGINT) AS n_bands
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT p.id_a, p.id_b, h.n_bands,
       |  CAST(i.n_inter AS BIGINT) AS n_inter,
       |  CAST(sa.set_size AS BIGINT) AS size_a,
       |  CAST(sb.set_size AS BIGINT) AS size_b,
       |  p.jaccard
       |FROM pairs p
       |JOIN bandhits h ON p.id_a = h.id_a AND p.id_b = h.id_b
       |JOIN inter i ON p.id_a = i.id_a AND p.id_b = i.id_b
       |JOIN sizes sa ON sa.doc_id = p.id_a
       |JOIN sizes sb ON sb.doc_id = p.id_b
       |ORDER BY p.id_a, p.id_b""".stripMargin

  /** Mod and id offset of the synthetic v2 used by [[corpusDiffQ]]:
    * doc_id % 13 == 0 is dropped, % 13 == 5 is edited, % 13 == 7 gains a
    * re-keyed copy at +[[DiffAddOffset]]. */
  val DiffMod = 13
  val DiffAddOffset = 10000000L

  /** CORPUS VERSION DIFF readout ([[graft.dedup.Dedup.corpusDiff]]) —
    * the dataset-release audit between two corpus versions: v1 is the
    * documents table; v2 is a deterministic release-shaped mutation of
    * it (a deletion slice, an edited slice, an added slice). One row per
    * id with its added/removed/changed/unchanged status — what every
    * retrain decision and dataset card diffs first. The operator
    * compares content FINGERPRINTS across an id-keyed full outer join;
    * document bodies never shuffle. */
  def corpusDiffQ(s: SparkSession, d: String): DataFrame = {
    val v1 = documents(s, d).select("doc_id", "text")
    val v2 = v1
      .filter(col("doc_id") % DiffMod =!= 0)
      .select(
        col("doc_id"),
        when(col("doc_id") % DiffMod === 5, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
      .unionByName(v1
        .filter(col("doc_id") % DiffMod === 7)
        .select(
          (col("doc_id") + DiffAddOffset).as("doc_id"),
          concat(col("text"), lit(" new")).as("text")))
    graft.dedup.Dedup
      .corpusDiff(v1, v2, "doc_id", "text")
      .orderBy("id")
  }

  def corpusDiffOracle: String =
    s"""WITH v2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % $DiffMod = 5 THEN text || ' rev2' ELSE text END AS text
       |  FROM documents WHERE doc_id % $DiffMod <> 0
       |  UNION ALL
       |  SELECT doc_id + $DiffAddOffset AS doc_id, text || ' new' AS text
       |  FROM documents WHERE doc_id % $DiffMod = 7),
       |k1 AS (
       |  SELECT doc_id AS id,
       |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp1
       |  FROM documents),
       |k2 AS (
       |  SELECT doc_id AS id,
       |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp2
       |  FROM v2)
       |SELECT coalesce(k1.id, k2.id) AS id,
       |  CASE WHEN k1.id IS NULL THEN 'added'
       |       WHEN k2.id IS NULL THEN 'removed'
       |       WHEN fp1 = fp2 THEN 'unchanged'
       |       ELSE 'changed' END AS status
       |FROM k1 FULL OUTER JOIN k2 ON k1.id = k2.id
       |ORDER BY id""".stripMargin

  /** Delete-slice and df cap of the retraction query: doc_id % 7 == 3
    * retracts (~14% of the corpus), and the posting cap runs at the
    * shingle-gate family's [[NgramDfCap]]-like small value so the
    * cap-crossing repair path is live at realistic dfs. */
  val RetractMod = 7
  val RetractResidue = 3
  val RetractDfCap = 8

  /** CORPUS RETRACTION readout
    * ([[graft.dedup.Dedup.retractArtifacts]] — the takedown /
    * right-to-be-forgotten inverse of the commit): retract the
    * doc_id % 7 == 3 slice from all seven stored gate artifacts and
    * report per-artifact (rows before, rows after). RetractSpec pins
    * the row-level laws (each retracted table == rebuilt from scratch
    * on corpus \ deleted; retract ∘ commit == identity; the
    * cap-crossing posting repair); the oracle pins both counts by
    * recomputing every artifact from `documents` and from
    * `documents` minus the slice. */
  def corpusRetract(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    val del = docs
      .filter(col("doc_id") % RetractMod === RetractResidue)
      .select(col("doc_id").as("id"))
    val stored = graft.dedup.Dedup.gateArtifactsOf(
      docs, "doc_id", "text", MinhashHashes, MinhashBands, SpanW,
      SimhashBlocks, maxShingleDf = RetractDfCap)
    val r = graft.dedup.Dedup.retractArtifacts(
      stored, docs, del, "doc_id", "text", SpanW,
      maxShingleDf = RetractDfCap)
    def row(name: String, before: DataFrame, after: DataFrame) =
      before
        .agg(count(lit(1)).as("n_before"))
        .crossJoin(after.agg(count(lit(1)).as("n_after")))
        .select(lit(name).as("artifact"), col("n_before"), col("n_after"))
    // 1-row × 1-row count composes — the commit readout's pattern.
    row("fingerprint", stored.fingerprints, r.fingerprints)
      .unionByName(row("minhash_band", stored.bandTable, r.bandTable))
      .unionByName(row("ngram_df", stored.ngramDf, r.ngramDf))
      .unionByName(row("ngram_posting", stored.ngramPostings, r.ngramPostings))
      .unionByName(row("shingle_set", stored.shingleSets, r.shingleSets))
      .unionByName(row("simhash_band", stored.simhashBands, r.simhashBands))
      .unionByName(row("span_fp", stored.spanFps, r.spanFps))
      .orderBy("artifact")
  }

  def corpusRetractOracle: String = {
    val M = RetractMod
    val R = RetractResidue
    val W = SpanW
    s"""WITH rem AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % $M <> $R),
       |fpb AS (
       |  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
       |  FROM documents),
       |fpa AS (
       |  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
       |  FROM rem),
       |shb AS (
       |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(s),1,15) AS BIGINT) AS shingle FROM (
       |    SELECT doc_id, unnest([w[i] || '_' || w[i+1] || '_' || w[i+2] for i in range(1, len(w)-1)]) AS s
       |    FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents))),
       |sha AS (
       |  SELECT doc_id, shingle FROM shb WHERE doc_id % $M <> $R),
       |dfb AS (SELECT shingle, count(*) AS df FROM shb GROUP BY 1),
       |dfa AS (SELECT shingle, count(*) AS df FROM sha GROUP BY 1),
       |spb AS (
       |  SELECT DISTINCT CAST('0x' || substr(md5(array_to_string(w[i : i + $W - 1], '_')), 1, 15) AS BIGINT) AS fp
       |  FROM (SELECT w, unnest(range(1, greatest(len(w) - $W + 2, 1))) AS i
       |        FROM (SELECT string_split_regex(lower(text), '\\s+') AS w FROM documents))),
       |spa AS (
       |  SELECT DISTINCT CAST('0x' || substr(md5(array_to_string(w[i : i + $W - 1], '_')), 1, 15) AS BIGINT) AS fp
       |  FROM (SELECT w, unnest(range(1, greatest(len(w) - $W + 2, 1))) AS i
       |        FROM (SELECT string_split_regex(lower(text), '\\s+') AS w FROM rem))),
       |simb AS (
       |  SELECT doc_id FROM documents
       |  WHERE len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) > 0),
       |sima AS (SELECT doc_id FROM simb WHERE doc_id % $M <> $R)
       |SELECT 'fingerprint' AS artifact,
       |  CAST((SELECT count(*) FROM fpb) AS BIGINT) AS n_before,
       |  CAST((SELECT count(*) FROM fpa) AS BIGINT) AS n_after
       |UNION ALL
       |SELECT 'minhash_band',
       |  CAST((SELECT count(DISTINCT doc_id) * $MinhashBands FROM shb) AS BIGINT),
       |  CAST((SELECT count(DISTINCT doc_id) * $MinhashBands FROM sha) AS BIGINT)
       |UNION ALL
       |SELECT 'ngram_df',
       |  CAST((SELECT count(*) FROM dfb) AS BIGINT),
       |  CAST((SELECT count(*) FROM dfa) AS BIGINT)
       |UNION ALL
       |SELECT 'ngram_posting',
       |  CAST((SELECT count(*) FROM shb JOIN dfb USING (shingle) WHERE dfb.df <= $RetractDfCap) AS BIGINT),
       |  CAST((SELECT count(*) FROM sha JOIN dfa USING (shingle) WHERE dfa.df <= $RetractDfCap) AS BIGINT)
       |UNION ALL
       |SELECT 'shingle_set',
       |  CAST((SELECT count(DISTINCT doc_id) FROM shb) AS BIGINT),
       |  CAST((SELECT count(DISTINCT doc_id) FROM sha) AS BIGINT)
       |UNION ALL
       |SELECT 'simhash_band',
       |  CAST((SELECT count(*) * $SimhashBlocks FROM simb) AS BIGINT),
       |  CAST((SELECT count(*) * $SimhashBlocks FROM sima) AS BIGINT)
       |UNION ALL
       |SELECT 'span_fp',
       |  CAST((SELECT count(*) FROM spb) AS BIGINT),
       |  CAST((SELECT count(*) FROM spa) AS BIGINT)
       |ORDER BY artifact""".stripMargin
  }

  /** DuckDB oracle for the interleaved commit+takedown lifecycle stream
    * (`q_stream_lifecycle`): the [[corpusCommitOracle]] CTE chain (gate
    * + span-clean) unchanged, then every artifact recomputed over the
    * SURVIVORS — the gated-and-cleaned accepted docs minus the
    * [[RetractMod]] takedown slice. Rebuild-on-survivors equals
    * commit-then-retract exactly: the store's content-keyed sets are
    * signed multisets (a retracted doc's −1 cancels exactly its +1;
    * anything shared with corpus or a survivor stays), and id-keyed
    * tables are tombstoned. The composition is batching-deterministic
    * on the fixture because the commit slice has no duplicate-content
    * docs (checked at both SFs) — with in-slice dup content, WHICH
    * member the gate keeps (and hence whether the takedown residue
    * hits it) would depend on the micro-batch split. */
  def streamLifecycleOracle: String = {
    val R = RetractMod
    val RR = RetractResidue
    val Cap = graft.dedup.Dedup.DefaultShingleDfCap
    s"""WITH $commitGateCtesSql,
       |surv AS (
       |  SELECT tb.doc_id, COALESCE(ka.clean_text, '') AS text
       |  FROM tb LEFT JOIN ka ON tb.doc_id = ka.doc_id
       |  WHERE tb.doc_id % $R <> $RR),
       |${commitArtifactCtesSql("surv")}
       |SELECT 'fingerprint' AS artifact,
       |  (SELECT count(*) FROM seen) AS n_corpus,
       |  (SELECT count(*) FROM (SELECT fingerprint FROM seen UNION SELECT fingerprint FROM afp)) AS n_committed
       |UNION ALL
       |SELECT 'minhash_band',
       |  (SELECT count(*) FROM cband),
       |  (SELECT count(*) FROM cband) + (SELECT count(*) FROM aband)
       |UNION ALL
       |SELECT 'ngram_df',
       |  (SELECT count(*) FROM cdf),
       |  (SELECT count(*) FROM pdf)
       |UNION ALL
       |SELECT 'ngram_posting',
       |  (SELECT count(*) FROM cshl JOIN cdf USING (shingle) WHERE cdf.df <= $Cap),
       |  (SELECT count(*) FROM pall JOIN pdf USING (shingle) WHERE pdf.df <= $Cap)
       |UNION ALL
       |SELECT 'shingle_set',
       |  (SELECT count(DISTINCT doc_id) FROM cshl),
       |  (SELECT count(DISTINCT doc_id) FROM cshl) + (SELECT count(DISTINCT doc_id) FROM ashl)
       |UNION ALL
       |SELECT 'simhash_band',
       |  (SELECT count(*) * $SimhashBlocks FROM csimd),
       |  (SELECT count(*) * $SimhashBlocks FROM csimd)
       |    + (SELECT count(*) * $SimhashBlocks FROM asimd)
       |UNION ALL
       |SELECT 'span_fp',
       |  (SELECT count(*) FROM cfp),
       |  (SELECT count(*) FROM (SELECT fp FROM cfp UNION SELECT fp FROM aspfp))
       |ORDER BY artifact""".stripMargin
  }

  /** Sketch width for [[corpusOverlap]] — 32 permutations puts the
    * estimator's std at ≈ √(J(1−J)/32) ≤ 0.09, a readout-grade error
    * bar; the oracle checks exact equality of the sketch itself, not
    * the estimate's accuracy. */
  val OverlapHashes = 32

  /** Corpus-overlap readout ([[Dedup.corpusOverlap]]) between the
    * training corpus and the [[DecontamMod]] held-out slice — the corpus-
    * granularity companion of [[decontaminate]]'s per-doc readout: the
    * MinHash bottom-1 sketch estimate of shingle-set Jaccard next to its
    * exact twin, one summary row. */
  def corpusOverlap(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    Dedup.corpusOverlap(
      docs.filter(col("doc_id") % DecontamMod =!= 0),
      docs.filter(col("doc_id") % DecontamMod === 0),
      "text", OverlapHashes, withExact = true)
  }

  def corpusOverlapOracle: String = {
    def rawSh(pred: String) =
      s"""SELECT CAST('0x' || substr(md5(s),1,15) AS BIGINT) AS shingle FROM (
         |    SELECT unnest([w[i] || '_' || w[i+1] || '_' || w[i+2] for i in range(1, len(w)-1)]) AS s
         |    FROM (SELECT string_split_regex(lower(text), '\\s+') AS w
         |          FROM documents WHERE $pred))""".stripMargin
    def mins(pre: String) =
      (0 until OverlapHashes)
        .map(i =>
          s"min(CAST('0x' || substr(md5('${i / 2}:' || CAST(shingle AS VARCHAR)),${1 + 15 * (i % 2)},15) AS BIGINT)) AS $pre$i")
        .mkString(", ")
    val agree = (0 until OverlapHashes)
      .map(i => s"CASE WHEN ska.ma_$i = skb.mb_$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH shA AS (
       |  ${rawSh(s"doc_id % $DecontamMod <> 0")}),
       |shB AS (
       |  ${rawSh(s"doc_id % $DecontamMod = 0")}),
       |ska AS (SELECT ${mins("ma_")} FROM shA),
       |skb AS (SELECT ${mins("mb_")} FROM shB),
       |est AS (
       |  SELECT CAST($OverlapHashes AS BIGINT) AS n_hashes,
       |    CAST($agree AS BIGINT) AS n_agree
       |  FROM ska, skb),
       |ex AS (
       |  SELECT CAST(sum(a) AS BIGINT) AS n_shingles_a,
       |    CAST(sum(b) AS BIGINT) AS n_shingles_b,
       |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_common
       |  FROM (SELECT shingle, max(in_a) AS a, max(in_b) AS b FROM (
       |    SELECT shingle, 1 AS in_a, 0 AS in_b FROM shA
       |    UNION ALL
       |    SELECT shingle, 0 AS in_a, 1 AS in_b FROM shB) GROUP BY shingle))
       |SELECT n_hashes, n_agree,
       |  CAST(round(CAST(n_agree AS DOUBLE) * 1000000 / CAST(n_hashes AS DOUBLE), 0) AS BIGINT) AS jaccard_est_micros,
       |  n_shingles_a, n_shingles_b, n_common,
       |  n_shingles_a + n_shingles_b - n_common AS n_union,
       |  CAST(round(CAST(n_common AS DOUBLE) * 1000000 / CAST(n_shingles_a + n_shingles_b - n_common AS DOUBLE), 0) AS BIGINT) AS jaccard_exact_micros
       |FROM est, ex""".stripMargin
  }

  private def sigColsSql: String =
    (0 until MinhashHashes)
      .map(i =>
        s"min(CAST('0x' || substr(md5('${i / 2}:' || CAST(shingle AS VARCHAR)),${1 + 15 * (i % 2)},15) AS BIGINT)) AS sig_$i")
      .mkString(", ")

  private def bandSelectsSql(from: String): String = {
    val rows = MinhashHashes / MinhashBands
    (0 until MinhashBands)
      .map { b =>
        val cat = (0 until rows)
          .map(r => s"CAST(sig_${b * rows + r} AS VARCHAR)")
          .mkString(" || ':' || ")
        s"SELECT doc_id, $b AS band, md5($cat) AS bh FROM $from"
      }
      .mkString("\n  UNION ALL ")
  }

  def minhashIncrementalOracle: String =
    s"""WITH $shinglesCte,
       |bsh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % $MinhashIncMod = 0),
       |csh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % $MinhashIncMod != 0),
       |bsig AS (SELECT doc_id, $sigColsSql FROM bsh GROUP BY doc_id),
       |csig AS (SELECT doc_id, $sigColsSql FROM csh GROUP BY doc_id),
       |bband AS (
       |  ${bandSelectsSql("bsig")}),
       |cband AS (
       |  ${bandSelectsSql("csig")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bband a JOIN cband b ON a.band = b.band AND a.bh = b.bh),
       |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.id_a
       |  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2)
       |SELECT i.id_a, i.id_b,
       |  round(n_inter / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.id_a
       |JOIN sizes sb ON sb.doc_id = i.id_b
       |WHERE round(n_inter / (sa.set_size + sb.set_size - n_inter), 6) >= $MinhashThreshold
       |ORDER BY id_a, id_b""".stripMargin

  /** The dup-components memo family: the minhash band join +
    * connected components is the shared prefix of the dup-cluster,
    * keep-list, split and curation queries — without the memo a
    * Verify/Bench run pays the most expensive pipeline in the surface
    * once per consumer for bit-identical results (fixed hash family,
    * min-label CC). */
  private val DupComponentsMemo = graft.Memo.frames("dup_components",
    Set("q_dup_clusters", "q_dedup_keeplist", "q_leakage_safe_split",
      "q_quality_keeplist", "q_curation_funnel", "q_dup_histogram",
      "q_dup_downweight", "q_weighted_sample", "q_corpus_card",
      "q_split_audit"))

  /** Near-dup pairs → connected components (id, component) over
    * `documents(d)` — computed once per (session, dir) through
    * [[DupComponentsMemo]]. */
  private[graft] def dupComponents(s: SparkSession, d: String): DataFrame =
    graft.Memo.get(DupComponentsMemo, s, d) {
      val pairs = Dedup
        .minhashDuplicates(documents(s, d), "doc_id", "text",
          MinhashHashes, MinhashBands, MinhashThreshold)
        .select("id_a", "id_b")
      Dedup.connectedComponents(pairs).localCheckpoint(true)
    }

  /** The shingle-row memo family: the distinct (id, blk = lang, shingle)
    * row table over ALL documents is the dominant cost (tokenize + hash
    * explode) of the n-gram gate's artifact build (lang-blocked) and of
    * the ingest ledger's (single-block — a per-doc-constant blk
    * projection keeps distinctness, so one table serves both). It is
    * the LARGEST memoized frame: one row per distinct (doc, blk, 3-gram). */
  private val DocShingleRowsMemo = graft.Memo.frames("doc_shingle_rows",
    Set("q_stream_ngram", "q_stream_attribution", "q_ngram_novelty",
      "q_stream_novelty"))

  private[graft] def docShingleRows(s: SparkSession, d: String): DataFrame =
    graft.Memo.get(DocShingleRowsMemo, s, d) {
      Dedup
        .ngramShingleRows(documents(s, d), "doc_id", "text", col("lang"), 3)
        .localCheckpoint(true)
    }

  /** Duplicate clusters: connected components over the minhash near-dup
    * pairs — iterative min-label propagation on the Spark side, a
    * recursive transitive-closure CTE on the DuckDB side; both converge
    * to min-id-per-component, so results match exactly. */
  def dupClusters(s: SparkSession, d: String): DataFrame =
    dupComponents(s, d).orderBy("id")

  def dupClustersOracle: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM edges
       |  UNION
       |  SELECT re.id, e.dst AS r FROM reach re JOIN edges e ON e.src = re.r)
       |SELECT id, least(id, min(r)) AS component
       |FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** INCREMENTAL near-dup clustering
    * ([[graft.dedup.Dedup.incrementalComponents]]) — the clustering
    * face of the incremental dedup family, closing the gap between
    * q_incremental_minhash (which emits the delivery's new PAIRS) and
    * q_dup_clusters (which recomputes components from scratch): the
    * corpus's stored component assignment folds in the delivery's
    * batch×corpus and batch×batch pairs through the star-edge identity,
    * and the result must equal from-scratch clustering of corpus ∪
    * batch — which is exactly what the oracle computes (the recursive
    * transitive closure over ALL documents' pairs), so the incremental
    * law is hash-checked cross-engine, not assumed. Same
    * [[MinhashIncMod]] split as the pair-face query. */
  def incrementalClusters(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val corpus = docs.filter(col("doc_id") % MinhashIncMod =!= 0)
    val batch = docs.filter(col("doc_id") % MinhashIncMod === 0)
    val storedComponents = Dedup.connectedComponents(
      Dedup.minhashDuplicates(corpus, "doc_id", "text",
          MinhashHashes, MinhashBands, MinhashThreshold)
        .select("id_a", "id_b"))
    val newPairs = Dedup
      .minhashIncremental(corpus, batch, "doc_id", "text",
        MinhashHashes, MinhashBands, MinhashThreshold)
      .select("id_a", "id_b")
      .unionByName(Dedup
        .minhashDuplicates(batch, "doc_id", "text",
          MinhashHashes, MinhashBands, MinhashThreshold)
        .select("id_a", "id_b"))
    Dedup.incrementalComponents(storedComponents, newPairs).orderBy("id")
  }

  /** The from-scratch clustering oracle IS the incremental oracle. */
  def incrementalClustersOracle: String = dupClustersOracle

  /** MinHash-verify THRESHOLD SWEEP — the dedup knob's operating-point
    * curve, the [[qualitySweep]] of the near-dup family: the verified
    * pair jaccards bucket at 0.05 width, one row per live bucket with
    * the pairs AT that level and the pairs a verify threshold set there
    * would still flag (cumulative from the top). What a pipeline owner
    * reads before raising [[MinhashThreshold]]: exactly how much dup
    * mass each candidate threshold stops catching. Same tiny
    * broadcast-NLJ cumulative as the quality sweep — no unpartitioned
    * window. */
  def jaccardSweep(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.minhashDuplicates(documents(s, d), "doc_id", "text",
      MinhashHashes, MinhashBands, MinhashThreshold)
    val levels = pairs
      .select((floor(col("jaccard") * 20).cast("double") / 20.0)
        .as("jaccard_bucket"))
      .groupBy("jaccard_bucket")
      .agg(count(lit(1)).as("n_pairs"))
      .localCheckpoint(true)
    val cum = levels.select(col("jaccard_bucket"))
      .join(
        broadcast(levels.select(
          col("jaccard_bucket").as("b2"), col("n_pairs"))),
        col("b2") >= col("jaccard_bucket"))
      .groupBy("jaccard_bucket")
      .agg(sum("n_pairs").as("n_pairs_kept"))
    levels.join(cum, Seq("jaccard_bucket")).orderBy("jaccard_bucket")
  }

  def jaccardSweepOracle: String =
    s"""WITH $minhashPairsCtes,
       |bk AS (SELECT floor(jaccard * 20) / 20 AS jaccard_bucket FROM pairs),
       |lv AS (
       |  SELECT jaccard_bucket, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM bk GROUP BY 1)
       |SELECT a.jaccard_bucket, a.n_pairs,
       |  CAST((SELECT sum(b.n_pairs) FROM lv b WHERE b.jaccard_bucket >= a.jaccard_bucket) AS BIGINT) AS n_pairs_kept
       |FROM lv a ORDER BY jaccard_bucket""".stripMargin

  /** LSH BAND-PLANNER — the analytic companion of the measured
    * [[jaccardSweep]]: for every (bands, rows-per-band) factorization of
    * the [[MinhashHashes]] signature and every OBSERVED verified-pair
    * jaccard level, the S-curve flag probability
    * 1 − (1 − t^r)^b under the standard independence model — what an
    * owner reads next to the sweep before re-banding the deployed
    * config (more bands = higher recall on low-jaccard pairs = more
    * verify work; the planner prices that trade against the corpus's
    * MEASURED dup-mass histogram: exp_flagged_micros = n_pairs ×
    * flag_prob is the expected candidate yield per config and level).
    *
    * All arithmetic is truncating FIXED-POINT micros (x·y div 10⁶ per
    * multiplication, exponents ≤ [[MinhashHashes]]) — deliberately not
    * float pow, whose cross-engine last-ulp is unpinned; the fixed-point
    * error (≤ exponent ulps) is irrelevant at planner precision and the
    * integers hash identically in both engines. Probabilities are
    * evaluated at each bucket's LOWER bound; the measured pair set comes
    * from the DEPLOYED config, so levels below its own S-curve knee are
    * recall-limited — the documented caveat of every post-hoc sweep.
    *
    * Scale shape: the pair scan collapses to ≤ 20 bucket rows; configs ×
    * levels is a ≤ 100-row broadcast NLJ — the planner itself is free. */
  def lshPlanner(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val pairs = Dedup.minhashDuplicates(documents(s, d), "doc_id", "text",
      MinhashHashes, MinhashBands, MinhashThreshold)
    val levels = pairs
      .select((floor(col("jaccard") * 20).cast("double") / 20.0)
        .as("jaccard_bucket"))
      .groupBy("jaccard_bucket")
      .agg(count(lit(1)).as("n_pairs"))
    val cfgs = (1 to MinhashHashes)
      .filter(MinhashHashes % _ == 0)
      .map(b => (b.toLong, (MinhashHashes / b).toLong))
      .toDF("bands", "rows_per_band")
    cfgs.crossJoin(broadcast(levels))
      .withColumn("jaccard_micros",
        expr("CAST(round(jaccard_bucket * 1000000, 0) AS BIGINT)"))
      .withColumn("band_match_micros", expr(
        """CASE WHEN rows_per_band > 1
          |  THEN aggregate(sequence(2L, rows_per_band), jaccard_micros,
          |    (acc, i) -> acc * jaccard_micros div 1000000)
          |  ELSE jaccard_micros END""".stripMargin))
      .withColumn("miss_micros", lit(1000000L) - col("band_match_micros"))
      .withColumn("no_flag_micros", expr(
        """CASE WHEN bands > 1
          |  THEN aggregate(sequence(2L, bands), miss_micros,
          |    (acc, i) -> acc * miss_micros div 1000000)
          |  ELSE miss_micros END""".stripMargin))
      .withColumn("flag_prob_micros", lit(1000000L) - col("no_flag_micros"))
      .withColumn("exp_flagged_micros", col("n_pairs") * col("flag_prob_micros"))
      .withColumn("is_deployed", col("bands") === MinhashBands.toLong)
      .select("bands", "rows_per_band", "jaccard_bucket", "n_pairs",
        "band_match_micros", "flag_prob_micros", "exp_flagged_micros",
        "is_deployed")
      .orderBy("bands", "jaccard_bucket")
  }

  def lshPlannerOracle: String = {
    val cfgRows = (1 to MinhashHashes)
      .filter(MinhashHashes % _ == 0)
      .map(b => s"($b, ${MinhashHashes / b})")
      .mkString(", ")
    s"""WITH RECURSIVE $minhashPairsCtes,
       |lv AS (
       |  SELECT floor(jaccard * 20) / 20 AS jaccard_bucket,
       |    CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM pairs GROUP BY 1),
       |cfg(bands, rows_per_band) AS (VALUES $cfgRows),
       |seed AS (
       |  SELECT CAST(bands AS BIGINT) AS bands,
       |    CAST(rows_per_band AS BIGINT) AS rows_per_band,
       |    jaccard_bucket, n_pairs,
       |    CAST(round(jaccard_bucket * 1000000, 0) AS BIGINT) AS tm
       |  FROM cfg, lv),
       |p1(bands, rows_per_band, jaccard_bucket, n_pairs, tm, i, acc) AS (
       |  SELECT bands, rows_per_band, jaccard_bucket, n_pairs, tm,
       |    CAST(1 AS BIGINT), tm
       |  FROM seed
       |  UNION ALL
       |  SELECT bands, rows_per_band, jaccard_bucket, n_pairs, tm,
       |    i + 1, acc * tm // 1000000
       |  FROM p1 WHERE i < rows_per_band),
       |tr AS (
       |  SELECT bands, rows_per_band, jaccard_bucket, n_pairs, tm,
       |    acc AS band_match_micros, 1000000 - acc AS miss
       |  FROM p1 WHERE i = rows_per_band),
       |p2(bands, rows_per_band, jaccard_bucket, n_pairs, band_match_micros,
       |   miss, i, acc) AS (
       |  SELECT bands, rows_per_band, jaccard_bucket, n_pairs,
       |    band_match_micros, miss, CAST(1 AS BIGINT), miss
       |  FROM tr
       |  UNION ALL
       |  SELECT bands, rows_per_band, jaccard_bucket, n_pairs,
       |    band_match_micros, miss, i + 1, acc * miss // 1000000
       |  FROM p2 WHERE i < bands)
       |SELECT bands, rows_per_band, jaccard_bucket, n_pairs,
       |  band_match_micros,
       |  CAST(1000000 - acc AS BIGINT) AS flag_prob_micros,
       |  CAST(n_pairs * (1000000 - acc) AS BIGINT) AS exp_flagged_micros,
       |  bands = $MinhashBands AS is_deployed
       |FROM p2 WHERE i = bands
       |ORDER BY bands, jaccard_bucket""".stripMargin
  }

  /** The end-to-end fuzzy-dedup verb a corpus pipeline actually runs:
    * near-dup pairs → components → keep min id per component → anti-join
    * the drop list off the corpus. The drop list grows with corpus dup
    * mass (30–50% of a web crawl), so it is applied via
    * [[Dedup.applyDropList]]: a Bloom filter SIZED FROM THE OBSERVED drop
    * count (the localCheckpoint below materializes the list, so the count
    * is a cheap cached-keys job) passes definite keeps through in the
    * scan stage with no shuffle, and only Bloom-positive rows reach the
    * exactness anti-join — whose broadcast-vs-shuffle choice is left to
    * Spark's size threshold, never forced. Past the 16 MiB filter cap the
    * Bloom branch is skipped for a single shuffled anti-join. The
    * pairs+components prefix comes from [[dupComponents]] (shared with
    * the cluster and leakage-split queries); applyDropList checkpoints
    * the drop keys itself, so the count/Bloom/anti-join jobs replay a
    * materialized list. */
  def dedupKeeplist(s: SparkSession, d: String): DataFrame = {
    val drops = dupComponents(s, d)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    Dedup
      .applyDropList(documents(s, d).select("doc_id"), drops, "doc_id")
      .orderBy("doc_id")
  }

  def dedupKeeplistOracle: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM edges
       |  UNION
       |  SELECT re.id, e.dst AS r FROM reach re JOIN edges e ON e.src = re.r),
       |cc AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> component)
       |ORDER BY doc_id""".stripMargin

  /** Near-dup CLUSTER-SIZE HISTOGRAM — the dedup observability readout
    * (how much duplication mass the corpus carries, and in what shape:
    * many pairs vs few giant clusters — giant clusters are the signal
    * for template/mirror content and for CC hotspot risk). One groupBy
    * over the memoized [[dupComponents]] frame to cluster sizes, one
    * more to the histogram; singleton (cluster-free) documents are
    * reported as size-1 mass so the histogram totals the corpus. */
  def dupHistogram(s: SparkSession, d: String): DataFrame = {
    val cc = dupComponents(s, d)
    val total = documents(s, d).select(col("doc_id"))
    val sizes = total
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
    sizes
      .groupBy("cluster_size")
      .agg(
        count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("cluster_size")).as("n_docs"))
      .orderBy("cluster_size")
  }

  def dupHistogramOracle: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM edges
       |  UNION
       |  SELECT re.id, e.dst AS r FROM reach re JOIN edges e ON e.src = re.r),
       |cc AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
       |csz AS (
       |  SELECT COALESCE(cc.component, d.doc_id) AS component,
       |    CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.id
       |  GROUP BY 1)
       |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(count(*) * cluster_size AS BIGINT) AS n_docs
       |FROM csz GROUP BY cluster_size
       |ORDER BY cluster_size""".stripMargin

  /** SOFT-DEDUP sampling weights — the alternative to hard keep-list
    * dedup (q_dedup_keeplist drops all but one copy): keep EVERY copy
    * but down-weight each near-duplicate cluster member to
    * `round(1e6 / cluster_size)` micros, so a cluster contributes ~one
    * document's worth of expected training mass regardless of how many
    * times its content was crawled (the frequency-aware sampling used
    * when duplicates carry signal — popularity, canonical-ness — that a
    * hard drop would erase). One row per document: its component, the
    * cluster size, and the exact-integer weight — the rounding is
    * floor((2e6 + size) / (2·size)) in BOTH engines, so the readout is
    * hash-exact with no float division anywhere.
    *
    * Composition: the memoized [[dupComponents]] frame (band join + CC,
    * shared with the cluster/keep-list/split/histogram family) left-
    * joined to the corpus so singletons weight exactly 1e6; sizes come
    * from one component-keyed groupBy joined back — the
    * [[dupHistogram]] shape, so at 100 TB the only new cost over the
    * histogram is the id-keyed join back to docs. */
  def dupDownweight(s: SparkSession, d: String): DataFrame = {
    val cc = dupComponents(s, d)
    val withComp = documents(s, d).select("doc_id")
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    val sizes = withComp
      .groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
    withComp
      .join(sizes, Seq("component"))
      .select(
        col("doc_id"), col("component"), col("cluster_size"),
        expr("CAST((2000000 + cluster_size) DIV (2 * cluster_size) AS BIGINT)")
          .as("weight_micros"))
      .orderBy("doc_id")
  }

  def dupDownweightOracle: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM edges
       |  UNION
       |  SELECT re.id, e.dst AS r FROM reach re JOIN edges e ON e.src = re.r),
       |cc AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
       |dcc AS (
       |  SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.id),
       |csz AS (
       |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM dcc GROUP BY 1)
       |SELECT dcc.doc_id, dcc.component, csz.cluster_size,
       |  CAST((2000000 + csz.cluster_size) // (2 * csz.cluster_size) AS BIGINT) AS weight_micros
       |FROM dcc JOIN csz USING (component)
       |ORDER BY dcc.doc_id""".stripMargin

  /** CROSS-SOURCE duplication matrix — the curation readout that says
    * which ingest sources duplicate EACH OTHER (mirror sites, crawl
    * overlap, syndication): one row per unordered source pair with (a)
    * the number of content fingerprints present in both sources (exact
    * cross-source duplication) and (b) the number of MinHash near-dup
    * pairs crossing them. Drives source-level decisions the per-doc
    * readouts can't: dropping a wholly-mirrored source, or routing one
    * of an overlapping pair through stricter dedup.
    *
    * Scale shape: the exact half is a fingerprint-keyed self-join of
    * the DISTINCT (fingerprint, source) projection — group sizes are
    * bounded by the source count, never corpus-sized; the near-dup half
    * reuses the banded pair engine (never all-pairs) plus two id-keyed
    * joins to a narrow (id, source) frame; both roll up to at most
    * sources² rows. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame =
    sourceOverlapOf(documents(s, d))

  /** The overlap matrix over any (doc_id, text, source) frame —
    * exposed so the spec can plant a cross-source mirror. */
  private[graft] def sourceOverlapOf(docs: DataFrame): DataFrame = {
    val fpc = graft.text.TextFunctions.fingerprintCol _
    val fps = docs
      .select(fpc(col("text")).as("fingerprint"), col("source"))
      .distinct()
      .localCheckpoint(true)
    val exact = fps.select(col("fingerprint"), col("source").as("sa"))
      .join(fps.select(col("fingerprint"), col("source").as("sb")),
        Seq("fingerprint"))
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa").as("source_a"), col("sb").as("source_b"))
      .agg(count(lit(1)).as("n_exact_fps"))
    val srcOf = docs.select(col("doc_id"), col("source"))
    val nd = Dedup
      .minhashDuplicates(docs, "doc_id", "text",
        MinhashHashes, MinhashBands, MinhashThreshold)
      .select("id_a", "id_b")
      .join(srcOf.select(col("doc_id").as("id_a"), col("source").as("sa")),
        Seq("id_a"))
      .join(srcOf.select(col("doc_id").as("id_b"), col("source").as("sb")),
        Seq("id_b"))
      .filter(col("sa") =!= col("sb"))
      .select(
        least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_neardup_pairs"))
    exact.join(nd, Seq("source_a", "source_b"), "full_outer")
      .select(
        col("source_a"), col("source_b"),
        coalesce(col("n_exact_fps"), lit(0L)).as("n_exact_fps"),
        coalesce(col("n_neardup_pairs"), lit(0L)).as("n_neardup_pairs"))
      .orderBy("source_a", "source_b")
  }

  def sourceOverlapOracle: String =
    s"""WITH $minhashPairsCtes,
       |fps AS (
       |  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint, source
       |  FROM documents),
       |ex AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(count(*) AS BIGINT) AS n_exact_fps
       |  FROM fps a JOIN fps b
       |    ON a.fingerprint = b.fingerprint AND a.source < b.source
       |  GROUP BY 1, 2),
       |nd AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |    greatest(da.source, db.source) AS source_b,
       |    CAST(count(*) AS BIGINT) AS n_neardup_pairs
       |  FROM pairs p
       |  JOIN documents da ON p.id_a = da.doc_id
       |  JOIN documents db ON p.id_b = db.doc_id
       |  WHERE da.source <> db.source
       |  GROUP BY 1, 2)
       |SELECT coalesce(ex.source_a, nd.source_a) AS source_a,
       |  coalesce(ex.source_b, nd.source_b) AS source_b,
       |  CAST(coalesce(ex.n_exact_fps, 0) AS BIGINT) AS n_exact_fps,
       |  CAST(coalesce(nd.n_neardup_pairs, 0) AS BIGINT) AS n_neardup_pairs
       |FROM ex FULL OUTER JOIN nd
       |  ON ex.source_a = nd.source_a AND ex.source_b = nd.source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** Seed naming the weighted-sample draw — a different seed is a
    * different reproducible draw from the same weights. */
  val WeightedSampleSeed = "graft-wsample-v1"

  /** WEIGHTED SAMPLING under the soft-dedup weights — the consumer that
    * closes [[dupDownweight]]'s loop: each document is kept iff
    * `hash60(seed : doc_id) % 1e6 < weight_micros`, a deterministic
    * per-row Bernoulli draw with keep probability exactly
    * weight_micros/1e6 (the hash is uniform over [0, 2⁶⁰), and 2⁶⁰ mod
    * 1e6 bias is < 2⁻⁴⁰ — negligible and IDENTICAL in both engines, so
    * the draw is still hash-exact). Singletons (weight 1e6) are always
    * kept; a size-k cluster retains each copy with probability ~1/k, so
    * expected cluster mass is one document regardless of crawl
    * frequency — soft dedup as an actual sampled corpus, not just a
    * weight column. Reproducible: the draw depends only on (seed,
    * doc_id, weights), never on partitioning or order.
    *
    * Scale shape: [[dupDownweight]]'s joins plus one map-side hash
    * compare — no new shuffle. */
  def weightedSample(s: SparkSession, d: String): DataFrame =
    dupDownweight(s, d)
      .filter(
        Dedup.hash60(concat_ws(":", lit(WeightedSampleSeed),
          col("doc_id").cast("string"))) % 1000000L < col("weight_micros"))
      .select("doc_id", "cluster_size", "weight_micros")
      .orderBy("doc_id")

  def weightedSampleOracle: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM edges
       |  UNION
       |  SELECT re.id, e.dst AS r FROM reach re JOIN edges e ON e.src = re.r),
       |cc AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
       |dcc AS (
       |  SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.id),
       |csz AS (
       |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM dcc GROUP BY 1),
       |w AS (
       |  SELECT dcc.doc_id, csz.cluster_size,
       |    CAST((2000000 + csz.cluster_size) // (2 * csz.cluster_size) AS BIGINT) AS weight_micros
       |  FROM dcc JOIN csz USING (component))
       |SELECT doc_id, cluster_size, weight_micros
       |FROM w
       |WHERE CAST('0x' || substr(md5('$WeightedSampleSeed' || ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 < weight_micros
       |ORDER BY doc_id""".stripMargin

  /** QUALITY-AWARE near-dup keeper election: within each duplicate
    * cluster keep the highest-[[TextAnalysis.qualityScore]] document
    * (tie → min doc_id), not blindly the min id — the keeper policy real
    * curation pipelines want, since near-duplicates routinely differ in
    * boilerplate and truncation. Composition: the memoized
    * [[dupComponents]] frame (band join + CC, shared with the trio) left-
    * joined to a one-scan quality projection; the keeper is an argmin of
    * `struct(-quality, doc_id)` per component — a component-keyed window
    * over clusters that are small by construction (near-dup groups),
    * never a corpus-wide sort. Per-doc output so the oracle verifies
    * every election row by row. */
  def qualityKeeplist(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d)
      .select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
    val cc = dupComponents(s, d).withColumnRenamed("id", "doc_id")
    docs
      .join(cc, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn(
        "keeper_id",
        min(struct((-col("quality")).as("nq"), col("doc_id").as("id")))
          .over(Window.partitionBy("component"))
          .getField("id"))
      .select(
        col("doc_id"),
        col("component"),
        col("quality"),
        col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("keep"))
      .orderBy("doc_id")
  }

  def qualityKeeplistOracle: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM edges
       |  UNION
       |  SELECT re.id, e.dst AS r FROM reach re JOIN edges e ON e.src = re.r),
       |cc AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
       |$qualityCtesSql,
       |j AS (
       |  SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS component,
       |    q.quality
       |  FROM documents d
       |  LEFT JOIN cc ON d.doc_id = cc.id
       |  JOIN q ON d.doc_id = q.doc_id),
       |k AS (
       |  SELECT component, doc_id AS keeper_id FROM (
       |    SELECT component, doc_id,
       |      row_number() OVER (PARTITION BY component
       |        ORDER BY quality DESC, doc_id ASC) AS rn
       |    FROM j) WHERE rn = 1)
       |SELECT j.doc_id, j.component, j.quality, k.keeper_id,
       |  (j.doc_id = k.keeper_id) AS keep
       |FROM j JOIN k ON j.component = k.component
       |ORDER BY j.doc_id""".stripMargin

  /** Leakage-safe train/val/test split: hash the DUPLICATE-CLUSTER id,
    * not the document id, so near-duplicates can never straddle the
    * train/eval boundary (the standard eval-contamination failure of
    * naive per-doc splitting). Composition: minhash near-dup pairs →
    * connected components → group id = component min (own id for
    * cluster-free docs) → 80/10/10 md5-hash split on the group id —
    * every stage the scale-safe operator it reuses (band join, CC,
    * pushed hash filter). Per-doc output so the oracle verifies the
    * assignment row by row; same-group ⇒ same-split holds by
    * construction on both engines. */
  def leakageSafeSplit(s: SparkSession, d: String): DataFrame =
    documents(s, d).select("doc_id")
      .join(dupComponents(s, d).withColumnRenamed("id", "doc_id"),
        Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("component"), col("doc_id")))
      .withColumn(
        "h",
        Dedup.hash32(concat(lit("gsplit:"), col("group_id").cast("string")))
          % 100)
      .withColumn(
        "split",
        when(col("h") < 80, "train").when(col("h") < 90, "val")
          .otherwise("test"))
      .select("doc_id", "group_id", "split")
      .orderBy("doc_id")

  def leakageSafeSplitOracle: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM edges
       |  UNION
       |  SELECT re.id, e.dst AS r FROM reach re JOIN edges e ON e.src = re.r),
       |cc AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
       |g AS (
       |  SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS group_id
       |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.id)
       |SELECT doc_id, group_id,
       |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
       |FROM (SELECT doc_id, group_id,
       |  CAST('0x' || substr(md5('gsplit:' || CAST(group_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS h
       |  FROM g)
       |ORDER BY doc_id""".stripMargin

  /** SPLIT-LEAKAGE AUDIT — the MEASURED face of [[leakageSafeSplit]]'s
    * by-construction guarantee: every verified near-dup pair joined to
    * both endpoints' split assignments and counted by
    * (split_a, split_b). A leakage-safe split shows only diagonal rows
    * (both endpoints of every pair in one split — they share a
    * component, components route atomically); any off-diagonal row is a
    * train→eval contamination channel. This is the audit an eval owner
    * runs on a split they did NOT build — the guarantee verified from
    * the data, not trusted from the code. Pairs and components both
    * ride existing machinery; the audit itself collapses to ≤9 rows. */
  def splitAudit(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.minhashDuplicates(documents(s, d), "doc_id", "text",
      MinhashHashes, MinhashBands, MinhashThreshold)
      .select("id_a", "id_b")
    val split = leakageSafeSplit(s, d).select("doc_id", "split")
    pairs
      .join(split.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("split", "split_a"), Seq("id_a"))
      .join(split.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("split", "split_b"), Seq("id_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("split_a", "split_b")
  }

  def splitAuditOracle: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM edges
       |  UNION
       |  SELECT re.id, e.dst AS r FROM reach re JOIN edges e ON e.src = re.r),
       |cc AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
       |g AS (
       |  SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS group_id
       |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.id),
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |    CAST('0x' || substr(md5('gsplit:' || CAST(group_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS h
       |    FROM g))
       |SELECT sa.split AS split_a, sb.split AS split_b,
       |  count(*) AS n_pairs
       |FROM pairs p
       |JOIN sp sa ON p.id_a = sa.doc_id
       |JOIN sp sb ON p.id_b = sb.doc_id
       |GROUP BY 1, 2
       |ORDER BY split_a, split_b""".stripMargin

  /** Contrastive hard-negative mining ([[Similarity.hardNegatives]]):
    * per query vector, the top-k nearest CROSS-LABEL corpus vectors —
    * the mining pass that turns an embedded corpus into contrastive
    * training pairs. Same broadcast + bounded-heap plan as simTopK. */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity
      .hardNegatives(emb, emb.filter(col("vec_id") < NumQueries), TopK)
      .orderBy("q_vec_id", "rnk")
  }

  def hardNegativesOracle: String =
    s"""WITH c AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT *, sqrt(list_dot_product(emb, emb)) AS nrm FROM c),
       |q AS (SELECT vec_id AS q_vec_id, label AS q_label, emb AS q_emb, nrm AS q_nrm
       |      FROM n WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q_vec_id, vec_id, label,
       |    round(list_dot_product(emb, q_emb) / (nrm * q_nrm), 6) AS score
       |  FROM n JOIN q ON label <> q_label),
       |r AS (SELECT q_vec_id, vec_id, label, score,
       |        row_number() OVER (PARTITION BY q_vec_id ORDER BY score DESC, vec_id ASC) AS rnk
       |      FROM scored)
       |SELECT q_vec_id, CAST(rnk AS BIGINT) AS rnk, vec_id, label, score
       |FROM r WHERE rnk <= $TopK
       |ORDER BY q_vec_id, rnk""".stripMargin

  /** Published quality-filter battery over the documents table
    * ([[TextAnalysis.gopherFilters]]): the C4/Gopher rules as one verdict
    * frame, composed with the existing [[TextAnalysis.qualityScore]]
    * blend — `keep` = all Gopher rules AND quality ≥ 0.7. Exact-integer
    * rule thresholds both engines. */
  def gopherFiltersQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.gopherFilters(
        documents(s, d), "doc_id", "text",
        extra = Seq(TextAnalysis.qualityScore(col("text")).as("quality")))
      .withColumn("keep", col("pass_gopher") && col("quality") >= 0.7)
      .orderBy("doc_id")

  /** Shared CTE text for the battery oracles: `m` (integer counts per
    * doc), then `qm`/`q` (the round-3 quality blend), then `r` (the rule
    * flags over m's counts). One definition — [[gopherFiltersOracle]] and
    * [[filterAttributionOracle]] must never drift from each other or from
    * the Spark-side [[TextAnalysis.gopherFilters]]. */
  private def gopherBatteryCtesSql: String = {
    val stopSum = TextAnalysis.GopherStopwords
      .map(w =>
        s"(CASE WHEN regexp_matches(lower(text), '\\b$w\\b') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""m AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
       |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_word_chars,
       |    CAST(len(regexp_extract_all(text, '(#|\\.\\.\\.|…)')) AS BIGINT) AS n_symbols,
       |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(string_split(text, chr(10)),
       |      x -> regexp_matches(ltrim(x), '^[-*•]'))) AS BIGINT) AS n_bullet_lines,
       |    CAST(len(list_filter(string_split(text, chr(10)),
       |      x -> regexp_matches(rtrim(x), '(\\.\\.\\.|…)$$'))) AS BIGINT) AS n_ellipsis_lines,
       |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |      x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
       |    CAST($stopSum AS BIGINT) AS n_stopwords
       |  FROM documents),
       |$qualityCtesSql,
       |r AS (
       |  SELECT *,
       |    (n_words >= 50 AND n_words <= 100000) AS r_word_count,
       |    (n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10) AS r_mean_word_len,
       |    (n_symbols * 10 <= n_words) AS r_symbol_ratio,
       |    (n_bullet_lines * 10 <= n_lines * 9) AS r_bullet,
       |    (n_ellipsis_lines * 10 <= n_lines * 3) AS r_ellipsis,
       |    (n_alpha_words * 10 >= n_words * 8) AS r_alpha,
       |    (n_stopwords >= ${TextAnalysis.GopherMinStopwords}) AS r_stopword
       |  FROM m)""".stripMargin
  }

  /** The round-3 quality-blend CTEs (`qm` counts → `q` score) — shared by
    * [[gopherBatteryCtesSql]] and [[qualityKeeplistOracle]] so the quality
    * formula exists once on the oracle side, mirroring the single
    * [[TextAnalysis.qualityScore]] on the Spark side. */
  private def qualityCtesSql: String =
    s"""qm AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS DOUBLE) AS n_chars,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_words,
       |    CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) AS n_punct,
       |    CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it)\\b')) AS DOUBLE) AS n_stop
       |  FROM documents),
       |q AS (
       |  SELECT doc_id,
       |    round(
       |      (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END) * CAST(0.3 AS DOUBLE)
       |    + (CASE WHEN (CASE WHEN n_words > 0 THEN n_chars / n_words ELSE 0 END) >= 3
       |         AND (CASE WHEN n_words > 0 THEN n_chars / n_words ELSE 0 END) <= 12
       |        THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END) * CAST(0.3 AS DOUBLE)
       |    + (CASE WHEN n_chars > 0 AND n_punct / n_chars <= 0.1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
       |    + (CASE WHEN n_words > 0 AND n_stop / n_words >= 0.05 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END) * CAST(0.2 AS DOUBLE), 6) AS quality
       |  FROM qm)""".stripMargin

  def gopherFiltersOracle: String =
    s"""WITH $gopherBatteryCtesSql
       |SELECT r.doc_id, r.n_words, r.n_word_chars, r.n_symbols, r.n_lines,
       |  r.n_bullet_lines, r.n_ellipsis_lines, r.n_alpha_words, r.n_stopwords,
       |  r.r_word_count, r.r_mean_word_len, r.r_symbol_ratio, r.r_bullet,
       |  r.r_ellipsis, r.r_alpha, r.r_stopword,
       |  (r.r_word_count AND r.r_mean_word_len AND r.r_symbol_ratio
       |    AND r.r_bullet AND r.r_ellipsis AND r.r_alpha AND r.r_stopword) AS pass_gopher,
       |  q.quality,
       |  ((r.r_word_count AND r.r_mean_word_len AND r.r_symbol_ratio
       |    AND r.r_bullet AND r.r_ellipsis AND r.r_alpha AND r.r_stopword)
       |    AND q.quality >= 0.7) AS keep
       |FROM r JOIN q ON r.doc_id = q.doc_id
       |ORDER BY r.doc_id""".stripMargin

  /** CURATION FUNNEL — the end-to-end survivorship readout of the whole
    * cleaning stack, stage by stage: how many documents survive (1) the
    * C4/Gopher static battery + quality blend, then (2) the Gopher
    * repetition battery, then (3) near-dup keeper election (the memoized
    * CC drop list), then (4) the eval holdout + 3-gram decontamination
    * filter. The numbers a pipeline owner looks at before/after touching
    * any stage — n_surviving is monotonically non-increasing by
    * construction.
    *
    * The battery is applied the way a MULTILINGUAL corpus applies it:
    * Gopher's stopword rule is defined for English, so it gates only
    * `lang = 'en'` documents (on a non-English doc the English stopword
    * list is noise — Gopher itself filtered English); the structural
    * rules and the quality blend gate every language.
    *
    * Scale shape: each verdict is the already-scale-audited operator it
    * reuses; the funnel itself is doc-keyed joins of narrow flag frames
    * into ONE 1-row aggregate (partial-agg boolean sums) and a stack —
    * nothing new shuffles at corpus width. */
  def curationFunnel(s: SparkSession, d: String): DataFrame = {
    def surv(c: String) = sum(when(col(c), 1L).otherwise(0L)).as(s"n_$c")
    stagedVerdicts(s, d)
      .agg(count(lit(1)).as("n_total"), surv("s1"), surv("s2"), surv("s3"),
        surv("s4"))
      .selectExpr(
        """stack(5,
          |  'total',      CAST(0 AS BIGINT), n_total,
          |  'quality',    CAST(1 AS BIGINT), n_s1,
          |  'repetition', CAST(2 AS BIGINT), n_s2,
          |  'near_dedup', CAST(3 AS BIGINT), n_s3,
          |  'decontam',   CAST(4 AS BIGINT), n_s4
          |) AS (stage, stage_idx, n_surviving)""".stripMargin)
      .orderBy("stage_idx")
  }

  /** The funnel-verdict memo family: one boolean-flag row per doc, the
    * shared prefix of the funnel and the corpus card — without it each
    * readout re-runs the gopher battery + repetition battery +
    * contamination shingle join for bit-identical verdicts (~2-4 s per
    * consumer at sf0.1). */
  private val StagedVerdictsMemo = graft.Memo.frames("staged_verdicts",
    Set("q_curation_funnel", "q_corpus_card"))

  private[graft] def stagedVerdicts(s: SparkSession, d: String): DataFrame =
    graft.Memo.get(StagedVerdictsMemo, s, d) {
      stagedVerdictsUnmemoized(s, d).localCheckpoint(true)
    }

  /** The funnel's per-document cumulative stage verdicts (doc_id,
    * s1…s4) — shared by [[curationFunnel]] and [[corpusCard]] so the two
    * readouts can never disagree about survivorship. Resolved through
    * [[StagedVerdictsMemo]]; this is the build. */
  private def stagedVerdictsUnmemoized(
      s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val flags = TextAnalysis
      .gopherFilters(docs, "doc_id", "text",
        extra = Seq(
          TextAnalysis.qualityScore(col("text")).as("quality"),
          col("lang")))
      .select(
        col("doc_id"),
        (col("r_word_count") && col("r_mean_word_len") &&
          col("r_symbol_ratio") && col("r_bullet") && col("r_ellipsis") &&
          col("r_alpha") && (col("lang") =!= "en" || col("r_stopword")) &&
          col("quality") >= 0.7).as("pass_q"))
    // The repetition battery checkpoints its gram table EAGERLY inside
    // repetitionFilters, and dupComponents eagerly builds the minhash +
    // CC memo — two independent multi-job chains that ran back to back
    // on the verdicts' critical path (round 17, guide §2.6). Submit
    // them concurrently; each produces exactly the frame the serial
    // code did.
    var rep: DataFrame = null
    var cc: DataFrame = null
    graft.Par.all(
      () => rep = graft.textanalysis.Repetition
        .repetitionFilters(docs, "doc_id", "text", RepTopNs, RepDupNs)
        .select(col("id").as("doc_id"), col("pass_repetition")),
      () => cc = dupComponents(s, d))
    val drops = cc
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
      .withColumn("dropped", lit(1))
    val contam = Dedup
      .contamination(
        docs.filter(col("doc_id") % DecontamMod =!= 0),
        docs.filter(col("doc_id") % DecontamMod === 0),
        "doc_id", "text")
      .select(col("id").as("doc_id"))
      .withColumn("contam", lit(1))
    val staged = docs
      .select("doc_id")
      .join(flags, Seq("doc_id"))
      .join(rep, Seq("doc_id"))
      .join(drops, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("s1", col("pass_q"))
      .withColumn("s2", col("s1") && col("pass_repetition"))
      .withColumn("s3", col("s2") && col("dropped").isNull)
      .withColumn(
        "s4",
        col("s3") && col("doc_id") % DecontamMod =!= 0 &&
          col("contam").isNull)
    staged.select("doc_id", "s1", "s2", "s3", "s4")
  }

  /** Shared funnel CTE chain ending in `staged(doc_id, s1…s4)` — the
    * oracle twin of [[stagedVerdicts]], used by [[curationFunnelOracle]]
    * AND [[corpusCardOracle]] so the two readouts share every line of
    * survivorship arithmetic. Requires the minhash-pairs + cc,
    * gopher-battery and repetition CTEs in front. */
  private def funnelStagedCtesSql: String =
    s"""gv AS (
       |  SELECT r.doc_id,
       |    (r.r_word_count AND r.r_mean_word_len AND r.r_symbol_ratio
       |      AND r.r_bullet AND r.r_ellipsis AND r.r_alpha
       |      AND (dl.lang <> 'en' OR r.r_stopword)
       |      AND q.quality >= 0.7) AS pass_q
       |  FROM r
       |  JOIN q ON r.doc_id = q.doc_id
       |  JOIN (SELECT doc_id, lang FROM documents) dl ON r.doc_id = dl.doc_id),
       |rv AS (SELECT doc_id, ($repetitionPassSql) AS pass_repetition FROM f),
       |dropped AS (SELECT id AS doc_id FROM cc WHERE id <> component),
       |doc_sh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % $DecontamMod != 0),
       |bench_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % $DecontamMod = 0),
       |contam AS (
       |  SELECT DISTINCT d.doc_id
       |  FROM doc_sh d JOIN bench_sh b ON d.shingle = b.shingle),
       |staged AS (
       |  SELECT dd.doc_id,
       |    gv.pass_q AS s1,
       |    (gv.pass_q AND rv.pass_repetition) AS s2,
       |    (gv.pass_q AND rv.pass_repetition AND dr.doc_id IS NULL) AS s3,
       |    (gv.pass_q AND rv.pass_repetition AND dr.doc_id IS NULL
       |      AND dd.doc_id % $DecontamMod <> 0 AND ct.doc_id IS NULL) AS s4
       |  FROM documents dd
       |  JOIN gv ON dd.doc_id = gv.doc_id
       |  JOIN rv ON dd.doc_id = rv.doc_id
       |  LEFT JOIN dropped dr ON dd.doc_id = dr.doc_id
       |  LEFT JOIN contam ct ON dd.doc_id = ct.doc_id)""".stripMargin

  def curationFunnelOracle: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM edges
       |  UNION
       |  SELECT re.id, e.dst AS r FROM reach re JOIN edges e ON e.src = re.r),
       |cc AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
       |$gopherBatteryCtesSql,
       |$repetitionCtesSql,
       |$funnelStagedCtesSql
       |SELECT stage, stage_idx, n_surviving FROM (
       |  SELECT 'total' AS stage, CAST(0 AS BIGINT) AS stage_idx,
       |    CAST(count(*) AS BIGINT) AS n_surviving FROM staged
       |  UNION ALL SELECT 'quality', CAST(1 AS BIGINT),
       |    CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) FROM staged
       |  UNION ALL SELECT 'repetition', CAST(2 AS BIGINT),
       |    CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) FROM staged
       |  UNION ALL SELECT 'near_dedup', CAST(3 AS BIGINT),
       |    CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) FROM staged
       |  UNION ALL SELECT 'decontam', CAST(4 AS BIGINT),
       |    CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) FROM staged)
       |ORDER BY stage_idx""".stripMargin

  /** WHOLE-CORPUS DATA CARD — the one-row artifact a data lead actually
    * reads, composed from the existing readouts over SHARED frames:
    * corpus size (docs / langs / sources / chars / estimated tokens),
    * the scorecard's integer mean quality rolled up corpus-wide, funnel
    * survivorship (quality-gate and full-stack survivors from the SAME
    * [[stagedVerdicts]] frame as q_curation_funnel), near-dup exposure
    * (clusters and member docs from the memoized [[dupComponents]]), and
    * tokenizer fertility at the [[TextQueries.FertilityMerges]] prefix.
    * Every term is a partial-agg scan or a memo replay; the compose is
    * crossJoins of 1-row aggregates. */
  def corpusCard(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      sum(col("n_chars")).as("n_chars_total"),
      sum(expr("n_chars div 4")).as("est_tokens"),
      sum(round(TextAnalysis.qualityScore(col("text")) * 1e6, 0)
        .cast("long")).as("sum_qm"))
    val surv = stagedVerdicts(s, d).agg(
      sum(when(col("s1"), 1L).otherwise(0L)).as("n_keep_quality"),
      sum(when(col("s4"), 1L).otherwise(0L)).as("n_keep_final"))
    val dups = dupComponents(s, d).agg(
      countDistinct(col("component")).as("n_dup_clusters"),
      count(lit(1)).as("n_dup_docs"))
    val fert = TextQueries
      .tokenBpeMergesDocs(
        docs,
        graft.textanalysis.Bpe.MergesWordFull
          .take(TextQueries.FertilityMerges))
      .agg(sum("n_tokens").as("ft"), sum("n_subwords").as("fs"))
      .select(expr("(fs * 1000000) div ft").as("fertility_micros"))
    base.crossJoin(surv).crossJoin(dups).crossJoin(fert)
      .select(
        col("n_docs"), col("n_langs"), col("n_sources"),
        col("n_chars_total"), col("est_tokens"),
        expr("sum_qm div n_docs").as("mean_quality_micros"),
        col("n_keep_quality"), col("n_keep_final"),
        col("n_dup_clusters"), col("n_dup_docs"),
        col("fertility_micros"))
  }

  /** DuckDB oracle for [[corpusCard]]: the funnel's shared CTE chain
    * ([[funnelStagedCtesSql]]) plus the fertility encode CTEs and the
    * corpus-size/quality/dup rollups, composed in ONE statement. */
  def corpusCardOracle: String = {
    import graft.textanalysis.Bpe
    val (fctes, flast) = Bpe.oracleEncodeCtesSql(
      "fty", Bpe.MergesWordFull.take(TextQueries.FertilityMerges))
    val nSub = Bpe.oracleSubwordCountSql("enc")
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM edges
       |  UNION
       |  SELECT re.id, e.dst AS r FROM reach re JOIN edges e ON e.src = re.r),
       |cc AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
       |$gopherBatteryCtesSql,
       |$repetitionCtesSql,
       |$funnelStagedCtesSql,
       |ftok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '${TextQueries.BpePattern}')) AS tok
       |  FROM documents),
       |fty AS (SELECT DISTINCT tok FROM ftok),
       |$fctes
       |fcnt AS (SELECT tok, $nSub AS n_sub FROM $flast),
       |fert AS (
       |  SELECT (CAST(sum(n_sub) AS BIGINT) * 1000000) // count(*) AS fertility_micros
       |  FROM ftok JOIN fcnt USING (tok)),
       |base AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
       |    CAST(sum(n_chars // 4) AS BIGINT) AS est_tokens
       |  FROM documents),
       |qmean AS (
       |  SELECT CAST(sum(CAST(round(quality * 1000000, 0) AS BIGINT)) AS BIGINT)
       |    // count(*) AS mean_quality_micros FROM q),
       |dups AS (
       |  SELECT CAST(count(DISTINCT component) AS BIGINT) AS n_dup_clusters,
       |    CAST(count(*) AS BIGINT) AS n_dup_docs FROM cc),
       |srv AS (
       |  SELECT CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_quality,
       |    CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_final
       |  FROM staged)
       |SELECT n_docs, n_langs, n_sources, n_chars_total, est_tokens,
       |  CAST(mean_quality_micros AS BIGINT) AS mean_quality_micros,
       |  n_keep_quality, n_keep_final,
       |  n_dup_clusters, n_dup_docs,
       |  CAST(fertility_micros AS BIGINT) AS fertility_micros
       |FROM base, qmean, dups, srv, fert""".stripMargin
  }

  /** The battery rules [[filterAttribution]] reports on: the seven
    * Gopher/C4 flags plus the quality-blend threshold. */
  private[graft] val AttributionRules = Seq(
    "r_word_count", "r_mean_word_len", "r_symbol_ratio", "r_bullet",
    "r_ellipsis", "r_alpha", "r_stopword", "r_quality")

  /** Filter ATTRIBUTION over the curation battery — the observability
    * readout every production pipeline wants before toggling a rule: per
    * rule, how many documents fail it at all (`n_fail`) and how many fail
    * ONLY it (`n_unique_fail` — the documents that rule alone removes;
    * rules with high fail but zero unique-fail are redundant with the
    * rest of the battery, rules with high unique-fail carry real
    * selectivity). One corpus scan into a single 1-row aggregate (all
    * counts partial-agg sums of boolean integers), then a `stack` to one
    * row per rule — the per-rule frame never touches the corpus again. */
  def filterAttribution(s: SparkSession, d: String): DataFrame = {
    val flags = TextAnalysis.gopherFilters(
      documents(s, d), "doc_id", "text",
      extra = Seq((TextAnalysis.qualityScore(col("text")) >= 0.7).as("r_quality")))
    def failN(r: String) =
      sum(when(!col(r), 1L).otherwise(0L)).as(s"f_$r")
    def uniqueN(r: String) = {
      val othersPass = AttributionRules.filter(_ != r)
        .map(col(_)).reduce(_ && _)
      sum(when(!col(r) && othersPass, 1L).otherwise(0L)).as(s"u_$r")
    }
    val agg = flags.agg(
      count(lit(1)).as("n_docs"),
      (AttributionRules.map(failN) ++ AttributionRules.map(uniqueN)): _*)
    val stackArgs = AttributionRules
      .map(r => s"'$r', f_$r, u_$r").mkString(", ")
    agg.selectExpr(
        "n_docs",
        s"stack(${AttributionRules.size}, $stackArgs) AS (rule, n_fail, n_unique_fail)")
      .select("rule", "n_fail", "n_unique_fail", "n_docs")
      .orderBy("rule")
  }

  def filterAttributionOracle: String = {
    // The shared battery CTEs plus the quality flag; one SELECT per rule
    // over the flag frame, unioned.
    def others(r: String) = AttributionRules.filter(_ != r)
      .mkString(" AND ")
    val perRule = AttributionRules
      .map(r =>
        s"""SELECT '$r' AS rule,
           |  CAST(sum(CASE WHEN NOT $r THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
           |  CAST(sum(CASE WHEN NOT $r AND ${others(r)} THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_fail,
           |  CAST(count(*) AS BIGINT) AS n_docs
           |FROM rq""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH $gopherBatteryCtesSql,
       |rq AS (
       |  SELECT r.*, (q.quality >= 0.7) AS r_quality
       |  FROM r JOIN q ON r.doc_id = q.doc_id)
       |SELECT rule, n_fail, n_unique_fail, n_docs FROM (
       |$perRule
       |) ORDER BY rule""".stripMargin
  }

  /** DuckDB oracle of the streaming ingest ledger
    * ([[graft.streaming.StreamingOps.ingestLedger]] /
    * `q_stream_attribution`): per arriving doc (the
    * [[IncrementalMod]] residue), the quality-battery verdict (the
    * q_filter_attribution rule set) plus one flag per artifact gate —
    * exact fingerprint vs the corpus fp set, 3-gram contamination vs
    * the corpus's [[DecontamMod]] benchmark slice, MinHash band
    * candidates + exact-Jaccard verify, SimHash banded hamming, and
    * df-capped n-gram postings + exact-Jaccard verify — each rebuilt
    * from the same shared CTEs the individual gate oracles use. */
  def ingestLedgerOracle: String = {
    val M = IncrementalMod
    val width = 32 / SimhashBlocks
    val mask = (1L << width) - 1
    s"""WITH $gopherBatteryCtesSql,
       |rq AS (
       |  SELECT r.doc_id,
       |    (r.r_word_count AND r.r_mean_word_len AND r.r_symbol_ratio
       |      AND r.r_bullet AND r.r_ellipsis AND r.r_alpha AND r.r_stopword
       |      AND q.quality >= 0.7) AS pass_quality
       |  FROM r JOIN q ON r.doc_id = q.doc_id),
       |seenf AS (
       |  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
       |  FROM documents WHERE doc_id % $M <> 0),
       |exactf AS (
       |  SELECT DISTINCT b.doc_id FROM (
       |    SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
       |    FROM documents WHERE doc_id % $M = 0) b
       |  JOIN seenf USING (fingerprint)),
       |$shinglesCte,
       |bench AS (
       |  SELECT DISTINCT shingle FROM sh
       |  WHERE doc_id % $DecontamMod = 0 AND doc_id % $M <> 0),
       |contamf AS (
       |  SELECT DISTINCT doc_id FROM sh
       |  WHERE doc_id % $M = 0 AND shingle IN (SELECT shingle FROM bench)),
       |bsh10 AS (SELECT doc_id, shingle FROM sh WHERE doc_id % $M = 0),
       |csh10 AS (SELECT doc_id, shingle FROM sh WHERE doc_id % $M <> 0),
       |bsig10 AS (SELECT doc_id, $sigColsSql FROM bsh10 GROUP BY doc_id),
       |csig10 AS (SELECT doc_id, $sigColsSql FROM csh10 GROUP BY doc_id),
       |bband10 AS (
       |  ${bandSelectsSql("bsig10")}),
       |cband10 AS (
       |  ${bandSelectsSql("csig10")}),
       |mcand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bband10 a JOIN cband10 b ON a.band = b.band AND a.bh = b.bh),
       |msizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
       |minter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_inter
       |  FROM mcand c
       |  JOIN sh a ON a.doc_id = c.id_a
       |  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2),
       |ndf AS (
       |  SELECT DISTINCT i.id_a AS doc_id
       |  FROM minter i
       |  JOIN msizes sa ON sa.doc_id = i.id_a
       |  JOIN msizes sb ON sb.doc_id = i.id_b
       |  WHERE round(n_inter / (sa.set_size + sb.set_size - n_inter), 6) >= $MinhashThreshold),
       |$simhashCte,
       |sbnd AS (
       |  SELECT doc_id, simhash, b AS band, (simhash >> (b * $width)) & $mask AS bv
       |  FROM sim CROSS JOIN (SELECT unnest(range(0, $SimhashBlocks)) AS b)),
       |sduf AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM sbnd a JOIN sbnd b ON a.band = b.band AND a.bv = b.bv
       |  WHERE a.doc_id % $M = 0 AND b.doc_id % $M <> 0
       |    AND bit_count(xor(a.simhash, b.simhash)) <= $SimhashMaxHamming),
       |cpost AS (
       |  SELECT shingle, doc_id FROM csh10
       |  WHERE shingle IN (
       |    SELECT shingle FROM csh10 GROUP BY shingle HAVING count(*) <= $NgramDfCap)),
       |ncand AS (
       |  SELECT DISTINCT b.doc_id AS id_a, p.doc_id AS id_b
       |  FROM bsh10 b JOIN cpost p ON b.shingle = p.shingle),
       |ninter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_inter
       |  FROM ncand c
       |  JOIN sh a ON a.doc_id = c.id_a
       |  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2),
       |ngf AS (
       |  SELECT DISTINCT i.id_a AS doc_id
       |  FROM ninter i
       |  JOIN msizes sa ON sa.doc_id = i.id_a
       |  JOIN msizes sb ON sb.doc_id = i.id_b
       |  WHERE round(n_inter / (sa.set_size + sb.set_size - n_inter), 6) >= $JaccardThreshold)
       |SELECT d.doc_id,
       |  rq.pass_quality,
       |  (d.doc_id IN (SELECT doc_id FROM exactf)) AS dup_exact,
       |  (d.doc_id IN (SELECT doc_id FROM contamf)) AS contaminated,
       |  (d.doc_id IN (SELECT doc_id FROM ndf)) AS near_dup,
       |  (d.doc_id IN (SELECT doc_id FROM sduf)) AS simhash_dup,
       |  (d.doc_id IN (SELECT doc_id FROM ngf)) AS ngram_dup,
       |  (rq.pass_quality
       |    AND d.doc_id NOT IN (SELECT doc_id FROM exactf)
       |    AND d.doc_id NOT IN (SELECT doc_id FROM contamf)
       |    AND d.doc_id NOT IN (SELECT doc_id FROM ndf)
       |    AND d.doc_id NOT IN (SELECT doc_id FROM sduf)
       |    AND d.doc_id NOT IN (SELECT doc_id FROM ngf)) AS admitted
       |FROM documents d JOIN rq ON d.doc_id = rq.doc_id
       |WHERE d.doc_id % $M = 0
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Gram widths the declared repetition query runs (the operator
    * supports the full Gopher set; the query bounds its explode factor —
    * each n is one more pass over the token stream). */
  val RepTopNs = Seq(2, 3, 4)
  val RepDupNs = Seq(5, 10)

  /** Gopher repetition battery over the documents table
    * ([[graft.textanalysis.Repetition.repetitionFilters]]): duplicate-line
    * fractions plus top-2/3/4-gram and duplicate-5/10-gram coverage, all
    * exact-integer thresholds. */
  def repetitionFiltersQ(s: SparkSession, d: String): DataFrame =
    graft.textanalysis.Repetition
      .repetitionFilters(documents(s, d), "doc_id", "text", RepTopNs, RepDupNs)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** The repetition-battery CTE chain, ending in `f` (per-doc coalesced
    * counts) — shared by [[repetitionFiltersOracle]] and
    * [[curationFunnelOracle]]. */
  private def repetitionCtesSql: String = {
    val allNs = (RepTopNs ++ RepDupNs).distinct.sorted
    val gramUnion = allNs
      .map(n =>
        s"""  SELECT doc_id, $n AS n, i - 1 AS pos,
           |    CAST('0x' || substr(md5(array_to_string(wd[i : i + $n - 1], '_')), 1, 15) AS BIGINT) AS fp
           |  FROM (SELECT doc_id, wd, unnest(range(1, greatest(len(wd) - $n + 2, 1))) AS i FROM t)""".stripMargin)
      .mkString("\nUNION ALL\n")
    val dupIn = RepDupNs.mkString(", ")
    val topIn = RepTopNs.mkString(", ")
    val topPivot = RepTopNs
      .map(n => s"    max(CASE WHEN n = $n THEN top_cnt END) AS top${n}_cnt")
      .mkString(",\n")
    val dupPivot = RepDupNs
      .map(n => s"    max(CASE WHEN n = $n THEN dt END) AS dup${n}_tokens")
      .mkString(",\n")
    val fCols = (RepTopNs.map(n => s"top${n}_cnt") ++
      RepDupNs.map(n => s"dup${n}_tokens"))
      .map(c => s"  COALESCE($c, 0) AS $c").mkString(",\n")
    s"""t AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |    string_split(text, chr(10)) AS ln,
       |    string_split_regex(lower(text), '\\s+') AS wd
       |  FROM documents),
       |lc AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_lines,
       |    CAST(sum(CASE WHEN cnt >= 2 THEN cnt * length(line) ELSE 0 END) AS BIGINT) AS dup_line_chars
       |  FROM (
       |    SELECT doc_id, line, count(*) AS cnt
       |    FROM (SELECT doc_id, unnest(ln) AS line FROM t)
       |    GROUP BY doc_id, line)
       |  GROUP BY doc_id),
       |g AS (
       |$gramUnion),
       |gc AS (
       |  SELECT doc_id, n, pos, fp,
       |    count(*) OVER (PARTITION BY doc_id, n, fp) AS cnt
       |  FROM g),
       |top AS (
       |  SELECT doc_id,
       |$topPivot
       |  FROM (SELECT doc_id, n, CAST(max(cnt) AS BIGINT) AS top_cnt
       |        FROM gc WHERE n IN ($topIn) GROUP BY doc_id, n)
       |  GROUP BY doc_id),
       |isl AS (
       |  SELECT doc_id, n, island, min(pos) AS s, max(pos + n) AS e FROM (
       |    SELECT doc_id, n, pos,
       |      CAST(sum(opens) OVER (PARTITION BY doc_id, n ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
       |    FROM (
       |      SELECT doc_id, n, pos,
       |        CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS opens
       |      FROM (
       |        SELECT doc_id, n, pos,
       |          max(pos + n) OVER (PARTITION BY doc_id, n ORDER BY pos
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |        FROM gc WHERE n IN ($dupIn) AND cnt >= 2)))
       |  GROUP BY doc_id, n, island),
       |dup AS (
       |  SELECT doc_id,
       |$dupPivot
       |  FROM (SELECT doc_id, n, CAST(sum(e - s) AS BIGINT) AS dt
       |        FROM isl GROUP BY doc_id, n)
       |  GROUP BY doc_id),
       |f AS (
       |  SELECT t.doc_id AS doc_id, t.n_chars, CAST(len(t.ln) AS BIGINT) AS n_lines,
       |  CAST(len(t.wd) AS BIGINT) AS n_words,
       |  COALESCE(lc.n_dup_lines, 0) AS n_dup_lines,
       |  COALESCE(lc.dup_line_chars, 0) AS dup_line_chars,
       |$fCols
       |  FROM t
       |  LEFT JOIN lc ON t.doc_id = lc.doc_id
       |  LEFT JOIN top ON t.doc_id = top.doc_id
       |  LEFT JOIN dup ON t.doc_id = dup.doc_id)""".stripMargin
  }

  /** `pass_repetition` over the columns of [[repetitionCtesSql]]'s `f`
    * frame — one definition for both consuming oracles. */
  private def repetitionPassSql: String = {
    import graft.textanalysis.Repetition._
    (Seq(
      s"n_dup_lines * 100 <= n_lines * $DupLineMaxPct",
      s"dup_line_chars * 100 <= n_chars * $DupLineCharMaxPct") ++
      RepTopNs.map(n =>
        s"top${n}_cnt * $n * 100 <= n_words * ${TopGramMaxPct(n)}") ++
      RepDupNs.map(n =>
        s"dup${n}_tokens * 100 <= n_words * ${DupGramMaxPct(n)}"))
      .map(e => s"($e)").mkString(" AND ")
  }

  def repetitionFiltersOracle: String = {
    import graft.textanalysis.Repetition._
    val topRules = RepTopNs
      .map(n =>
        s"  (top${n}_cnt * $n * 100 <= n_words * ${TopGramMaxPct(n)}) AS r_top$n")
      .mkString(",\n")
    val dupRules = RepDupNs
      .map(n =>
        s"  (dup${n}_tokens * 100 <= n_words * ${DupGramMaxPct(n)}) AS r_dup$n")
      .mkString(",\n")
    s"""WITH $repetitionCtesSql
       |SELECT doc_id, n_chars, n_lines, n_words, n_dup_lines, dup_line_chars,
       |  ${(RepTopNs.map(n => s"top${n}_cnt") ++ RepDupNs.map(n => s"dup${n}_tokens")).mkString(", ")},
       |  (n_dup_lines * 100 <= n_lines * $DupLineMaxPct) AS r_dup_line,
       |  (dup_line_chars * 100 <= n_chars * $DupLineCharMaxPct) AS r_dup_line_char,
       |$topRules,
       |$dupRules,
       |  ($repetitionPassSql) AS pass_repetition
       |FROM f
       |ORDER BY doc_id""".stripMargin
  }

  val PqM = 4
  val PqIters = 2
  val EmbDims = 64

  /** Product-quantized ANN ([[graft.similarity.Ivf.pqTopK]]): 4 subspaces
    * of 16 dims, 8 codes each trained by the exact integer Lloyd's from
    * the fixed seeds, asymmetric integer distance tables — the
    * compressed-scan scale path, hash-checked end to end (training,
    * encoding and scoring are all integer-exact). */
  def ivfPq(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    graft.similarity.Ivf
      .pqTopK(emb, emb.filter(col("vec_id") < NumQueries),
        IvfCentroidIds, EmbDims, PqM, PqIters, TopK)
      .orderBy("q_vec_id", "rnk")
  }

  /** DuckDB twin of [[ivfPq]] / [[ivfPqIncremental]]: per-subspace Lloyd
    * CTE chains (sliced integer-micros vectors) over the (possibly
    * filtered) corpus, an optional frozen-codebook batch assignment per
    * subspace, a unioned codebook + code table, the |Q|·m·K ADC distance
    * table (queries always from the FULL table), and the summed-lookup
    * ranking. */
  private def pqOracleSql(
      corpusWhere: String, batchWhere: Option[String],
      probeNProbe: Option[Int] = None,
      // Replaces the default ADC top-k tail with a caller-supplied final
      // statement over the training/encode CTEs (`encoded` is defined
      // before it runs) — the commit face reads the postings themselves,
      // not a search over them.
      finalSelect: Option[String] = None,
      // Subspaces whose chain trains on the SURVIVOR set (`retrainWhere`)
      // instead of the corpus, with NO frozen-codebook batch encode —
      // the subspace-scoped partial-refresh face
      // ([[graft.similarity.PqStore.refreshSubspaces]]). Empty = the
      // classic all-corpus-trained generator, byte-identical output.
      retrainSubs: Set[Int] = Set.empty,
      retrainWhere: String = ""): String = {
    val ids = IvfCentroidIds.mkString(", ")
    val subDim = EmbDims / PqM
    val dist =
      "list_sum(list_transform(range(1, len(q.qe) + 1), i -> (q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i])))"
    val sb = new StringBuilder
    sb.append(
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
         |  FROM embeddings$corpusWhere),
         |qall AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
         |  FROM embeddings)""".stripMargin)
    batchWhere.foreach { bw =>
      sb.append(
        s""",
           |bq AS (
           |  SELECT vec_id,
           |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
           |  FROM embeddings$bw)""".stripMargin)
    }
    if (retrainSubs.nonEmpty) {
      // The survivor training set of the RETRAINED subspaces' chains.
      sb.append(
        s""",
           |sq AS (
           |  SELECT vec_id,
           |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
           |  FROM embeddings$retrainWhere)""".stripMargin)
    }
    for (s <- 0 until PqM) {
      // A retrained subspace's whole chain — seeds, Lloyd iterations,
      // final assignment — runs over the survivor set; a kept one over
      // the corpus exactly as before.
      val trainSrc = if (retrainSubs(s)) "sq" else "q"
      sb.append(
        s""",
           |p${s}q AS (
           |  SELECT vec_id, list_slice(qe, ${s * subDim + 1}, ${(s + 1) * subDim}) AS qe
           |  FROM $trainSrc),
           |p${s}c0 AS (
           |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code, qe AS ce
           |  FROM p${s}q WHERE vec_id IN ($ids))""".stripMargin)
      for (i <- 1 to PqIters) {
        sb.append(
          s""",
             |p${s}a$i AS (
             |  SELECT vec_id, qe, code FROM (
             |    SELECT q.vec_id, q.qe, c.code,
             |      row_number() OVER (PARTITION BY q.vec_id
             |        ORDER BY $dist ASC, c.code ASC) AS rn
             |    FROM p${s}q q, p${s}c${i - 1} c) WHERE rn = 1),
             |p${s}u$i AS (
             |  SELECT code, list(CAST(s // n AS BIGINT) ORDER BY pos) AS ce FROM (
             |    SELECT code, pos, sum(v) AS s, count(*) AS n FROM (
             |      SELECT code, unnest(range(1, len(qe) + 1)) AS pos, unnest(qe) AS v
             |      FROM p${s}a$i)
             |    GROUP BY code, pos)
             |  GROUP BY code),
             |p${s}c$i AS (
             |  SELECT p.code, COALESCE(u.ce, p.ce) AS ce
             |  FROM p${s}c${i - 1} p LEFT JOIN p${s}u$i u ON p.code = u.code)""".stripMargin)
      }
    }
    // Batch vectors encode against p{s}c{iters-1} — the codebook the
    // FINAL training assignment ranked with (the `centPrev` convention
    // of the Spark plan), never the post-update one.
    if (batchWhere.isDefined) {
      // Retrained subspaces never batch-encode — their survivor-trained
      // chain already covers every vector.
      for (s <- 0 until PqM if !retrainSubs(s)) {
        sb.append(
          s""",
             |p${s}bq AS (
             |  SELECT vec_id, list_slice(qe, ${s * subDim + 1}, ${(s + 1) * subDim}) AS qe
             |  FROM bq),
             |p${s}b AS (
             |  SELECT vec_id, code FROM (
             |    SELECT q.vec_id, c.code,
             |      row_number() OVER (PARTITION BY q.vec_id
             |        ORDER BY $dist ASC, c.code ASC) AS rn
             |    FROM p${s}bq q, p${s}c${PqIters - 1} c) WHERE rn = 1)""".stripMargin)
      }
    }
    val encUnion = ((0 until PqM)
      .map(s => s"SELECT $s AS sub, vec_id, code FROM p${s}a$PqIters") ++
      (if (batchWhere.isDefined)
        (0 until PqM).filterNot(retrainSubs)
          .map(s => s"SELECT $s AS sub, vec_id, code FROM p${s}b")
      else Nil))
      .mkString(" UNION ALL ")
    finalSelect.foreach { fs =>
      sb.append(s""",
         |encoded AS ($encUnion)
         |$fs""".stripMargin)
      return sb.toString
    }
    val cbUnion = (0 until PqM)
      .map(s => s"SELECT $s AS sub, code, ce FROM p${s}c$PqIters")
      .mkString(" UNION ALL ")
    // Coarse-quantizer chain + probe restriction (IVF-PQ composition):
    // trains the full-dim integer Lloyd cells over the same corpus, the
    // queries probe nProbe cells, and scoring is restricted to the
    // candidate (query, vector) pairs of the probed inverted lists.
    probeNProbe.foreach { _ =>
      sb.append(
        s""",
           |k0 AS (
           |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, qe AS ce
           |  FROM q WHERE vec_id IN ($ids))""".stripMargin)
      for (i <- 1 to PqIters) {
        sb.append(
          s""",
             |ka$i AS (
             |  SELECT vec_id, qe, cell FROM (
             |    SELECT q.vec_id, q.qe, c.cell,
             |      row_number() OVER (PARTITION BY q.vec_id
             |        ORDER BY $dist ASC, c.cell ASC) AS rn
             |    FROM q, k${i - 1} c) WHERE rn = 1),
             |ku$i AS (
             |  SELECT cell, list(CAST(s // n AS BIGINT) ORDER BY pos) AS ce FROM (
             |    SELECT cell, pos, sum(v) AS s, count(*) AS n FROM (
             |      SELECT cell, unnest(range(1, len(qe) + 1)) AS pos, unnest(qe) AS v
             |      FROM ka$i)
             |    GROUP BY cell, pos)
             |  GROUP BY cell),
             |k$i AS (
             |  SELECT p.cell, COALESCE(u.ce, p.ce) AS ce
             |  FROM k${i - 1} p LEFT JOIN ku$i u ON p.cell = u.cell)""".stripMargin)
      }
    }
    val probeCtes = probeNProbe
      .map(np =>
        s""",
           |cpr AS (
           |  SELECT q_vec_id, cell FROM (
           |    SELECT q.vec_id AS q_vec_id, c.cell,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY $dist ASC, c.cell ASC) AS rn
           |    FROM qall q, k$PqIters c WHERE q.vec_id < $NumQueries)
           |  WHERE rn <= $np),
           |cand AS (
           |  SELECT p.q_vec_id, a.vec_id
           |  FROM ka$PqIters a JOIN cpr p
           |    ON a.cell = p.cell AND a.vec_id <> p.q_vec_id)""".stripMargin)
      .getOrElse("")
    val scoredSql =
      if (probeNProbe.isDefined)
        s"""scored AS (
           |  SELECT cd.q_vec_id, e.vec_id, CAST(sum(t.d) AS BIGINT) AS adist
           |  FROM cand cd
           |  JOIN encoded e ON cd.vec_id = e.vec_id
           |  JOIN dtab t ON t.q_vec_id = cd.q_vec_id
           |    AND e.sub = t.sub AND e.code = t.code
           |  GROUP BY cd.q_vec_id, e.vec_id)""".stripMargin
      else
        s"""scored AS (
           |  SELECT t.q_vec_id, e.vec_id, CAST(sum(t.d) AS BIGINT) AS adist
           |  FROM encoded e JOIN dtab t
           |    ON e.sub = t.sub AND e.code = t.code AND e.vec_id <> t.q_vec_id
           |  GROUP BY t.q_vec_id, e.vec_id)""".stripMargin
    sb.append(
      s""",
         |encoded AS ($encUnion),
         |cb AS ($cbUnion)$probeCtes,
         |dtab AS (
         |  SELECT q_vec_id, sub, code,
         |    list_sum(list_transform(range(1, $subDim + 1), i -> (sq[i] - ce[i]) * (sq[i] - ce[i]))) AS d
         |  FROM (
         |    SELECT q.vec_id AS q_vec_id, cb.sub AS sub, cb.code AS code,
         |      list_slice(q.qe, cb.sub * $subDim + 1, cb.sub * $subDim + $subDim) AS sq,
         |      cb.ce AS ce
         |    FROM qall q, cb WHERE q.vec_id < $NumQueries)),
         |$scoredSql
         |SELECT q_vec_id, CAST(rnk AS BIGINT) AS rnk, vec_id, adist FROM (
         |  SELECT q_vec_id, vec_id, adist,
         |    row_number() OVER (PARTITION BY q_vec_id ORDER BY adist ASC, vec_id ASC) AS rnk
         |  FROM scored) WHERE rnk <= $TopK
         |ORDER BY q_vec_id, rnk""".stripMargin)
    sb.toString
  }

  def ivfPqOracle: String = pqOracleSql("", None)

  /** DuckDB twin of [[graft.similarity.Ivf.ivfPqResidualTopK]] — the
    * residual IVFADC: coarse chain → fresh frozen-centroid assignment →
    * integer residuals → per-subspace Lloyd chains ON the residuals →
    * per-(query, probed-cell) residual ADC tables. Both trainings and
    * the fresh assignment are hash-checked end to end. */
  private def pqResidualOracleSql: String = {
    val ids = IvfCentroidIds.mkString(", ")
    val subDim = EmbDims / PqM
    val dist =
      "list_sum(list_transform(range(1, len(q.qe) + 1), i -> (q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i])))"
    val sb = new StringBuilder
    sb.append(
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
         |  FROM embeddings),
         |qall AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
         |  FROM embeddings),
         |k0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, qe AS ce
         |  FROM q WHERE vec_id IN ($ids))""".stripMargin)
    for (i <- 1 to PqIters) {
      sb.append(
        s""",
           |ka$i AS (
           |  SELECT vec_id, qe, cell FROM (
           |    SELECT q.vec_id, q.qe, c.cell,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY $dist ASC, c.cell ASC) AS rn
           |    FROM q, k${i - 1} c) WHERE rn = 1),
           |ku$i AS (
           |  SELECT cell, list(CAST(s // n AS BIGINT) ORDER BY pos) AS ce FROM (
           |    SELECT cell, pos, sum(v) AS s, count(*) AS n FROM (
           |      SELECT cell, unnest(range(1, len(qe) + 1)) AS pos, unnest(qe) AS v
           |      FROM ka$i)
           |    GROUP BY cell, pos)
           |  GROUP BY cell),
           |k$i AS (
           |  SELECT p.cell, COALESCE(u.ce, p.ce) AS ce
           |  FROM k${i - 1} p LEFT JOIN ku$i u ON p.cell = u.cell)""".stripMargin)
    }
    sb.append(
      s""",
         |kasg AS (
         |  SELECT vec_id, qe, cell FROM (
         |    SELECT q.vec_id, q.qe, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY $dist ASC, c.cell ASC) AS rn
         |    FROM q, k$PqIters c) WHERE rn = 1),
         |rq AS (
         |  SELECT a.vec_id,
         |    list_transform(range(1, len(a.qe) + 1), i -> a.qe[i] - c.ce[i]) AS qe
         |  FROM kasg a JOIN k$PqIters c ON a.cell = c.cell)""".stripMargin)
    for (s <- 0 until PqM) {
      sb.append(
        s""",
           |p${s}q AS (
           |  SELECT vec_id, list_slice(qe, ${s * subDim + 1}, ${(s + 1) * subDim}) AS qe
           |  FROM rq),
           |p${s}c0 AS (
           |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code, qe AS ce
           |  FROM p${s}q WHERE vec_id IN ($ids))""".stripMargin)
      for (i <- 1 to PqIters) {
        sb.append(
          s""",
             |p${s}a$i AS (
             |  SELECT vec_id, qe, code FROM (
             |    SELECT q.vec_id, q.qe, c.code,
             |      row_number() OVER (PARTITION BY q.vec_id
             |        ORDER BY $dist ASC, c.code ASC) AS rn
             |    FROM p${s}q q, p${s}c${i - 1} c) WHERE rn = 1),
             |p${s}u$i AS (
             |  SELECT code, list(CAST(s // n AS BIGINT) ORDER BY pos) AS ce FROM (
             |    SELECT code, pos, sum(v) AS s, count(*) AS n FROM (
             |      SELECT code, unnest(range(1, len(qe) + 1)) AS pos, unnest(qe) AS v
             |      FROM p${s}a$i)
             |    GROUP BY code, pos)
             |  GROUP BY code),
             |p${s}c$i AS (
             |  SELECT p.code, COALESCE(u.ce, p.ce) AS ce
             |  FROM p${s}c${i - 1} p LEFT JOIN p${s}u$i u ON p.code = u.code)""".stripMargin)
      }
    }
    val encUnion = (0 until PqM)
      .map(s => s"SELECT $s AS sub, vec_id, code FROM p${s}a$PqIters")
      .mkString(" UNION ALL ")
    val cbUnion = (0 until PqM)
      .map(s => s"SELECT $s AS sub, code, ce FROM p${s}c$PqIters")
      .mkString(" UNION ALL ")
    sb.append(
      s""",
         |encoded AS ($encUnion),
         |cb AS ($cbUnion),
         |cpr AS (
         |  SELECT q_vec_id, cell FROM (
         |    SELECT q.vec_id AS q_vec_id, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY $dist ASC, c.cell ASC) AS rn
         |    FROM qall q, k$PqIters c WHERE q.vec_id < $NumQueries)
         |  WHERE rn <= $IvfNProbe),
         |cand AS (
         |  SELECT p.q_vec_id, a.vec_id, p.cell
         |  FROM kasg a JOIN cpr p
         |    ON a.cell = p.cell AND a.vec_id <> p.q_vec_id),
         |qres AS (
         |  SELECT p.q_vec_id, p.cell,
         |    list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] - c.ce[i]) AS rqv
         |  FROM cpr p
         |  JOIN k$PqIters c ON p.cell = c.cell
         |  JOIN qall q ON q.vec_id = p.q_vec_id),
         |dtab AS (
         |  SELECT q_vec_id, cell, sub, code,
         |    list_sum(list_transform(range(1, $subDim + 1), i -> (sq[i] - ce[i]) * (sq[i] - ce[i]))) AS d
         |  FROM (
         |    SELECT r.q_vec_id, r.cell, cb.sub AS sub, cb.code AS code,
         |      list_slice(r.rqv, cb.sub * $subDim + 1, cb.sub * $subDim + $subDim) AS sq,
         |      cb.ce AS ce
         |    FROM qres r, cb)),
         |scored AS (
         |  SELECT cd.q_vec_id, e.vec_id, CAST(sum(t.d) AS BIGINT) AS adist
         |  FROM cand cd
         |  JOIN encoded e ON cd.vec_id = e.vec_id
         |  JOIN dtab t ON t.q_vec_id = cd.q_vec_id AND t.cell = cd.cell
         |    AND e.sub = t.sub AND e.code = t.code
         |  GROUP BY cd.q_vec_id, e.vec_id)
         |SELECT q_vec_id, CAST(rnk AS BIGINT) AS rnk, vec_id, adist FROM (
         |  SELECT q_vec_id, vec_id, adist,
         |    row_number() OVER (PARTITION BY q_vec_id ORDER BY adist ASC, vec_id ASC) AS rnk
         |  FROM scored) WHERE rnk <= $TopK
         |ORDER BY q_vec_id, rnk""".stripMargin)
    sb.toString
  }

  /** Residual IVFADC ([[graft.similarity.Ivf.ivfPqResidualTopK]]): PQ
    * codes quantize `vec − coarse centroid`; per-(query, cell) residual
    * ADC tables score only the probed inverted lists. */
  def ivfPqResidual(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    graft.similarity.Ivf
      .ivfPqResidualTopK(emb, emb.filter(col("vec_id") < NumQueries),
        IvfCentroidIds, IvfCentroidIds, EmbDims, PqM, PqIters, IvfNProbe,
        TopK)
      .orderBy("q_vec_id", "rnk")
  }

  def ivfPqResidualOracle: String = pqResidualOracleSql

  /** TRUE IVF-PQ ([[graft.similarity.Ivf.ivfPqProbeTopK]]): coarse
    * trained cells restrict the ADC scan to nProbe inverted lists per
    * query — the billion-vector composition, hash-checked end to end
    * through BOTH trainings. */
  def ivfPqProbe(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    graft.similarity.Ivf
      .ivfPqProbeTopK(emb, emb.filter(col("vec_id") < NumQueries),
        IvfCentroidIds, IvfCentroidIds, EmbDims, PqM, PqIters, IvfNProbe,
        TopK)
      .orderBy("q_vec_id", "rnk")
  }

  def ivfPqProbeOracle: String = pqOracleSql("", None, Some(IvfNProbe))

  /** Incremental PQ ([[graft.similarity.Ivf.pqTopKIncremental]]): the
    * vec_id % 9 == 8 batch encoded against codebooks trained on
    * everything else (same residue split as [[semanticDedupIncrementalQ]]
    * — all centroid seeds stay corpus-side), searched together. */
  def ivfPqIncremental(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    graft.similarity.Ivf
      .pqTopKIncremental(
        emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue),
        emb.filter(col("vec_id") % SemIncMod === SemIncResidue),
        emb.filter(col("vec_id") < NumQueries),
        IvfCentroidIds, EmbDims, PqM, PqIters, TopK)
      .orderBy("q_vec_id", "rnk")
  }

  def ivfPqIncrementalOracle: String = pqOracleSql(
    s" WHERE vec_id % $SemIncMod <> $SemIncResidue",
    Some(s" WHERE vec_id % $SemIncMod = $SemIncResidue"))

  /** COMMIT face of the ANN index
    * ([[graft.similarity.Ivf.commitPqCodes]]): the vec_id % 9 == 8
    * batch (same residue split as the incremental search — all codebook
    * seeds stay corpus-side) encodes against the FROZEN deploy-time
    * codebooks ([[graft.similarity.Ivf.pqArtifacts]]) and folds into
    * the stored code postings as a bare union under an id-disjointness
    * guard. The output IS the committed posting table — the artifact
    * every ADC search scans — so the oracle recomputes training, both
    * encodes and the fold end-to-end. Completes the ANN matrix row:
    * build (q_ivf_pq), incremental search (q_incremental_pq), committed
    * artifact (this), measured retrain trigger (q_ann_recall) and
    * geometric trigger (q_cell_drift). */
  def indexCommit(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val (cb, codes) = graft.similarity.Ivf.pqArtifacts(
      emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue),
      IvfCentroidIds, EmbDims, PqM, PqIters)
    graft.similarity.Ivf
      .commitPqCodes(
        codes, cb,
        emb.filter(col("vec_id") % SemIncMod === SemIncResidue),
        EmbDims, PqM)
      .orderBy("vec_id", "sub")
  }

  def indexCommitOracle: String = pqOracleSql(
    s" WHERE vec_id % $SemIncMod <> $SemIncResidue",
    Some(s" WHERE vec_id % $SemIncMod = $SemIncResidue"),
    finalSelect =
      Some("SELECT vec_id, sub, code FROM encoded ORDER BY vec_id, sub"))

  /** ANN INDEX RETRACTION ([[graft.similarity.Ivf.retractPqCodes]]) —
    * the takedown inverse of [[indexCommit]]: the committed posting
    * table (codebooks trained on the vec_id % [[SemIncMod]] ≠
    * [[SemIncResidue]] corpus, the residue batch folded in under the
    * frozen codebooks) has its vec_id % [[RetractMod]] ==
    * [[RetractResidue]] slice retracted. The output IS the retracted
    * posting table — every code row an ADC search could still scan —
    * so the oracle recomputes training, both encodes and the fold
    * end-to-end and then drops the slice, pinning that deletion is
    * EXACT row-for-row (per-vector frozen-codebook encoding means no
    * other vector's rows move). The codebooks' trained state persists
    * by design: refresh is the retrain decision, triggered by
    * q_cell_drift / q_ann_recall, exactly as for the commit face. */
  def indexRetract(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val (cb, codes) = graft.similarity.Ivf.pqArtifacts(
      emb.filter(col("vec_id") % SemIncMod =!= SemIncResidue),
      IvfCentroidIds, EmbDims, PqM, PqIters)
    val committed = graft.similarity.Ivf.commitPqCodes(
      codes, cb,
      emb.filter(col("vec_id") % SemIncMod === SemIncResidue),
      EmbDims, PqM)
    graft.similarity.Ivf
      .retractPqCodes(
        committed,
        emb.filter(col("vec_id") % RetractMod === RetractResidue)
          .select("vec_id"))
      .orderBy("vec_id", "sub")
  }

  def indexRetractOracle: String = pqOracleSql(
    s" WHERE vec_id % $SemIncMod <> $SemIncResidue",
    Some(s" WHERE vec_id % $SemIncMod = $SemIncResidue"),
    finalSelect = Some(
      s"SELECT vec_id, sub, code FROM encoded " +
        s"WHERE vec_id % $RetractMod <> $RetractResidue " +
        "ORDER BY vec_id, sub"))

  /** Oracle of the REFRESHED index ([[graft.similarity.PqStore.refresh]]
    * retraining on the full final corpus): training, assignment and
    * codes recomputed end-to-end over ALL embeddings — no corpus/batch
    * split, because after the retrain every stored vector is a
    * first-class training point. The refreshed store hash-matching this
    * pins retrain-and-swap == from-scratch cross-engine. */
  def indexRefreshOracle: String = pqOracleSql(
    "", None,
    finalSelect =
      Some("SELECT vec_id, sub, code FROM encoded ORDER BY vec_id, sub"))

  /** The subspaces q_stream_index_refresh_subs retrains — the set a
    * per-`sub` distortion monitor (q_pq_distortion) would flag. */
  val PqRefreshSubs: Seq[Int] = Seq(1, 3)

  /** Oracle of the SUBSPACE-SCOPED partially-refreshed index
    * ([[graft.similarity.PqStore.refreshSubspaces]]): the KEPT
    * subspaces (0, 2) recompute the classic chain — corpus-trained
    * codebooks, corpus codes, frozen-codebook batch encode — while the
    * RETRAINED subspaces (1, 3) recompute a survivor-trained chain
    * over the full final table with no batch encode. Hash-matching the
    * store pins BOTH halves cross-engine: the carry is bit-exact and
    * the partial retrain equals a from-scratch survivor build. */
  def indexRefreshSubsOracle: String = pqOracleSql(
    s" WHERE vec_id % $SemIncMod <> $SemIncResidue",
    Some(s" WHERE vec_id % $SemIncMod = $SemIncResidue"),
    finalSelect =
      Some("SELECT vec_id, sub, code FROM encoded ORDER BY vec_id, sub"),
    retrainSubs = PqRefreshSubs.toSet,
    retrainWhere = "")

  /** PQ QUANTIZATION-DISTORTION monitor
    * ([[graft.similarity.Ivf.pqDistortion]]) over the deployed index
    * ([[graft.similarity.Ivf.pqArtifacts]] on the full corpus): per
    * subspace, the exact integer squared error (micros²) between every
    * stored code's codebook reconstruction and the vector it encodes —
    * the quantizer-MSE leg of the index-health triad next to
    * q_ann_recall (retrieval quality) and q_cell_drift (geometric
    * drift). The reconstruction uses the PRE-final-iteration codebooks
    * — the quantizer the stored assignment actually ranked against
    * (the `centPrev` convention every frozen-codebook face shares) —
    * so the measured error is the error the ADC search actually
    * incurs. */
  def pqDistortionQ(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val (cb, codes) = graft.similarity.Ivf.pqArtifacts(
      emb, IvfCentroidIds, EmbDims, PqM, PqIters)
    graft.similarity.Ivf
      .pqDistortion(emb, cb, codes, EmbDims, PqM)
      .orderBy("sub")
  }

  def pqDistortionOracle: String = {
    val subDim = EmbDims / PqM
    val recon = (0 until PqM)
      .map(s =>
        s"SELECT $s AS sub, a.vec_id, a.qe, c.ce FROM p${s}a$PqIters a " +
          s"JOIN p${s}c${PqIters - 1} c ON a.code = c.code")
      .mkString(" UNION ALL ")
    pqOracleSql(
      "", None,
      finalSelect = Some(
        s""",
           |recon AS ($recon),
           |derr AS (
           |  SELECT sub, vec_id,
           |    list_sum(list_transform(range(1, $subDim + 1),
           |      i -> (qe[i] - ce[i]) * (qe[i] - ce[i]))) AS d
           |  FROM recon)
           |SELECT CAST(sub AS INTEGER) AS sub, count(*) AS n_vecs,
           |  CAST(sum(d) AS BIGINT) AS sum_sqerr,
           |  CAST(max(d) AS BIGINT) AS max_sqerr
           |FROM derr GROUP BY sub ORDER BY sub""".stripMargin))
  }

  val HardNegNProbe = 2

  /** CORPUS-SCALE hard-negative mining ([[graft.similarity.Ivf.hardNegatives]]):
    * EVERY embedding is an anchor (|Q| = |C| — the regime where the
    * broadcast-NLJ [[hardNegatives]] cannot scale); candidates come only
    * from the anchor's [[HardNegNProbe]] nearest trained IVF cells, via a
    * cell-keyed join of two corpus-sized frames. Training is the exact
    * integer Lloyd's from the fixed seeds, so the whole pass is
    * hash-checkable end to end. */
  def hardNegativesIvf(s: SparkSession, d: String): DataFrame =
    graft.similarity.Ivf
      .hardNegatives(embeddings(s, d), IvfCentroidIds, KmeansIters,
        HardNegNProbe, TopK)
      .orderBy("q_vec_id", "rnk")

  /** DuckDB twin: the kmeans-train CTE chain composed with all-anchor
    * probing, cross-label cell-blocked scoring and per-anchor ranking. */
  def hardNegativesIvfOracle: String = {
    val ids = IvfCentroidIds.mkString(", ")
    val dist =
      "list_sum(list_transform(range(1, len(q.qe) + 1), i -> (q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i])))"
    val sb = new StringBuilder
    sb.append(
      s"""WITH q AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, qe AS ce
         |  FROM q WHERE vec_id IN ($ids))""".stripMargin)
    for (i <- 1 to KmeansIters) {
      sb.append(
        s""",
           |a$i AS (
           |  SELECT vec_id, qe, cell FROM (
           |    SELECT q.vec_id, q.qe, c.cell,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY $dist ASC, c.cell ASC) AS rn
           |    FROM q, c${i - 1} c) WHERE rn = 1),
           |u$i AS (
           |  SELECT cell, list(CAST(s // n AS BIGINT) ORDER BY pos) AS ce FROM (
           |    SELECT cell, pos, sum(v) AS s, count(*) AS n FROM (
           |      SELECT cell, unnest(range(1, len(qe) + 1)) AS pos, unnest(qe) AS v
           |      FROM a$i)
           |    GROUP BY cell, pos)
           |  GROUP BY cell),
           |c$i AS (
           |  SELECT p.cell, COALESCE(u.ce, p.ce) AS ce
           |  FROM c${i - 1} p LEFT JOIN u$i u ON p.cell = u.cell)""".stripMargin)
    }
    sb.append(
      s""",
         |asg AS (
         |  SELECT a.vec_id, a.cell, q.emb, q.label,
         |    sqrt(list_dot_product(q.emb, q.emb)) AS nrm
         |  FROM a$KmeansIters a JOIN q ON a.vec_id = q.vec_id),
         |probes AS (
         |  SELECT q_vec_id, q_label, q_emb, cell,
         |    sqrt(list_dot_product(q_emb, q_emb)) AS q_nrm FROM (
         |    SELECT q.vec_id AS q_vec_id, q.label AS q_label, q.emb AS q_emb, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY $dist ASC, c.cell ASC) AS rn
         |    FROM q, c$KmeansIters c)
         |  WHERE rn <= $HardNegNProbe),
         |scored AS (
         |  SELECT p.q_vec_id, s.vec_id, s.label,
         |    round(list_dot_product(s.emb, p.q_emb) / (s.nrm * p.q_nrm), 6) AS score
         |  FROM asg s JOIN probes p ON s.cell = p.cell AND s.label <> p.q_label)
         |SELECT q_vec_id, CAST(rnk AS BIGINT) AS rnk, vec_id, label, score FROM (
         |  SELECT q_vec_id, vec_id, label, score,
         |    row_number() OVER (PARTITION BY q_vec_id ORDER BY score DESC, vec_id ASC) AS rnk
         |  FROM scored) WHERE rnk <= $TopK
         |ORDER BY q_vec_id, rnk""".stripMargin)
    sb.toString
  }

  /** Contrastive triplets ([[graft.similarity.Ivf.contrastiveTriplets]]):
    * per corpus anchor, the nearest same-label positive and the
    * [[TopK]] nearest cross-label negatives from its [[HardNegNProbe]]
    * probed trained cells — the emitted training artifact that the
    * mining pass exists for, one heap pass over (anchor, same-label?). */
  def contrastiveTriplets(s: SparkSession, d: String): DataFrame =
    graft.similarity.Ivf
      .contrastiveTriplets(embeddings(s, d), IvfCentroidIds, KmeansIters,
        HardNegNProbe, TopK)
      .orderBy("q_vec_id", "role", "rnk")

  /** DuckDB twin: the hard-negatives chain without the label filter,
    * ranked per (anchor, same-label?) with the pos side cut at 1. */
  def contrastiveTripletsOracle: String = {
    val ids = IvfCentroidIds.mkString(", ")
    val dist =
      "list_sum(list_transform(range(1, len(q.qe) + 1), i -> (q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i])))"
    val sb = new StringBuilder
    sb.append(
      s"""WITH q AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, qe AS ce
         |  FROM q WHERE vec_id IN ($ids))""".stripMargin)
    for (i <- 1 to KmeansIters) {
      sb.append(
        s""",
           |a$i AS (
           |  SELECT vec_id, qe, cell FROM (
           |    SELECT q.vec_id, q.qe, c.cell,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY $dist ASC, c.cell ASC) AS rn
           |    FROM q, c${i - 1} c) WHERE rn = 1),
           |u$i AS (
           |  SELECT cell, list(CAST(s // n AS BIGINT) ORDER BY pos) AS ce FROM (
           |    SELECT cell, pos, sum(v) AS s, count(*) AS n FROM (
           |      SELECT cell, unnest(range(1, len(qe) + 1)) AS pos, unnest(qe) AS v
           |      FROM a$i)
           |    GROUP BY cell, pos)
           |  GROUP BY cell),
           |c$i AS (
           |  SELECT p.cell, COALESCE(u.ce, p.ce) AS ce
           |  FROM c${i - 1} p LEFT JOIN u$i u ON p.cell = u.cell)""".stripMargin)
    }
    sb.append(
      s""",
         |asg AS (
         |  SELECT a.vec_id, a.cell, q.emb, q.label,
         |    sqrt(list_dot_product(q.emb, q.emb)) AS nrm
         |  FROM a$KmeansIters a JOIN q ON a.vec_id = q.vec_id),
         |probes AS (
         |  SELECT q_vec_id, q_label, q_emb, cell,
         |    sqrt(list_dot_product(q_emb, q_emb)) AS q_nrm FROM (
         |    SELECT q.vec_id AS q_vec_id, q.label AS q_label, q.emb AS q_emb, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY $dist ASC, c.cell ASC) AS rn
         |    FROM q, c$KmeansIters c)
         |  WHERE rn <= $HardNegNProbe),
         |scored AS (
         |  SELECT p.q_vec_id, s.vec_id, s.label,
         |    (s.label = p.q_label) AS is_pos,
         |    round(list_dot_product(s.emb, p.q_emb) / (s.nrm * p.q_nrm), 6) AS score
         |  FROM asg s JOIN probes p ON s.cell = p.cell AND s.vec_id <> p.q_vec_id),
         |ranked AS (
         |  SELECT q_vec_id, is_pos, vec_id, label, score,
         |    row_number() OVER (PARTITION BY q_vec_id, is_pos
         |      ORDER BY score DESC, vec_id ASC) AS rnk
         |  FROM scored)
         |SELECT q_vec_id,
         |  CASE WHEN is_pos THEN 'pos' ELSE 'neg' END AS role,
         |  CAST(rnk AS BIGINT) AS rnk, vec_id, label, score
         |FROM ranked
         |WHERE (is_pos AND rnk = 1) OR ((NOT is_pos) AND rnk <= $TopK)
         |ORDER BY q_vec_id, role, rnk""".stripMargin)
    sb.toString
  }

  /** Int8-quantized cosine top-k ([[Similarity.cosineTopKQ8]]): integer
    * dot products are exact in doubles, so this oracle needs no
    * accumulation-order discipline at all. */
  def simTopKQ8(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity
      .cosineTopKQ8(emb, emb.filter(col("vec_id") < NumQueries), TopK)
      .orderBy("q_vec_id", "rnk")
  }

  def simTopKQ8Oracle: String = {
    // Same quantization formula, DuckDB list dialect.
    val mx = "list_max(list_transform(emb, y -> abs(y)))"
    val scale =
      s"(CASE WHEN $mx = CAST(0 AS DOUBLE) THEN CAST(1 AS DOUBLE) ELSE CAST(127 AS DOUBLE) / $mx END)"
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |qv AS (
       |  SELECT vec_id, list_transform(emb, x -> round(x * $scale, 0)) AS q
       |  FROM v),
       |n AS (SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS nrm FROM qv),
       |scored AS (
       |  SELECT b.vec_id AS q_vec_id, a.vec_id,
       |    round(list_dot_product(a.q, b.q) / (a.nrm * b.nrm), 6) AS score_q8
       |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
       |  WHERE b.vec_id < $NumQueries)
       |SELECT q_vec_id, CAST(rnk AS BIGINT) AS rnk, vec_id, score_q8 FROM (
       |  SELECT q_vec_id, vec_id, score_q8,
       |    row_number() OVER (PARTITION BY q_vec_id ORDER BY score_q8 DESC, vec_id ASC) AS rnk
       |  FROM scored) WHERE rnk <= $TopK
       |ORDER BY q_vec_id, rnk""".stripMargin
  }

  private val simhashCte =
    """sim AS (
      |  SELECT doc_id, CAST(sum(CASE WHEN sv > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS simhash
      |  FROM (
      |    SELECT doc_id, j, sum(v) AS sv FROM (
      |      SELECT doc_id, j, CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END AS v
      |      FROM (SELECT doc_id, CAST(('0x' || substr(md5(word),1,8)) AS BIGINT) AS hv
      |            FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word FROM documents)
      |            WHERE word <> '')
      |      CROSS JOIN (SELECT unnest(range(0,32)) AS j))
      |    GROUP BY doc_id, j)
      |  GROUP BY doc_id)""".stripMargin

  def simhashOracle: String =
    s"""WITH $simhashCte
       |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin

  def simhashPairsOracle: String = {
    val width = 32 / SimhashBlocks
    val mask = (1L << width) - 1
    s"""WITH $simhashCte,
       |banded AS (
       |  SELECT doc_id, simhash, b AS band, (simhash >> (b * $width)) & $mask AS bv
       |  FROM sim CROSS JOIN (SELECT unnest(range(0, $SimhashBlocks)) AS b)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.simhash AS sh_a, b.simhash AS sh_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
       |FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= $SimhashMaxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Batch modulus for the incremental SimHash near-dup query. */
  val SimhashIncMod = 9

  def simhashIncrementalQ(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    Dedup
      .simhashIncremental(
        docs.filter(col("doc_id") % SimhashIncMod =!= 0),
        docs.filter(col("doc_id") % SimhashIncMod === 0),
        "doc_id", "text", SimhashMaxHamming, SimhashBlocks)
      .orderBy("id_a", "id_b")
  }

  def simhashIncrementalOracle: String = {
    val width = 32 / SimhashBlocks
    val mask = (1L << width) - 1
    s"""WITH $simhashCte,
       |banded AS (
       |  SELECT doc_id, simhash, b AS band, (simhash >> (b * $width)) & $mask AS bv
       |  FROM sim CROSS JOIN (SELECT unnest(range(0, $SimhashBlocks)) AS b)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.simhash AS sh_a, b.simhash AS sh_b
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.bv = b.bv
       |  WHERE a.doc_id % $SimhashIncMod = 0 AND b.doc_id % $SimhashIncMod != 0)
       |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
       |FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= $SimhashMaxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  def decontaminateOracle: String =
    s"""WITH $shinglesCte,
       |doc_sh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % $DecontamMod != 0),
       |bench_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % $DecontamMod = 0)
       |SELECT d.doc_id, count(*) AS n_shingles,
       | CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       | round(CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS contamination
       |FROM doc_sh d LEFT JOIN bench_sh b ON d.shingle = b.shingle
       |GROUP BY d.doc_id
       |HAVING sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) >= 1
       |ORDER BY doc_id""".stripMargin

  def incrementalDedupOracle: String =
    s"""WITH fp AS (
       |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
       |  FROM documents),
       |b AS (SELECT doc_id, fingerprint FROM fp WHERE doc_id % $IncrementalMod = 0),
       |seen AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % $IncrementalMod != 0),
       |firsts AS (SELECT fingerprint, min(doc_id) AS first_id FROM b GROUP BY fingerprint)
       |SELECT b.doc_id, b.fingerprint,
       |  CASE WHEN s.fingerprint IS NOT NULL THEN 'dup_corpus'
       |       WHEN b.doc_id > f.first_id THEN 'dup_batch'
       |       ELSE 'new' END AS verdict
       |FROM b
       |LEFT JOIN seen s ON b.fingerprint = s.fingerprint
       |JOIN firsts f ON b.fingerprint = f.fingerprint
       |ORDER BY doc_id""".stripMargin

  /** Shared word-3-gram (doc, block, shingle) CTE for the n-gram
    * Jaccard oracles — blocked and incremental must hash identically. */
  private val ngramShlCte: String =
    """shl AS (
      |  SELECT DISTINCT doc_id, blk, CAST('0x' || substr(md5(s),1,15) AS BIGINT) AS shingle FROM (
      |    SELECT doc_id, lang AS blk, unnest([w[i] || '_' || w[i+1] || '_' || w[i+2] for i in range(1, len(w)-1)]) AS s
      |    FROM (SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS w FROM documents)))""".stripMargin

  def ngramJaccardOracle: String =
    s"""WITH $ngramShlCte,
       |sizes AS (SELECT doc_id, count(*) AS set_size FROM shl GROUP BY doc_id),
       |rare AS (
       |  SELECT blk, shingle FROM shl GROUP BY blk, shingle
       |  HAVING count(*) <= $NgramDfCap),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM shl a
       |  JOIN rare r ON r.blk = a.blk AND r.shingle = a.shingle
       |  JOIN shl b
       |    ON a.blk = b.blk AND a.shingle = b.shingle AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN shl a ON a.doc_id = c.id_a
       |  JOIN shl b ON b.doc_id = c.id_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  round(n_inter / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE round(n_inter / (sa.set_size + sb.set_size - n_inter), 6) >= $JaccardThreshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Batch modulus for the incremental n-gram Jaccard query — 7 is the
    * split under which the fixture corpus actually has cross-side
    * near-dup pairs (mod 8/12 split every planted pair onto one side,
    * making the oracle trivially empty). */
  val NgramIncMod = 7

  /** Incremental n-gram Jaccard: the doc_id % 7 == 0 batch against the
    * corpus of everything else, batch×corpus pairs only (see
    * [[Dedup.ngramJaccardIncremental]]). */
  def ngramJaccardIncrementalQ(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    Dedup
      .ngramJaccardIncremental(
        docs.filter(col("doc_id") % NgramIncMod =!= 0),
        docs.filter(col("doc_id") % NgramIncMod === 0),
        "doc_id", "text", col("lang"), JaccardThreshold,
        n = 3, maxShingleDf = NgramDfCap)
      .orderBy("id_a", "id_b")
  }

  def ngramJaccardIncrementalOracle: String =
    s"""WITH $ngramShlCte,
       |bsh AS (SELECT * FROM shl WHERE doc_id % $NgramIncMod = 0),
       |csh AS (SELECT * FROM shl WHERE doc_id % $NgramIncMod <> 0),
       |bdf AS (SELECT blk, shingle, count(*) AS dfb FROM bsh GROUP BY 1, 2),
       |cdf AS (SELECT blk, shingle, count(*) AS dfc FROM csh GROUP BY 1, 2),
       |rare AS (
       |  SELECT blk, shingle FROM bdf JOIN cdf USING (blk, shingle)
       |  WHERE dfb <= $NgramDfCap AND dfc <= $NgramDfCap),
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS id_a, c.doc_id AS id_b
       |  FROM rare r
       |  JOIN bsh b ON b.blk = r.blk AND b.shingle = r.shingle
       |  JOIN csh c ON c.blk = r.blk AND c.shingle = r.shingle),
       |bsizes AS (SELECT doc_id, count(*) AS set_size FROM bsh GROUP BY 1),
       |csizes AS (SELECT doc_id, count(*) AS set_size FROM csh GROUP BY 1),
       |inter AS (
       |  SELECT cd.id_a, cd.id_b, count(*) AS n_inter
       |  FROM cand cd
       |  JOIN bsh a ON a.doc_id = cd.id_a
       |  JOIN csh b2 ON b2.doc_id = cd.id_b AND b2.shingle = a.shingle
       |  GROUP BY 1, 2)
       |SELECT i.id_a, i.id_b,
       |  round(n_inter / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
       |FROM inter i
       |JOIN bsizes sa ON sa.doc_id = i.id_a
       |JOIN csizes sb ON sb.doc_id = i.id_b
       |WHERE round(n_inter / (sa.set_size + sb.set_size - n_inter), 6) >= $JaccardThreshold
       |ORDER BY id_a, id_b""".stripMargin

  /** N-GRAM NOVELTY — the memorization/contamination-adjacent per-doc
    * score an eval-set builder reads before trusting a held-out split:
    * for every arriving document (doc_id % [[NgramIncMod]] == 0), the
    * fraction of its distinct word-3-gram shingles NEVER seen in the
    * frozen corpus (everything else), in exact integer micros. A
    * low-novelty "new" document is a paraphrase mosaic of the corpus
    * even when no single near-dup pair fires — the signal n-gram
    * Jaccard's pairwise threshold misses by construction.
    *
    * Scale shape: one hash join of the batch's (8-byte shingle, id)
    * rows against the corpus's DISTINCT shingle set — the same
    * shuffle the decontamination gate pays; the corpus set is the
    * deploy-time artifact the commit family already maintains (the
    * shingle-set table), so in production this reads a stored table.
    * Documents too short to shingle (< 3 words) emit no rows in both
    * engines, which also keeps the micros division nonzero. */
  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    // Rides the (session, dir)-keyed shingle memo (the blk column is
    // doc-constant, so projecting it away preserves distinctness) —
    // the third consumer of the shared pass, hits disclosed in bench.
    val rows = docShingleRows(s, d).select("id", "shingle")
    Dedup
      .ngramNoveltyFromRows(
        rows.filter(col("id") % NgramIncMod =!= 0)
          .select("shingle").distinct(),
        rows.filter(col("id") % NgramIncMod === 0))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  def ngramNoveltyOracle: String =
    s"""WITH $ngramShlCte,
       |bsh AS (SELECT doc_id, shingle FROM shl WHERE doc_id % $NgramIncMod = 0),
       |seen AS (SELECT DISTINCT shingle FROM shl WHERE doc_id % $NgramIncMod <> 0)
       |SELECT doc_id, count(*) AS n_shingles,
       |  CAST(sum(CASE WHEN s.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
       |  CAST((count(*) - sum(CASE WHEN s.shingle IS NOT NULL THEN 1 ELSE 0 END))
       |    * 1000000 // count(*) AS BIGINT) AS novelty_micros
       |FROM bsh b LEFT JOIN seen s ON b.shingle = s.shingle
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def topKOracle(bucketJoin: Boolean): String = {
    val bucketSql = Similarity.lshBucketSql(
      "embedding", Dims, LshBits, (c, i) => s"$c[$i]")
    val (extraCol, joinCond) =
      if (bucketJoin)
        (s", $bucketSql AS bucket",
          "n.bucket = q.bucket AND vec_id <> q_vec_id")
      else ("", "vec_id <> q_vec_id")
    s"""WITH c AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb$extraCol
       |  FROM embeddings),
       |n AS (SELECT *, sqrt(list_dot_product(emb, emb)) AS nrm FROM c),
       |q AS (SELECT vec_id AS q_vec_id, emb AS q_emb, nrm AS q_nrm${if (bucketJoin) ", bucket" else ""}
       |      FROM n WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q_vec_id, vec_id,
       |    round(list_dot_product(emb, q_emb) / (nrm * q_nrm), 6) AS score
       |  FROM n JOIN q ON $joinCond),
       |r AS (SELECT q_vec_id, vec_id, score,
       |        row_number() OVER (PARTITION BY q_vec_id ORDER BY score DESC, vec_id ASC) AS rnk
       |      FROM scored)
       |SELECT q_vec_id, rnk, vec_id, score FROM r WHERE rnk <= $TopK
       |ORDER BY q_vec_id, rnk""".stripMargin
  }

  def simTopKOracle: String = topKOracle(bucketJoin = false)
  def simTopKLshOracle: String = topKOracle(bucketJoin = true)

  /** Stage-1 prefix width and candidate pool of the truncated rerank. */
  val TruncPrefixDims = 16
  val TruncCandidates = 50

  /** Two-stage truncated-dimension rerank
    * ([[Similarity.cosineTopKTruncated]]): prefix-cosine candidate
    * generation on the first 16 of 64 dims, exact full-dim rerank of the
    * 50-candidate pool. */
  def simTopKTruncated(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity
      .cosineTopKTruncated(emb, emb.filter(col("vec_id") < NumQueries),
        TopK, TruncPrefixDims, TruncCandidates)
      .orderBy("q_vec_id", "rnk")
  }

  def simTopKTruncatedOracle: String =
    s"""WITH c AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |cp AS (
       |  SELECT vec_id, emb[1 : $TruncPrefixDims] AS p_emb FROM c),
       |cpn AS (SELECT vec_id, p_emb, sqrt(list_dot_product(p_emb, p_emb)) AS p_nrm FROM cp),
       |qp AS (SELECT vec_id AS q_vec_id, p_emb AS qp_emb, p_nrm AS qp_nrm
       |       FROM cpn WHERE vec_id < $NumQueries),
       |s1 AS (
       |  SELECT q_vec_id, vec_id,
       |    round(list_dot_product(p_emb, qp_emb) / (p_nrm * qp_nrm), 6) AS pscore
       |  FROM cpn JOIN qp ON vec_id <> q_vec_id),
       |cand AS (
       |  SELECT q_vec_id, vec_id FROM (
       |    SELECT q_vec_id, vec_id,
       |      row_number() OVER (PARTITION BY q_vec_id ORDER BY pscore DESC, vec_id ASC) AS crn
       |    FROM s1) WHERE crn <= $TruncCandidates),
       |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM c),
       |q AS (SELECT vec_id AS q_vec_id, emb AS q_emb, nrm AS q_nrm
       |      FROM n WHERE vec_id < $NumQueries),
       |s2 AS (
       |  SELECT cd.q_vec_id, cd.vec_id,
       |    round(list_dot_product(n.emb, q.q_emb) / (n.nrm * q.q_nrm), 6) AS score
       |  FROM cand cd
       |  JOIN n ON cd.vec_id = n.vec_id
       |  JOIN q ON cd.q_vec_id = q.q_vec_id)
       |SELECT q_vec_id, rnk, vec_id, score FROM (
       |  SELECT q_vec_id, vec_id, score,
       |    row_number() OVER (PARTITION BY q_vec_id ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM s2) WHERE rnk <= $TopK
       |ORDER BY q_vec_id, rnk""".stripMargin

  def langIdOracle: String = {
    val langs = TextAnalysis.stopwords.map(_._1)
    val scoreCols = langs
      .map { l =>
        val pat = TextAnalysis.stopwordPattern(l)
        s"CAST(len(regexp_extract_all(lower(text), '$pat')) AS BIGINT) AS s_$l"
      }
      .mkString(",\n  ")
    val caseChain = langs.init
      .map { l =>
        val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"WHEN $conds THEN '$l'"
      }
      .mkString("\n    ")
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |  $scoreCols
       |  FROM documents)
       |SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
       |  CASE $caseChain ELSE '${langs.last}' END AS predicted,
       |  (CASE $caseChain ELSE '${langs.last}' END) = lang AS correct
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** LANGUAGE-CONSISTENCY check — the code-switching/mislabel detector:
    * per document, how many of its sentences the stopword language-ID
    * assigns a language OTHER than the document's label, in exact
    * integer micros. A high off-lang fraction means either a mislabeled
    * document (route to relabel) or genuine code-switching (route to a
    * multilingual bucket) — either way the doc should not train under
    * its current label. Same sentence split and the SAME langId battery
    * as q_lang_id, applied per sentence then rolled up doc-keyed. */
  def langConsistency(s: SparkSession, d: String): DataFrame = {
    import graft.text.TextFunctions
    val sents = documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), TextFunctions.PortableSentenceSplit))
          .as("raw"))
      .select(col("doc_id"), col("lang"), trim(col("raw")).as("sentence"))
      .filter(length(col("sentence")) > 0)
    TextAnalysis.langId(sents, "sentence")
      .groupBy("doc_id", "lang")
      .agg(
        count(lit(1)).as("n_sentences"),
        sum(when(col("predicted") =!= col("lang"), 1L).otherwise(0L))
          .as("n_off_lang"))
      .withColumn("off_lang_micros",
        expr("n_off_lang * 1000000 DIV n_sentences"))
      .select("doc_id", "lang", "n_sentences", "n_off_lang",
        "off_lang_micros")
      .orderBy("doc_id")
  }

  def langConsistencyOracle: String = {
    val langs = TextAnalysis.stopwords.map(_._1)
    val scoreCols = langs
      .map { l =>
        val pat = TextAnalysis.stopwordPattern(l)
        s"CAST(len(regexp_extract_all(lower(sentence), '$pat')) AS BIGINT) AS s_$l"
      }
      .mkString(",\n  ")
    val caseChain = langs.init
      .map { l =>
        val conds =
          langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"WHEN $conds THEN '$l'"
      }
      .mkString("\n    ")
    s"""WITH s0 AS (
       |  SELECT doc_id, lang, string_split_regex(text, '[.!?]+\\s+') AS arr
       |  FROM documents),
       |sent AS (
       |  SELECT doc_id, lang, trim(x) AS sentence
       |  FROM (SELECT doc_id, lang, unnest(arr) AS x FROM s0)
       |  WHERE length(trim(x)) > 0),
       |scored AS (
       |  SELECT doc_id, lang,
       |  $scoreCols
       |  FROM sent),
       |p AS (
       |  SELECT doc_id, lang,
       |    CASE $caseChain ELSE '${langs.last}' END AS predicted
       |  FROM scored)
       |SELECT doc_id, lang, count(*) AS n_sentences,
       |  CAST(sum(CASE WHEN predicted <> lang THEN 1 ELSE 0 END) AS BIGINT) AS n_off_lang,
       |  CAST(sum(CASE WHEN predicted <> lang THEN 1 ELSE 0 END)
       |    * 1000000 // count(*) AS BIGINT) AS off_lang_micros
       |FROM p GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin
  }

  /** Canary planting parameters: every doc_id % 17 == 3 document gets
    * one of the three canary literals appended, chosen by doc_id % 3 —
    * the deterministic stand-in for a secret string that leaked into a
    * crawl. */
  val CanaryMod = 17L
  val CanaryResidue = 3L
  val Canaries: Seq[String] =
    Seq("canary-4e1cbe06", "canary-77ab21f0", "canary-d60b9ad4")

  /** MEMORIZATION-CANARY SCAN — the governance face every training
    * corpus needs before AND after a run: exact substring scan of the
    * corpus against the registered canary table (the planted secrets
    * whose verbatim regurgitation measures memorization, Carlini et
    * al.'s secret-sharer methodology). One hit row per (document,
    * canary). The canary table is tiny and broadcast — the scan is one
    * corpus pass of per-row contains(); nothing shuffles but hits. */
  def canaryScan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
      .withColumn("text",
        when(col("doc_id") % CanaryMod === CanaryResidue,
          concat(col("text"), lit(" "),
            element_at(
              array(Canaries.map(lit): _*),
              (col("doc_id") % 3 + 1).cast("int"))))
          .otherwise(col("text")))
    val canaries = Canaries.toDF("canary")
    docs
      .crossJoin(broadcast(canaries))
      .filter(col("text").contains(col("canary")))
      .select("doc_id", "canary")
      .orderBy("doc_id", "canary")
  }

  def canaryScanOracle: String = {
    val canaryRows = Canaries
      .map(c => s"SELECT '$c' AS canary")
      .mkString(" UNION ALL ")
    val canaryArr = Canaries.map(c => s"'$c'").mkString(", ")
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % $CanaryMod = $CanaryResidue
       |      THEN text || ' ' || ([$canaryArr])[CAST(doc_id % 3 AS INTEGER) + 1]
       |      ELSE text END AS text
       |  FROM documents),
       |c AS ($canaryRows)
       |SELECT doc_id, canary
       |FROM planted, c
       |WHERE contains(text, canary)
       |ORDER BY doc_id, canary""".stripMargin
  }

  /** Multimodal feature extraction as a checkable query: the typed
    * `mapPartitions` path ([[Multimodal.extractFeatures]]) over the
    * documents-as-blobs corpus. Every output is a pure function of the
    * UTF-8 bytes — and the synthetic documents are pure ASCII (verified
    * at every SF), so the DuckDB twin can walk CHARACTERS as bytes. */
  def mediaFeatures(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal
      .extractFeatures(graft.multimodal.Multimodal.mediaFromDocuments(s, d))
      .toDF()
      .select(
        col("mediaId").as("doc_id"),
        col("kind"),
        col("nBytes").as("n_bytes"),
        concat_ws(",", col("histogram").cast("array<string>")).as("hist"),
        col("byteEntropy").as("entropy"),
        col("thumbnailHash").as("thumb_hash"))
      .orderBy("doc_id")

  /** Stride of the declared frame-sampling query: every 2nd frame — the
    * query demonstrates SAMPLING a real multi-frame decode, not just
    * decoding everything. */
  val FrameStride = 2

  /** REAL multi-frame video-style decode + frame sampling as an
    * oracle-checked query (this replaced the round-4 stub-codec
    * `q_frame_sample`). The corpus is
    * [[graft.multimodal.Multimodal.syntheticGifCorpus]]: real animated
    * GIFs whose grayscale frame pixels are an md5 chain of the document
    * text (frame f, byte j = byte (j mod 16) of
    * md5(text ++ ":" ++ f ++ ":" ++ (j div 16))). Indexed-grayscale GIF
    * is lossless, so `gifFrames` must recover exactly those bytes —
    * DuckDB recomputes the per-frame integer pixel sums straight from the
    * chain, checking the encode→multi-frame-decode round trip bit-for-bit
    * on every sampled frame. */
  def frameDecode(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal
      .gifFrames(
        graft.multimodal.Multimodal.syntheticGifCorpus(
          documents(s, d).select("doc_id", "text"), "doc_id", "text"),
        stride = FrameStride)
      .toDF()
      .select(
        col("mediaId").as("media_id"),
        col("frameIdx").as("frame_idx"),
        col("width"),
        col("height"),
        col("sumGray").as("sum_gray"),
        col("sumSqGray").as("sum_sq_gray"))
      .orderBy("media_id", "frame_idx")

  /** REAL audio decode (javax.sound.sampled) as an oracle-checked query.
    * The corpus is [[graft.multimodal.Multimodal.syntheticWavCorpus]]:
    * real WAV blobs whose int16 samples are an md5 chain of the document
    * text. WAV PCM is lossless, so the decoder must recover exactly those
    * samples — DuckDB recomputes max amplitude, energy and zero-crossing
    * count straight from the chain, checking the encode→decode round
    * trip and every integer feature bit-for-bit. */
  def audioDecode(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal
      .audioFeatures(
        graft.multimodal.Multimodal.syntheticWavCorpus(
          documents(s, d).select("doc_id", "text"), "doc_id", "text"))
      .toDF()
      .select(
        col("mediaId").as("media_id"),
        col("sampleRate").as("sample_rate"),
        col("nSamples").as("n_samples"),
        col("maxAbs").as("max_abs"),
        col("sumSq").as("sum_sq"),
        col("zeroCrossings").as("zero_crossings"))
      .orderBy("media_id")

  def audioDecodeOracle: String =
    """WITH sm AS (
      |  SELECT doc_id, 64 + doc_id % 65 AS n,
      |    [CASE WHEN v >= 32768 THEN v - 65536 ELSE v END FOR v IN
      |      [CAST('0x' || substr(md5(text || ':' || CAST(j // 8 AS VARCHAR)), 1 + 4 * (j % 8), 2) AS BIGINT)
      |       + 256 * CAST('0x' || substr(md5(text || ':' || CAST(j // 8 AS VARCHAR)), 3 + 4 * (j % 8), 2) AS BIGINT)
      |       FOR j IN range(0, CAST(64 + doc_id % 65 AS BIGINT))]] AS s
      |  FROM documents)
      |SELECT doc_id AS media_id,
      |  CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate,
      |  CAST(n AS BIGINT) AS n_samples,
      |  CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS max_abs,
      |  CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS sum_sq,
      |  CAST(len(list_filter(range(2, CAST(n + 1 AS BIGINT)),
      |    j -> (s[j] >= 0) <> (s[j - 1] >= 0))) AS BIGINT) AS zero_crossings
      |FROM sm ORDER BY media_id""".stripMargin

  val AudioSegments = 4

  /** Audio segmentation over the synthetic WAV corpus
    * ([[graft.multimodal.Multimodal.segmentAudio]]): per blob, decode
    * once, split into [[AudioSegments]] equal spans, exact integer stats
    * per span — the audio twin of frame sampling, oracle-checked through
    * the same md5-chain construction as `q_audio_decode`. */
  def audioSegments(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal
      .segmentAudio(
        graft.multimodal.Multimodal.syntheticWavCorpus(
          documents(s, d).select("doc_id", "text"), "doc_id", "text"),
        AudioSegments)
      .toDF()
      .select(
        col("mediaId").as("media_id"),
        col("segmentIdx").as("segment_idx"),
        col("nSamples").as("n_samples"),
        col("maxAbs").as("max_abs"),
        col("sumSq").as("sum_sq"))
      .orderBy("media_id", "segment_idx")

  def audioSegmentsOracle: String =
    s"""WITH sm AS (
       |  SELECT doc_id, 64 + doc_id % 65 AS n,
       |    [CASE WHEN v >= 32768 THEN v - 65536 ELSE v END FOR v IN
       |      [CAST('0x' || substr(md5(text || ':' || CAST(j // 8 AS VARCHAR)), 1 + 4 * (j % 8), 2) AS BIGINT)
       |       + 256 * CAST('0x' || substr(md5(text || ':' || CAST(j // 8 AS VARCHAR)), 3 + 4 * (j % 8), 2) AS BIGINT)
       |       FOR j IN range(0, CAST(64 + doc_id % 65 AS BIGINT))]] AS s
       |  FROM documents),
       |seg AS (
       |  SELECT doc_id, k, (k * n) // $AudioSegments AS lo,
       |    ((k + 1) * n) // $AudioSegments AS hi, s
       |  FROM (SELECT doc_id, n, s, unnest(range(0, $AudioSegments)) AS k FROM sm))
       |SELECT doc_id AS media_id, CAST(k AS INTEGER) AS segment_idx,
       |  CAST(hi - lo AS BIGINT) AS n_samples,
       |  CAST(list_max(list_transform(s[lo + 1 : hi], x -> abs(x))) AS BIGINT) AS max_abs,
       |  CAST(list_sum(list_transform(s[lo + 1 : hi], x -> x * x)) AS BIGINT) AS sum_sq
       |FROM seg WHERE hi > lo ORDER BY media_id, segment_idx""".stripMargin

  /** REAL image decode (javax.imageio) as an oracle-checked query. The
    * corpus is [[graft.multimodal.Multimodal.syntheticPngCorpus]]: real
    * PNG blobs whose pixel bytes are an md5 chain of the document text
    * (byte j = byte (j mod 16) of md5(text ++ ":" ++ (j div 16)), w =
    * 8 + id % 9, h = 8 + id % 7). PNG is lossless, so the decoder must
    * recover exactly those bytes — DuckDB recomputes the channel means
    * straight from the md5 chain, checking the encode→decode round trip
    * and the mean arithmetic bit-for-bit. */
  def imageDecode(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal
      .imageFeatures(
        graft.multimodal.Multimodal.syntheticPngCorpus(
          documents(s, d).select("doc_id", "text"), "doc_id", "text"))
      .toDF()
      .select(
        col("mediaId").as("media_id"),
        col("width"),
        col("height"),
        col("meanR").as("mean_r"),
        col("meanG").as("mean_g"),
        col("meanB").as("mean_b"))
      .orderBy("media_id")

  def imageDecodeOracle: String =
    """WITH px AS (
      |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
      |    [CAST('0x' || substr(md5(text || ':' || CAST(j // 16 AS VARCHAR)), 1 + 2 * (j % 16), 2) AS BIGINT)
      |       for j in range(0, (8 + doc_id % 9) * (8 + doc_id % 7) * 3)] AS b
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, w, h,
      |    list_sum([b[j + 1] for j in range(0, len(b)) if j % 3 = 0]) AS sr,
      |    list_sum([b[j + 1] for j in range(0, len(b)) if j % 3 = 1]) AS sg,
      |    list_sum([b[j + 1] for j in range(0, len(b)) if j % 3 = 2]) AS sb
      |  FROM px)
      |SELECT doc_id AS media_id,
      |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |  floor(CAST(sr AS DOUBLE) / (w * h) * CAST(1000000 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS mean_r,
      |  floor(CAST(sg AS DOUBLE) / (w * h) * CAST(1000000 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS mean_g,
      |  floor(CAST(sb AS DOUBLE) / (w * h) * CAST(1000000 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS mean_b
      |FROM s ORDER BY media_id""".stripMargin

  /** Twin-id offset / hamming budget / band count for the perceptual-hash
    * image dedup. 56-bit dHash in 7 bands of 8 bits: pigeonhole makes the
    * band join EXACT for hamming ≤ 6. */
  val PhashTwinOffset = 1000000L
  val PhashMaxHamming = 6
  val PhashBlocks = 7

  /** IMAGE near-dup dedup via perceptual dHash
    * ([[graft.multimodal.Multimodal.imageDHash]] +
    * [[Dedup.hammingPairs]]): the corpus is every synthetic PNG plus a
    * brightness-shifted twin (+4 per channel, clamped — the perturbation
    * dHash is designed to shrug off), decoded for REAL, hashed to 56
    * bits, and paired through the same pigeonhole banding the text
    * simhash uses. Twins land at hamming 0 except where the 255 clamp
    * breaks shift-uniformity — deterministically, so the oracle computes
    * the identical pair set from the md5 pixel chain without any image
    * codec. */
  def imagePhash(s: SparkSession, d: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    import s.implicits._
    val docs = documents(s, d).select("doc_id", "text")
    val originals = mm.syntheticPngCorpus(docs, "doc_id", "text")
    val twins = mm
      .syntheticPngCorpus(docs, "doc_id", "text", brightnessDelta = 4)
      .map(m => m.copy(mediaId = m.mediaId + PhashTwinOffset))
    val hashes = mm.imageDHash(originals.union(twins))
      .toDF()
      .filter(col("ok"))
      .select(col("mediaId").as("id"), col("phash").as("simhash"))
    Dedup.hammingPairs(hashes, 56, PhashMaxHamming, PhashBlocks)
      .orderBy("id_a", "id_b")
  }

  def imagePhashOracle: String = {
    // Grayscale sample at 8×8 grid position (tx, ty) = idx % 8, idx // 8:
    // nearest-neighbor source pixel (tx·w // 8, ty·h // 8), row-major RGB.
    def off = "((((idx // 8) * h) // 8) * w + (((idx % 8) * w) // 8)) * 3"
    s"""WITH chain AS (
       |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
       |    [CAST('0x' || substr(md5(text || ':' || CAST(j // 16 AS VARCHAR)), 1 + 2 * (j % 16), 2) AS BIGINT)
       |      for j in range(0, (8 + doc_id % 9) * (8 + doc_id % 7) * 3)] AS b
       |  FROM documents),
       |imgs AS (
       |  SELECT doc_id AS id, w, h, b FROM chain
       |  UNION ALL
       |  SELECT doc_id + $PhashTwinOffset AS id, w, h,
       |    list_transform(b, v -> least(v + 4, 255)) AS b
       |  FROM chain),
       |g AS (
       |  SELECT id,
       |    [299 * b[$off + 1] + 587 * b[$off + 2] + 114 * b[$off + 3]
       |      for idx in range(0, 64)] AS gv
       |  FROM imgs),
       |ph AS (
       |  SELECT id, list_sum(
       |    [CASE WHEN gv[(idx // 7) * 8 + (idx % 7) + 1] > gv[(idx // 7) * 8 + (idx % 7) + 2]
       |       THEN (CAST(1 AS BIGINT) << idx) ELSE CAST(0 AS BIGINT) END
       |     for idx in range(0, 56)]) AS phash
       |  FROM g)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
       |FROM ph a JOIN ph b ON a.id < b.id
       |WHERE bit_count(xor(a.phash, b.phash)) <= $PhashMaxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** HAMMING THRESHOLD SWEEP — the measured knob-tuning face of the
    * perceptual-hash family, next to [[lshPlanner]]'s analytic one for
    * MinHash banding: candidate-pair yield of the image dHash table at
    * every hamming cutoff 0..[[PhashMaxHamming]] (exact count at the
    * cutoff plus the cumulative pairs a gate set there would flag).
    * The owner reads this before moving the gate's threshold — the
    * planted twins pile up at hamming 0-2, coincidental collisions
    * appear as the tail, and the knee between them is the right
    * cutoff. The pair set is the SAME banded generation every hamming
    * face uses (pigeonhole-complete to [[PhashMaxHamming]], never
    * all-pairs); the sweep itself collapses to ≤ 7 histogram rows
    * joined to a 7-row threshold literal. */
  def hammingSweep(s: SparkSession, d: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    import s.implicits._
    val docs = documents(s, d).select("doc_id", "text")
    val originals = mm.syntheticPngCorpus(docs, "doc_id", "text")
    val twins = mm
      .syntheticPngCorpus(docs, "doc_id", "text", brightnessDelta = 4)
      .map(m => m.copy(mediaId = m.mediaId + PhashTwinOffset))
    val hashes = mm.imageDHash(originals.union(twins))
      .toDF()
      .filter(col("ok"))
      .select(col("mediaId").as("id"), col("phash").as("simhash"))
    val hist = Dedup.hammingPairs(hashes, 56, PhashMaxHamming, PhashBlocks)
      .groupBy("hamming").agg(count(lit(1)).as("n_at"))
    s.range(0, PhashMaxHamming + 1).toDF("threshold")
      .join(broadcast(hist), col("hamming") <= col("threshold"), "left")
      .groupBy("threshold")
      .agg(
        coalesce(sum(when(col("hamming") === col("threshold"), col("n_at"))),
          lit(0L)).as("n_at_threshold"),
        coalesce(sum(col("n_at")), lit(0L)).as("n_pairs_le"))
      .orderBy("threshold")
  }

  def hammingSweepOracle: String = {
    def off = "((((idx // 8) * h) // 8) * w + (((idx % 8) * w) // 8)) * 3"
    s"""WITH chain AS (
       |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
       |    [CAST('0x' || substr(md5(text || ':' || CAST(j // 16 AS VARCHAR)), 1 + 2 * (j % 16), 2) AS BIGINT)
       |      for j in range(0, (8 + doc_id % 9) * (8 + doc_id % 7) * 3)] AS b
       |  FROM documents),
       |imgs AS (
       |  SELECT doc_id AS id, w, h, b FROM chain
       |  UNION ALL
       |  SELECT doc_id + $PhashTwinOffset AS id, w, h,
       |    list_transform(b, v -> least(v + 4, 255)) AS b
       |  FROM chain),
       |g AS (
       |  SELECT id,
       |    [299 * b[$off + 1] + 587 * b[$off + 2] + 114 * b[$off + 3]
       |      for idx in range(0, 64)] AS gv
       |  FROM imgs),
       |ph AS (
       |  SELECT id, list_sum(
       |    [CASE WHEN gv[(idx // 7) * 8 + (idx % 7) + 1] > gv[(idx // 7) * 8 + (idx % 7) + 2]
       |       THEN (CAST(1 AS BIGINT) << idx) ELSE CAST(0 AS BIGINT) END
       |     for idx in range(0, 56)]) AS phash
       |  FROM g),
       |pairs AS (
       |  SELECT bit_count(xor(a.phash, b.phash)) AS hamming
       |  FROM ph a JOIN ph b ON a.id < b.id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= $PhashMaxHamming),
       |th AS (SELECT unnest(range(0, ${PhashMaxHamming + 1})) AS threshold)
       |SELECT th.threshold,
       |  CAST(coalesce(sum(CASE WHEN p.hamming = th.threshold THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_at_threshold,
       |  CAST(count(p.hamming) AS BIGINT) AS n_pairs_le
       |FROM th LEFT JOIN pairs p ON p.hamming <= th.threshold
       |GROUP BY th.threshold
       |ORDER BY threshold""".stripMargin
  }

  /** INCREMENTAL image near-dup — the ingest gate of the image family
    * ([[graft.dedup.Dedup.hammingPairsIncremental]], the batch×corpus
    * face of the shared hamming engine): the corpus owns every original
    * PNG; the doc_id % 3 == 0 slice arrives AGAIN as brightness-shifted
    * re-uploads (the classic re-crawled-thumbnail shape) and each
    * arrival is paired against corpus hashes only — never against other
    * arrivals. Corpus dHashes are computable once at ingest; the per-
    * delivery work is |batch| decodes + the banded cross join. */
  def imagePhashInc(s: SparkSession, d: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    import s.implicits._
    val docs = documents(s, d).select("doc_id", "text")
    val corpusHashes = mm.imageDHash(
        mm.syntheticPngCorpus(docs, "doc_id", "text"))
      .toDF().filter(col("ok"))
      .select(col("mediaId").as("id"), col("phash").as("simhash"))
    val batchHashes = mm.imageDHash(
        mm.syntheticPngCorpus(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
          brightnessDelta = 4)
          .map(m => m.copy(mediaId = m.mediaId + PhashTwinOffset)))
      .toDF().filter(col("ok"))
      .select(col("mediaId").as("id"), col("phash").as("simhash"))
    Dedup.hammingPairsIncremental(
        corpusHashes, batchHashes, 56, PhashMaxHamming, PhashBlocks)
      .orderBy("id_a", "id_b")
  }

  def imagePhashIncOracle: String = {
    def off = "((((idx // 8) * h) // 8) * w + (((idx % 8) * w) // 8)) * 3"
    s"""WITH chain AS (
       |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
       |    [CAST('0x' || substr(md5(text || ':' || CAST(j // 16 AS VARCHAR)), 1 + 2 * (j % 16), 2) AS BIGINT)
       |      for j in range(0, (8 + doc_id % 9) * (8 + doc_id % 7) * 3)] AS b
       |  FROM documents),
       |imgs AS (
       |  SELECT doc_id AS id, w, h, b, 0 AS is_batch FROM chain
       |  UNION ALL
       |  SELECT doc_id + $PhashTwinOffset AS id, w, h,
       |    list_transform(b, v -> least(v + 4, 255)) AS b, 1 AS is_batch
       |  FROM chain WHERE doc_id % 3 = 0),
       |g AS (
       |  SELECT id, is_batch,
       |    [299 * b[$off + 1] + 587 * b[$off + 2] + 114 * b[$off + 3]
       |      for idx in range(0, 64)] AS gv
       |  FROM imgs),
       |ph AS (
       |  SELECT id, is_batch, list_sum(
       |    [CASE WHEN gv[(idx // 7) * 8 + (idx % 7) + 1] > gv[(idx // 7) * 8 + (idx % 7) + 2]
       |       THEN (CAST(1 AS BIGINT) << idx) ELSE CAST(0 AS BIGINT) END
       |     for idx in range(0, 56)]) AS phash
       |  FROM g)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
       |FROM ph a JOIN ph b ON a.is_batch = 1 AND b.is_batch = 0
       |WHERE bit_count(xor(a.phash, b.phash)) <= $PhashMaxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Arrival-id offsets of the media-commit fixture: re-encoded twins at
    * +1·[[PhashTwinOffset]], fresh uploads at +2·, and a byte-identical
    * re-upload of each fresh item at +4· (the planted `dup_batch`). */
  val MediaCommitFresh1 = 2 * PhashTwinOffset
  val MediaCommitFresh2 = 4 * PhashTwinOffset

  /** COMMIT face of the media hash table
    * ([[graft.dedup.Dedup.commitHashArtifacts]]) — the media analog of
    * the text corpus commit, closing the last blank of the hash-table
    * matrix row: the corpus owns every original PNG's dHash; one
    * delivery arrives carrying (a) brightness-shifted re-encodes of the
    * doc_id % 3 == 0 slice (expected `dup_corpus`), (b) genuinely new
    * images (a different md5 pixel chain — expected `new`), and (c) a
    * byte-identical second upload of each new image at a higher id
    * (expected `dup_batch`, the min-id keeper). The committed table
    * gains exactly the `new` rows; CommitHashSpec pins the committed ==
    * corpus ∪ accepted law and re-gate closure. The oracle recomputes
    * hashes and both verdict terms straight from the md5 pixel chain —
    * no codec, no Spark arithmetic reused. */
  def mediaCommit(s: SparkSession, d: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    import s.implicits._
    val docs = documents(s, d).select("doc_id", "text")
    def hashesOf(items: org.apache.spark.sql.Dataset[mm.MediaItem]) =
      mm.imageDHash(items).toDF().filter(col("ok"))
        .select(col("mediaId").as("id"), col("phash").as("simhash"))
    val corpusHashes = hashesOf(mm.syntheticPngCorpus(docs, "doc_id", "text"))
    val twins = mm
      .syntheticPngCorpus(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        brightnessDelta = 4)
      .map(m => m.copy(mediaId = m.mediaId + PhashTwinOffset))
    val freshDocs = docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), concat(col("text"), lit(" f")).as("text"))
    val fresh1 = mm.syntheticPngCorpus(freshDocs, "doc_id", "text")
      .map(m => m.copy(mediaId = m.mediaId + MediaCommitFresh1))
    val fresh2 = mm.syntheticPngCorpus(freshDocs, "doc_id", "text")
      .map(m => m.copy(mediaId = m.mediaId + MediaCommitFresh2))
    val arrivals = hashesOf(twins.union(fresh1).union(fresh2))
    graft.dedup.Dedup
      .commitHashArtifacts(
        corpusHashes, arrivals, 56, PhashMaxHamming, PhashBlocks)
      .verdicts
      .select("id", "verdict")
      .orderBy("id")
  }

  def mediaCommitOracle: String = {
    def off = "((((idx // 8) * h) // 8) * w + (((idx % 8) * w) // 8)) * 3"
    s"""WITH chain AS (
       |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
       |    [CAST('0x' || substr(md5(text || ':' || CAST(j // 16 AS VARCHAR)), 1 + 2 * (j % 16), 2) AS BIGINT)
       |      for j in range(0, (8 + doc_id % 9) * (8 + doc_id % 7) * 3)] AS b
       |  FROM documents),
       |fchain AS (
       |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
       |    [CAST('0x' || substr(md5(text || ' f' || ':' || CAST(j // 16 AS VARCHAR)), 1 + 2 * (j % 16), 2) AS BIGINT)
       |      for j in range(0, (8 + doc_id % 9) * (8 + doc_id % 7) * 3)] AS b
       |  FROM documents WHERE doc_id % 3 = 1),
       |imgs AS (
       |  SELECT doc_id AS id, w, h, b, 0 AS is_batch FROM chain
       |  UNION ALL
       |  SELECT doc_id + $PhashTwinOffset, w, h,
       |    list_transform(b, v -> least(v + 4, 255)), 1
       |  FROM chain WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + $MediaCommitFresh1, w, h, b, 1 FROM fchain
       |  UNION ALL
       |  SELECT doc_id + $MediaCommitFresh2, w, h, b, 1 FROM fchain),
       |g AS (
       |  SELECT id, is_batch,
       |    [299 * b[$off + 1] + 587 * b[$off + 2] + 114 * b[$off + 3]
       |      for idx in range(0, 64)] AS gv
       |  FROM imgs),
       |ph AS (
       |  SELECT id, is_batch, list_sum(
       |    [CASE WHEN gv[(idx // 7) * 8 + (idx % 7) + 1] > gv[(idx // 7) * 8 + (idx % 7) + 2]
       |       THEN (CAST(1 AS BIGINT) << idx) ELSE CAST(0 AS BIGINT) END
       |     for idx in range(0, 56)]) AS phash
       |  FROM g)
       |SELECT a.id,
       |  CASE WHEN EXISTS (SELECT 1 FROM ph c WHERE c.is_batch = 0
       |         AND bit_count(xor(a.phash, c.phash)) <= $PhashMaxHamming)
       |       THEN 'dup_corpus'
       |       WHEN EXISTS (SELECT 1 FROM ph b2 WHERE b2.is_batch = 1
       |         AND b2.id < a.id
       |         AND bit_count(xor(a.phash, b2.phash)) <= $PhashMaxHamming)
       |       THEN 'dup_batch'
       |       ELSE 'new' END AS verdict
       |FROM ph a WHERE a.is_batch = 1
       |ORDER BY id""".stripMargin
  }

  /** MEDIA RETRACTION ([[graft.dedup.Dedup.retractHashArtifacts]]) —
    * the takedown inverse of [[mediaCommit]]'s fold, read out through
    * its GATE CONSEQUENCE: the doc_id % 3 == 0 originals are retracted
    * from the corpus hash table, and the readout re-gates their
    * brightness-shifted twins against the table before and after. One
    * row per arriving twin with both verdicts: before the takedown the
    * twin is (almost always) `dup_corpus` against its source; after,
    * the source is gone and the twin re-gates `new` unless it
    * coincidentally lands within hamming range of a SURVIVING image or
    * of a lower-id fellow twin — both engines compute those residual
    * matches exactly, so the flip set is oracle-checked, not assumed.
    * MediaRetractSpec pins the table laws (retracted ==
    * rebuilt-from-scratch on corpus \ deleted; retract ∘ commit ==
    * identity on the commit's accepted batch); this query pins the
    * operational consequence a takedown must have at the gate. */
  def mediaRetract(s: SparkSession, d: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    import s.implicits._
    val docs = documents(s, d).select("doc_id", "text")
    def hashesOf(items: org.apache.spark.sql.Dataset[mm.MediaItem]) =
      mm.imageDHash(items).toDF().filter(col("ok"))
        .select(col("mediaId").as("id"), col("phash").as("simhash"))
    val corpusHashes =
      hashesOf(mm.syntheticPngCorpus(docs, "doc_id", "text"))
    val retracted = graft.dedup.Dedup.retractHashArtifacts(
      corpusHashes,
      docs.filter(col("doc_id") % 3 === 0).select(col("doc_id").as("id")))
    val twins = hashesOf(mm
      .syntheticPngCorpus(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        brightnessDelta = 4)
      .map(m => m.copy(mediaId = m.mediaId + PhashTwinOffset)))
    def verdictsVs(corpus: DataFrame, as: String) =
      graft.dedup.Dedup
        .commitHashArtifacts(corpus, twins, 56, PhashMaxHamming, PhashBlocks)
        .verdicts
        .select(col("id"), col("verdict").as(as))
    verdictsVs(corpusHashes, "verdict_before")
      .join(verdictsVs(retracted, "verdict_after"), Seq("id"))
      .orderBy("id")
  }

  def mediaRetractOracle: String = {
    def off = "((((idx // 8) * h) // 8) * w + (((idx % 8) * w) // 8)) * 3"
    def verdict(corpusPred: String) =
      s"""CASE WHEN EXISTS (SELECT 1 FROM ph c WHERE c.is_batch = 0
         |         AND $corpusPred
         |         AND bit_count(xor(a.phash, c.phash)) <= $PhashMaxHamming)
         |       THEN 'dup_corpus'
         |       WHEN EXISTS (SELECT 1 FROM ph b2 WHERE b2.is_batch = 1
         |         AND b2.id < a.id
         |         AND bit_count(xor(a.phash, b2.phash)) <= $PhashMaxHamming)
         |       THEN 'dup_batch'
         |       ELSE 'new' END""".stripMargin
    s"""WITH chain AS (
       |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
       |    [CAST('0x' || substr(md5(text || ':' || CAST(j // 16 AS VARCHAR)), 1 + 2 * (j % 16), 2) AS BIGINT)
       |      for j in range(0, (8 + doc_id % 9) * (8 + doc_id % 7) * 3)] AS b
       |  FROM documents),
       |imgs AS (
       |  SELECT doc_id AS id, w, h, b, 0 AS is_batch FROM chain
       |  UNION ALL
       |  SELECT doc_id + $PhashTwinOffset, w, h,
       |    list_transform(b, v -> least(v + 4, 255)), 1
       |  FROM chain WHERE doc_id % 3 = 0),
       |g AS (
       |  SELECT id, is_batch,
       |    [299 * b[$off + 1] + 587 * b[$off + 2] + 114 * b[$off + 3]
       |      for idx in range(0, 64)] AS gv
       |  FROM imgs),
       |ph AS (
       |  SELECT id, is_batch, list_sum(
       |    [CASE WHEN gv[(idx // 7) * 8 + (idx % 7) + 1] > gv[(idx // 7) * 8 + (idx % 7) + 2]
       |       THEN (CAST(1 AS BIGINT) << idx) ELSE CAST(0 AS BIGINT) END
       |     for idx in range(0, 56)]) AS phash
       |  FROM g)
       |SELECT a.id,
       |  ${verdict("TRUE")} AS verdict_before,
       |  ${verdict("c.id % 3 <> 0")} AS verdict_after
       |FROM ph a WHERE a.is_batch = 1
       |ORDER BY id""".stripMargin
  }

  /** FRAME-level near-dup dedup — the VIDEO face of the perceptual-hash
    * engine ([[graft.multimodal.Multimodal.gifFrameHashes]] +
    * [[Dedup.hammingPairs]]): every frame of every synthetic animated
    * GIF is REALLY decoded and dHashed (the exact grid/weights/fold of
    * [[imagePhash]]'s still-image hash), the corpus carries a
    * brightness-shifted twin per video (the re-encoded-upload shape),
    * and frames pair through the same pigeonhole banding as text
    * simhash and image dHash — ONE hamming engine across all three
    * modalities. Frame id = media_id·10 + frame_idx (frame counts ≤ 5
    * by the fixture's construction). Twin frames land at hamming 0
    * except where the 255 clamp breaks shift-uniformity —
    * deterministically, so the oracle computes the identical pair set
    * straight from the md5 pixel chain with no codec. */
  /** (mediaId, frameIdx, phash) frame-hash rows → the (id, simhash)
    * shape the hamming engine pairs, under the `media_id·10 + frame_idx`
    * frame-id encoding. The encoding assumes < 10 frames per container
    * (true of [[graft.multimodal.Multimodal.syntheticGifCorpus]]'s
    * fixture, whose frame counts are 2–5), but `gifFrameHashes` decodes
    * REAL frame counts — so the bound is enforced IN the plan: a
    * ≥10-frame input fails the job loudly instead of silently colliding
    * frame ids across videos (the bm25Passages window-id guard pattern,
    * [[graft.queries.TextQueries]]). */
  private[graft] def guardedFrameIds(frameHashes: DataFrame): DataFrame =
    frameHashes.select(
      (col("mediaId") * 10L +
        when(col("frameIdx") < 10, col("frameIdx").cast("long"))
          .otherwise(raise_error(concat(
            lit("frame_idx overflows the media_id*10 frame-id encoding " +
              "for media_id="), col("mediaId").cast("string"),
            lit(" (>= 10 frames); widen the encoding or sample frames")))
            .cast("long"))).as("id"),
      col("phash").as("simhash"))

  def framePhash(s: SparkSession, d: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    import s.implicits._
    val docs = documents(s, d).select("doc_id", "text")
    val originals = mm.syntheticGifCorpus(docs, "doc_id", "text")
    val twins = mm
      .syntheticGifCorpus(docs, "doc_id", "text", brightnessDelta = 4)
      .map(m => m.copy(mediaId = m.mediaId + PhashTwinOffset))
    val hashes = guardedFrameIds(mm.gifFrameHashes(originals.union(twins)).toDF())
    Dedup.hammingPairs(hashes, 56, PhashMaxHamming, PhashBlocks)
      .orderBy("id_a", "id_b")
  }

  def framePhashOracle: String = {
    // Grayscale frame: single channel, so the 8×8 grid offset has no ×3;
    // gray weight sum 299+587+114 = 1000 per palette value.
    def off = "(((idx // 8) * h) // 8) * w + (((idx % 8) * w) // 8)"
    s"""WITH fr AS (
       |  SELECT doc_id, text, 6 + doc_id % 5 AS w, 6 + doc_id % 3 AS h,
       |    unnest(range(0, 2 + doc_id % 4)) AS fi
       |  FROM documents),
       |chain AS (
       |  SELECT doc_id, fi, w, h,
       |    [CAST('0x' || substr(md5(text || ':' || CAST(fi AS VARCHAR) || ':' || CAST(j // 16 AS VARCHAR)), 1 + 2 * (j % 16), 2) AS BIGINT)
       |      for j in range(0, w * h)] AS b
       |  FROM fr),
       |imgs AS (
       |  SELECT doc_id * 10 + fi AS id, w, h, b FROM chain
       |  UNION ALL
       |  SELECT (doc_id + $PhashTwinOffset) * 10 + fi AS id, w, h,
       |    list_transform(b, v -> least(v + 4, 255)) AS b
       |  FROM chain),
       |g AS (
       |  SELECT id,
       |    [1000 * b[$off + 1] for idx in range(0, 64)] AS gv
       |  FROM imgs),
       |ph AS (
       |  SELECT id, list_sum(
       |    [CASE WHEN gv[(idx // 7) * 8 + (idx % 7) + 1] > gv[(idx // 7) * 8 + (idx % 7) + 2]
       |       THEN (CAST(1 AS BIGINT) << idx) ELSE CAST(0 AS BIGINT) END
       |     for idx in range(0, 56)]) AS phash
       |  FROM g)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
       |FROM ph a JOIN ph b ON a.id < b.id
       |WHERE bit_count(xor(a.phash, b.phash)) <= $PhashMaxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** INCREMENTAL frame near-dup — the ingest gate of the VIDEO family
    * ([[graft.dedup.Dedup.hammingPairsIncremental]], the same
    * batch×corpus face the image and text hashes use): the corpus owns
    * every original GIF's frames; the doc_id % 3 == 0 slice arrives
    * AGAIN as brightness-shifted re-encodes (the re-uploaded-clip
    * shape) and each arriving frame pairs against corpus frame hashes
    * only — never against other arrivals. Corpus frame hashes are
    * computable once at ingest; per-delivery work is |batch| decodes +
    * the banded cross join. */
  def framePhashInc(s: SparkSession, d: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    import s.implicits._
    val docs = documents(s, d).select("doc_id", "text")
    def frameIds(items: org.apache.spark.sql.Dataset[mm.MediaItem]) =
      guardedFrameIds(mm.gifFrameHashes(items).toDF())
    val corpusHashes = frameIds(mm.syntheticGifCorpus(docs, "doc_id", "text"))
    val batchHashes = frameIds(
      mm.syntheticGifCorpus(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        brightnessDelta = 4)
        .map(m => m.copy(mediaId = m.mediaId + PhashTwinOffset)))
    Dedup.hammingPairsIncremental(
        corpusHashes, batchHashes, 56, PhashMaxHamming, PhashBlocks)
      .orderBy("id_a", "id_b")
  }

  def framePhashIncOracle: String = {
    def off = "(((idx // 8) * h) // 8) * w + (((idx % 8) * w) // 8)"
    s"""WITH fr AS (
       |  SELECT doc_id, text, 6 + doc_id % 5 AS w, 6 + doc_id % 3 AS h,
       |    unnest(range(0, 2 + doc_id % 4)) AS fi
       |  FROM documents),
       |chain AS (
       |  SELECT doc_id, fi, w, h,
       |    [CAST('0x' || substr(md5(text || ':' || CAST(fi AS VARCHAR) || ':' || CAST(j // 16 AS VARCHAR)), 1 + 2 * (j % 16), 2) AS BIGINT)
       |      for j in range(0, w * h)] AS b
       |  FROM fr),
       |imgs AS (
       |  SELECT doc_id * 10 + fi AS id, w, h, b, 0 AS is_batch FROM chain
       |  UNION ALL
       |  SELECT (doc_id + $PhashTwinOffset) * 10 + fi AS id, w, h,
       |    list_transform(b, v -> least(v + 4, 255)) AS b, 1 AS is_batch
       |  FROM chain WHERE doc_id % 3 = 0),
       |g AS (
       |  SELECT id, is_batch,
       |    [1000 * b[$off + 1] for idx in range(0, 64)] AS gv
       |  FROM imgs),
       |ph AS (
       |  SELECT id, is_batch, list_sum(
       |    [CASE WHEN gv[(idx // 7) * 8 + (idx % 7) + 1] > gv[(idx // 7) * 8 + (idx % 7) + 2]
       |       THEN (CAST(1 AS BIGINT) << idx) ELSE CAST(0 AS BIGINT) END
       |     for idx in range(0, 56)]) AS phash
       |  FROM g)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
       |FROM ph a JOIN ph b ON a.is_batch = 1 AND b.is_batch = 0
       |WHERE bit_count(xor(a.phash, b.phash)) <= $PhashMaxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** COMMIT face of the VIDEO frame-hash table — the frame modality
    * through the same generic [[graft.dedup.Dedup.commitHashArtifacts]]
    * engine as the image (q_media_commit) and audio (q_audio_commit)
    * faces, closing the last hash-modality commit cell: arriving clips
    * are brightness twins of every third corpus video (their frames →
    * `dup_corpus`), one genuinely fresh batch (→ `new`) and an
    * identical second fresh batch (→ `dup_batch`); ids ride the guarded
    * `media_id·10 + frame_idx` encoding, so the commit verdict is
    * per-frame — the clip-level rollup of committed verdicts is
    * [[videoNeardup]]'s job, deliberately kept separate. */
  def frameCommit(s: SparkSession, d: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    import s.implicits._
    val docs = documents(s, d).select("doc_id", "text")
    def frameIds(items: org.apache.spark.sql.Dataset[mm.MediaItem]) =
      guardedFrameIds(mm.gifFrameHashes(items).toDF())
    val corpusHashes = frameIds(mm.syntheticGifCorpus(docs, "doc_id", "text"))
    val twins = mm
      .syntheticGifCorpus(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        brightnessDelta = 4)
      .map(m => m.copy(mediaId = m.mediaId + PhashTwinOffset))
    val freshDocs = docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), concat(col("text"), lit(" f")).as("text"))
    val fresh1 = mm.syntheticGifCorpus(freshDocs, "doc_id", "text")
      .map(m => m.copy(mediaId = m.mediaId + MediaCommitFresh1))
    val fresh2 = mm.syntheticGifCorpus(freshDocs, "doc_id", "text")
      .map(m => m.copy(mediaId = m.mediaId + MediaCommitFresh2))
    val arrivals = frameIds(twins.union(fresh1).union(fresh2))
    Dedup
      .commitHashArtifacts(
        corpusHashes, arrivals, 56, PhashMaxHamming, PhashBlocks)
      .verdicts
      .select("id", "verdict")
      .orderBy("id")
  }

  def frameCommitOracle: String = {
    def off = "(((idx // 8) * h) // 8) * w + (((idx % 8) * w) // 8)"
    s"""WITH fr AS (
       |  SELECT doc_id, text, 6 + doc_id % 5 AS w, 6 + doc_id % 3 AS h,
       |    unnest(range(0, 2 + doc_id % 4)) AS fi
       |  FROM documents),
       |chain AS (
       |  SELECT doc_id, fi, w, h,
       |    [CAST('0x' || substr(md5(text || ':' || CAST(fi AS VARCHAR) || ':' || CAST(j // 16 AS VARCHAR)), 1 + 2 * (j % 16), 2) AS BIGINT)
       |      for j in range(0, w * h)] AS b
       |  FROM fr),
       |chainf AS (
       |  SELECT doc_id, fi, w, h,
       |    [CAST('0x' || substr(md5(text || ' f' || ':' || CAST(fi AS VARCHAR) || ':' || CAST(j // 16 AS VARCHAR)), 1 + 2 * (j % 16), 2) AS BIGINT)
       |      for j in range(0, w * h)] AS b
       |  FROM fr WHERE doc_id % 3 = 1),
       |imgs AS (
       |  SELECT doc_id * 10 + fi AS id, w, h, b, 0 AS is_batch FROM chain
       |  UNION ALL
       |  SELECT (doc_id + $PhashTwinOffset) * 10 + fi AS id, w, h,
       |    list_transform(b, v -> least(v + 4, 255)) AS b, 1 AS is_batch
       |  FROM chain WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT (doc_id + $MediaCommitFresh1) * 10 + fi AS id, w, h, b,
       |    1 AS is_batch
       |  FROM chainf
       |  UNION ALL
       |  SELECT (doc_id + $MediaCommitFresh2) * 10 + fi AS id, w, h, b,
       |    1 AS is_batch
       |  FROM chainf),
       |g AS (
       |  SELECT id, is_batch,
       |    [1000 * b[$off + 1] for idx in range(0, 64)] AS gv
       |  FROM imgs),
       |ph AS (
       |  SELECT id, is_batch, list_sum(
       |    [CASE WHEN gv[(idx // 7) * 8 + (idx % 7) + 1] > gv[(idx // 7) * 8 + (idx % 7) + 2]
       |       THEN (CAST(1 AS BIGINT) << idx) ELSE CAST(0 AS BIGINT) END
       |     for idx in range(0, 56)]) AS phash
       |  FROM g)
       |SELECT a.id,
       |  CASE WHEN EXISTS (SELECT 1 FROM ph c WHERE c.is_batch = 0
       |         AND bit_count(xor(a.phash, c.phash)) <= $PhashMaxHamming)
       |       THEN 'dup_corpus'
       |       WHEN EXISTS (SELECT 1 FROM ph b2 WHERE b2.is_batch = 1
       |         AND b2.id < a.id
       |         AND bit_count(xor(a.phash, b2.phash)) <= $PhashMaxHamming)
       |       THEN 'dup_batch'
       |       ELSE 'new' END AS verdict
       |FROM ph a WHERE a.is_batch = 1
       |ORDER BY id""".stripMargin
  }

  /** Matched-frame-fraction floor for a clip-pair near-dup verdict. */
  val VideoNeardupFrac = 0.6

  /** VIDEO-LEVEL near-dup verdicts — the clip-pair rollup of
    * [[framePhash]]'s frame pairs, so a re-encoded upload is flagged
    * ONCE as a video, not once per frame: decode the
    * `media_id·10 + frame_idx` pair ids, drop intra-video frame
    * matches, group by (video_a, video_b), and keep pairs where the
    * fraction of video_a's frames with a match in video_b reaches
    * [[VideoNeardupFrac]]. `n_aligned` (matches at the same frame
    * index) is the offset-consistency signal — a true re-encode
    * matches frame-for-frame, so n_aligned == n_pairs for the planted
    * twins.
    *
    * Scale shape: the rollup input is the already-band-bounded pair
    * set, the groupBy is pair-volume-sized, and the frame-count join
    * is video-id-keyed — nothing here re-touches frames or blobs.
    * Fractions use the floor-6-decimal discipline every cross-engine
    * float column uses. */
  def videoNeardup(s: SparkSession, d: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    import s.implicits._
    val docs = documents(s, d).select("doc_id", "text")
    val originals = mm.syntheticGifCorpus(docs, "doc_id", "text")
    val twins = mm
      .syntheticGifCorpus(docs, "doc_id", "text", brightnessDelta = 4)
      .map(m => m.copy(mediaId = m.mediaId + PhashTwinOffset))
    val hashes =
      guardedFrameIds(mm.gifFrameHashes(originals.union(twins)).toDF())
        .localCheckpoint(true)
    val pairs = Dedup.hammingPairs(hashes, 56, PhashMaxHamming, PhashBlocks)
    clipPairRollup(hashes, pairs, VideoNeardupFrac,
      "video_a", "video_b", "n_frames_a", "n_frames_b")
  }

  /** The clip-pair rollup SHARED by the video and audio near-dup
    * verdicts ([[videoNeardup]], [[audioNeardup]]): decode the
    * `media_id·10 + part_idx` pair ids out of [[Dedup.hammingPairs]]
    * output, drop intra-clip matches, count matched / index-aligned
    * parts per (clip_a, clip_b) against per-clip part counts derived
    * from the hash table itself, and keep pairs at or above the
    * matched-fraction floor. The rollup input is the already
    * band-bounded pair set, the groupBy is pair-volume-sized, and the
    * count join is clip-id-keyed — nothing here re-touches parts or
    * blobs. Fractions use the floor-6-decimal discipline every
    * cross-engine float column uses. */
  private def clipPairRollup(
      hashes: DataFrame,
      pairs: DataFrame,
      frac: Double,
      aCol: String,
      bCol: String,
      nACol: String,
      nBCol: String): DataFrame = {
    val nf = hashes
      .select(expr("id div 10").as("v"))
      .groupBy("v")
      .agg(count(lit(1)).as("n_parts"))
    val roll = pairs
      .select(
        expr("id_a div 10").as("ma"), expr("id_a % 10").as("fa"),
        expr("id_b div 10").as("mb"), expr("id_b % 10").as("fb"))
      .filter(col("ma") =!= col("mb"))
      .groupBy("ma", "mb")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("fa") === col("fb"), 1L).otherwise(0L)).as("n_aligned"),
        countDistinct("fa").as("n_matched_a"))
    roll
      .join(nf.select(col("v").as("ma"), col("n_parts").as("na")), Seq("ma"))
      .join(nf.select(col("v").as("mb"), col("n_parts").as("nb")), Seq("mb"))
      .withColumn("frac_a",
        floor(col("n_matched_a") / col("na") * 1000000L) / 1000000L)
      .filter(col("frac_a") >= frac)
      .select(col("ma").as(aCol), col("mb").as(bCol),
        col("na").as(nACol), col("nb").as(nBCol),
        col("n_pairs"), col("n_aligned"), col("n_matched_a"), col("frac_a"))
      .orderBy(aCol, bCol)
  }

  def videoNeardupOracle: String = {
    def off = "(((idx // 8) * h) // 8) * w + (((idx % 8) * w) // 8)"
    s"""WITH fr AS (
       |  SELECT doc_id, text, 6 + doc_id % 5 AS w, 6 + doc_id % 3 AS h,
       |    unnest(range(0, 2 + doc_id % 4)) AS fi
       |  FROM documents),
       |chain AS (
       |  SELECT doc_id, fi, w, h,
       |    [CAST('0x' || substr(md5(text || ':' || CAST(fi AS VARCHAR) || ':' || CAST(j // 16 AS VARCHAR)), 1 + 2 * (j % 16), 2) AS BIGINT)
       |      for j in range(0, w * h)] AS b
       |  FROM fr),
       |imgs AS (
       |  SELECT doc_id * 10 + fi AS id, w, h, b FROM chain
       |  UNION ALL
       |  SELECT (doc_id + $PhashTwinOffset) * 10 + fi AS id, w, h,
       |    list_transform(b, v -> least(v + 4, 255)) AS b
       |  FROM chain),
       |g AS (
       |  SELECT id,
       |    [1000 * b[$off + 1] for idx in range(0, 64)] AS gv
       |  FROM imgs),
       |ph AS (
       |  SELECT id, list_sum(
       |    [CASE WHEN gv[(idx // 7) * 8 + (idx % 7) + 1] > gv[(idx // 7) * 8 + (idx % 7) + 2]
       |       THEN (CAST(1 AS BIGINT) << idx) ELSE CAST(0 AS BIGINT) END
       |     for idx in range(0, 56)]) AS phash
       |  FROM g),
       |fpairs AS (
       |  SELECT a.id // 10 AS video_a, a.id % 10 AS fa,
       |         b.id // 10 AS video_b, b.id % 10 AS fb
       |  FROM ph a JOIN ph b ON a.id < b.id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= $PhashMaxHamming
       |    AND a.id // 10 <> b.id // 10),
       |nf AS (SELECT id // 10 AS v, count(*) AS n FROM ph GROUP BY 1),
       |roll AS (
       |  SELECT video_a, video_b, count(*) AS n_pairs,
       |    sum(CASE WHEN fa = fb THEN 1 ELSE 0 END) AS n_aligned,
       |    count(DISTINCT fa) AS n_matched_a
       |  FROM fpairs GROUP BY 1, 2)
       |SELECT r.video_a, r.video_b,
       |  CAST(na.n AS BIGINT) AS n_frames_a,
       |  CAST(nb.n AS BIGINT) AS n_frames_b,
       |  CAST(r.n_pairs AS BIGINT) AS n_pairs,
       |  CAST(r.n_aligned AS BIGINT) AS n_aligned,
       |  CAST(r.n_matched_a AS BIGINT) AS n_matched_a,
       |  floor(CAST(r.n_matched_a AS DOUBLE) / na.n * 1000000) / 1000000 AS frac_a
       |FROM roll r
       |JOIN nf na ON r.video_a = na.v
       |JOIN nf nb ON r.video_b = nb.v
       |WHERE floor(CAST(r.n_matched_a AS DOUBLE) / na.n * 1000000) / 1000000 >= $VideoNeardupFrac
       |ORDER BY video_a, video_b""".stripMargin
  }

  /** Window count of the audio fingerprint queries (windows per clip;
    * ≤ 9 by the media_id·10 + window_idx encoding) and the amplitude
    * perturbation of the planted re-encoded twins. */
  val AudioFpWindows = 2
  val AudioFpDelta = 3

  /** Shared md5-chain sample + fingerprint CTE prefix of the audio
    * phash oracles: reconstruct the synthetic WAV samples (the
    * `q_audio_decode` chain), apply the clamped amplitude shift to the
    * twin/batch side, fold per-window 57-bucket energies, and emit the
    * 56-bit neighbor-comparison fingerprint under `media_id·10 +
    * window_idx` ids — the exact integer arithmetic of
    * [[graft.multimodal.Multimodal.audioFingerprints]], no codec. */
  /** `sm(doc_id, n, s)` — the synthetic-WAV sample chain (the
    * `q_audio_decode` arithmetic) over an optionally filtered documents
    * slice; shared by the audio phash oracles and the audio-text
    * alignment oracle so the decode arithmetic cannot drift. */
  private def wavSamplesCteSql(
      filter: String = "",
      textExpr: String = "text",
      cteName: String = "sm"): String =
    s"""$cteName AS (
       |  SELECT doc_id, 64 + doc_id % 65 AS n,
       |    [CASE WHEN v >= 32768 THEN v - 65536 ELSE v END FOR v IN
       |      [CAST('0x' || substr(md5($textExpr || ':' || CAST(j // 8 AS VARCHAR)), 1 + 4 * (j % 8), 2) AS BIGINT)
       |       + 256 * CAST('0x' || substr(md5($textExpr || ':' || CAST(j // 8 AS VARCHAR)), 3 + 4 * (j % 8), 2) AS BIGINT)
       |       FOR j IN range(0, CAST(64 + doc_id % 65 AS BIGINT))]] AS s
       |  FROM documents$filter)""".stripMargin

  private def audioFpOracleCtes(twinFilter: String): String =
    s"""WITH ${wavSamplesCteSql()},
       |au AS (
       |  SELECT doc_id AS mid, n, s, 0 AS is_batch FROM sm
       |  UNION ALL
       |  SELECT doc_id + $PhashTwinOffset AS mid, n,
       |    list_transform(s, x -> greatest(-32768, least(x + $AudioFpDelta, 32767))) AS s,
       |    1 AS is_batch
       |  FROM sm$twinFilter),
       |$audioFpFoldCtes""".stripMargin

  /** The window/energy/fingerprint fold over an `au(mid, n, s,
    * is_batch)` clip frame — ends in `fp(id, is_batch, fp)` under
    * `mid·10 + window_idx` ids; shared by every audio-hash oracle so
    * the fold arithmetic cannot drift. */
  private def audioFpFoldCtes: String =
    s"""w AS (
       |  SELECT mid, is_batch, wi, s,
       |    (wi * n) // $AudioFpWindows AS lo,
       |    ((wi + 1) * n) // $AudioFpWindows - (wi * n) // $AudioFpWindows AS wn
       |  FROM (SELECT mid, is_batch, n, s,
       |          unnest(range(0, $AudioFpWindows)) AS wi FROM au)),
       |e AS (
       |  SELECT mid, is_batch, wi,
       |    [coalesce(list_sum(list_transform(
       |        s[lo + (t * wn) // 57 + 1 : lo + ((t + 1) * wn) // 57],
       |        x -> x * x)), 0)
       |     FOR t IN range(0, 57)] AS ev
       |  FROM w WHERE wn > 0),
       |fp AS (
       |  SELECT mid * 10 + wi AS id, is_batch, list_sum(
       |    [CASE WHEN ev[b + 1] > ev[b + 2] THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END
       |     FOR b IN range(0, 56)]) AS fp
       |  FROM e)""".stripMargin

  /** AUDIO near-dup dedup via per-window energy fingerprints
    * ([[graft.multimodal.Multimodal.audioFingerprints]] +
    * [[Dedup.hammingPairs]]) — the audio face of the ONE hamming
    * engine (text simhash, image dHash, video frame dHash, and now
    * audio): the corpus is every synthetic WAV plus an
    * amplitude-shifted twin (+[[AudioFpDelta]] per sample, clamped —
    * the re-encoded-upload perturbation the energy-ordering
    * fingerprint is designed to shrug off), REALLY decoded, folded to
    * 56 bits per window, and paired through the same pigeonhole
    * banding as every other modality. Twin windows land at hamming ≈ 0
    * except where the int16 clamp or an energy near-tie flips a bit —
    * deterministically, so the oracle computes the identical pair set
    * from the md5 sample chain without any audio codec. */
  def audioPhash(s: SparkSession, d: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    import s.implicits._
    val docs = documents(s, d).select("doc_id", "text")
    val originals = mm.syntheticWavCorpus(docs, "doc_id", "text")
    val twins = mm
      .syntheticWavCorpus(docs, "doc_id", "text",
        amplitudeDelta = AudioFpDelta)
      .map(m => m.copy(mediaId = m.mediaId + PhashTwinOffset))
    val hashes = mm
      .audioFingerprints(originals.union(twins), AudioFpWindows)
      .toDF()
      .select(
        (col("mediaId") * 10L + col("windowIdx")).as("id"),
        col("fp").as("simhash"))
    Dedup.hammingPairs(hashes, 56, PhashMaxHamming, PhashBlocks)
      .orderBy("id_a", "id_b")
  }

  def audioPhashOracle: String =
    s"""${audioFpOracleCtes("")}
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
       |FROM fp a JOIN fp b ON a.id < b.id
       |WHERE bit_count(xor(a.fp, b.fp)) <= $PhashMaxHamming
       |ORDER BY id_a, id_b""".stripMargin

  /** INCREMENTAL audio near-dup — the ingest gate of the AUDIO family
    * ([[graft.dedup.Dedup.hammingPairsIncremental]], the same
    * batch×corpus face every other modality's hashes use): the corpus
    * owns every original WAV's window fingerprints; the doc_id % 3 == 0
    * slice arrives AGAIN as amplitude-shifted re-encodes (the
    * re-uploaded-clip shape) and each arriving window pairs against
    * corpus fingerprints only — never against other arrivals. Corpus
    * fingerprints are computable once at ingest; per-delivery work is
    * |batch| decodes + the banded cross join. */
  def audioPhashInc(s: SparkSession, d: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    import s.implicits._
    val docs = documents(s, d).select("doc_id", "text")
    def windowIds(items: org.apache.spark.sql.Dataset[mm.MediaItem]) =
      mm.audioFingerprints(items, AudioFpWindows)
        .toDF()
        .select(
          (col("mediaId") * 10L + col("windowIdx")).as("id"),
          col("fp").as("simhash"))
    val corpusHashes = windowIds(mm.syntheticWavCorpus(docs, "doc_id", "text"))
    val batchHashes = windowIds(
      mm.syntheticWavCorpus(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        amplitudeDelta = AudioFpDelta)
        .map(m => m.copy(mediaId = m.mediaId + PhashTwinOffset)))
    Dedup.hammingPairsIncremental(
        corpusHashes, batchHashes, 56, PhashMaxHamming, PhashBlocks)
      .orderBy("id_a", "id_b")
  }

  def audioPhashIncOracle: String =
    s"""${audioFpOracleCtes(" WHERE doc_id % 3 = 0")}
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
       |FROM fp a JOIN fp b ON a.is_batch = 1 AND b.is_batch = 0
       |WHERE bit_count(xor(a.fp, b.fp)) <= $PhashMaxHamming
       |ORDER BY id_a, id_b""".stripMargin

  /** COMMIT face of the AUDIO window-fingerprint table — the same
    * generic [[graft.dedup.Dedup.commitHashArtifacts]] engine the image
    * face (q_media_commit) exercises, applied to the audio modality's
    * (id, 56-bit hash) frame, closing the matrix cell the round-10
    * notes documented as "a column-select away": arriving clips are
    * amplitude twins of every third corpus clip (→ `dup_corpus`), one
    * batch of genuinely fresh clips (→ `new`), and a second identical
    * fresh batch (→ `dup_batch` under the min-id keeper). The oracle
    * recomputes decode, twin clamp, window energies, fingerprints and
    * all three verdict classes from the md5 sample chain — no codec,
    * the audio family's discipline. */
  def audioCommit(s: SparkSession, d: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    import s.implicits._
    val docs = documents(s, d).select("doc_id", "text")
    def windowIds(items: org.apache.spark.sql.Dataset[mm.MediaItem]) =
      mm.audioFingerprints(items, AudioFpWindows)
        .toDF()
        .select(
          (col("mediaId") * 10L + col("windowIdx")).as("id"),
          col("fp").as("simhash"))
    val corpusHashes = windowIds(mm.syntheticWavCorpus(docs, "doc_id", "text"))
    val twins = mm
      .syntheticWavCorpus(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        amplitudeDelta = AudioFpDelta)
      .map(m => m.copy(mediaId = m.mediaId + PhashTwinOffset))
    val freshDocs = docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), concat(col("text"), lit(" f")).as("text"))
    val fresh1 = mm.syntheticWavCorpus(freshDocs, "doc_id", "text")
      .map(m => m.copy(mediaId = m.mediaId + MediaCommitFresh1))
    val fresh2 = mm.syntheticWavCorpus(freshDocs, "doc_id", "text")
      .map(m => m.copy(mediaId = m.mediaId + MediaCommitFresh2))
    val arrivals = windowIds(twins.union(fresh1).union(fresh2))
    Dedup
      .commitHashArtifacts(
        corpusHashes, arrivals, 56, PhashMaxHamming, PhashBlocks)
      .verdicts
      .select("id", "verdict")
      .orderBy("id")
  }

  def audioCommitOracle: String =
    s"""WITH ${wavSamplesCteSql()},
       |${wavSamplesCteSql(" WHERE doc_id % 3 = 1", "text || ' f'", "smf")},
       |au AS (
       |  SELECT doc_id AS mid, n, s, 0 AS is_batch FROM sm
       |  UNION ALL
       |  SELECT doc_id + $PhashTwinOffset AS mid, n,
       |    list_transform(s, x -> greatest(-32768, least(x + $AudioFpDelta, 32767))) AS s,
       |    1 AS is_batch
       |  FROM sm WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + $MediaCommitFresh1 AS mid, n, s, 1 AS is_batch FROM smf
       |  UNION ALL
       |  SELECT doc_id + $MediaCommitFresh2 AS mid, n, s, 1 AS is_batch FROM smf),
       |$audioFpFoldCtes
       |SELECT a.id,
       |  CASE WHEN EXISTS (SELECT 1 FROM fp c WHERE c.is_batch = 0
       |         AND bit_count(xor(a.fp, c.fp)) <= $PhashMaxHamming)
       |       THEN 'dup_corpus'
       |       WHEN EXISTS (SELECT 1 FROM fp b2 WHERE b2.is_batch = 1
       |         AND b2.id < a.id
       |         AND bit_count(xor(a.fp, b2.fp)) <= $PhashMaxHamming)
       |       THEN 'dup_batch'
       |       ELSE 'new' END AS verdict
       |FROM fp a WHERE a.is_batch = 1
       |ORDER BY id""".stripMargin

  /** Matched-window-fraction floor for a clip-pair audio verdict. */
  val AudioNeardupFrac = 0.6

  /** AUDIO-LEVEL (clip) near-dup verdicts — the clip-pair rollup of
    * [[audioPhash]]'s window pairs through the SAME [[clipPairRollup]]
    * arithmetic as the video verdict, so a re-encoded audio upload is
    * flagged ONCE as a clip, not once per window: decode the
    * `media_id·10 + window_idx` pair ids, drop intra-clip matches, and
    * keep (clip_a, clip_b) pairs where the fraction of clip_a's windows
    * with a match in clip_b reaches [[AudioNeardupFrac]]; `n_aligned`
    * (matches at the same window index) is the offset-consistency
    * signal — an amplitude-shifted re-encode matches window-for-window.
    * Rollup cost rides the audio stress stage's curve: its input is the
    * band-bounded pair set, so the added groupBy is pair-volume-sized. */
  def audioNeardup(s: SparkSession, d: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    import s.implicits._
    val docs = documents(s, d).select("doc_id", "text")
    val originals = mm.syntheticWavCorpus(docs, "doc_id", "text")
    val twins = mm
      .syntheticWavCorpus(docs, "doc_id", "text",
        amplitudeDelta = AudioFpDelta)
      .map(m => m.copy(mediaId = m.mediaId + PhashTwinOffset))
    val hashes = mm
      .audioFingerprints(originals.union(twins), AudioFpWindows)
      .toDF()
      .select(
        (col("mediaId") * 10L + col("windowIdx")).as("id"),
        col("fp").as("simhash"))
      .localCheckpoint(true)
    val pairs = Dedup.hammingPairs(hashes, 56, PhashMaxHamming, PhashBlocks)
    clipPairRollup(hashes, pairs, AudioNeardupFrac,
      "clip_a", "clip_b", "n_windows_a", "n_windows_b")
  }

  def audioNeardupOracle: String =
    s"""${audioFpOracleCtes("")},
       |wpairs AS (
       |  SELECT a.id // 10 AS clip_a, a.id % 10 AS fa,
       |         b.id // 10 AS clip_b, b.id % 10 AS fb
       |  FROM fp a JOIN fp b ON a.id < b.id
       |  WHERE bit_count(xor(a.fp, b.fp)) <= $PhashMaxHamming
       |    AND a.id // 10 <> b.id // 10),
       |nw AS (SELECT id // 10 AS v, count(*) AS n FROM fp GROUP BY 1),
       |roll AS (
       |  SELECT clip_a, clip_b, count(*) AS n_pairs,
       |    sum(CASE WHEN fa = fb THEN 1 ELSE 0 END) AS n_aligned,
       |    count(DISTINCT fa) AS n_matched_a
       |  FROM wpairs GROUP BY 1, 2)
       |SELECT r.clip_a, r.clip_b,
       |  CAST(na.n AS BIGINT) AS n_windows_a,
       |  CAST(nb.n AS BIGINT) AS n_windows_b,
       |  CAST(r.n_pairs AS BIGINT) AS n_pairs,
       |  CAST(r.n_aligned AS BIGINT) AS n_aligned,
       |  CAST(r.n_matched_a AS BIGINT) AS n_matched_a,
       |  floor(CAST(r.n_matched_a AS DOUBLE) / na.n * 1000000) / 1000000 AS frac_a
       |FROM roll r
       |JOIN nw na ON r.clip_a = na.v
       |JOIN nw nb ON r.clip_b = nb.v
       |WHERE floor(CAST(r.n_matched_a AS DOUBLE) / na.n * 1000000) / 1000000 >= $AudioNeardupFrac
       |ORDER BY clip_a, clip_b""".stripMargin

  /** Resize target of the declared resize query (4×4 — small enough that
    * the oracle's per-pixel arithmetic stays a 16-element list op). */
  val ResizeSide = 4

  /** REAL image resize as an oracle-checked query: synthetic md5-chain
    * PNGs → `resizeImages` (deterministic nearest-neighbor, lossless PNG
    * re-encode) → `imageFeatures` channel means of the RESIZED pixels.
    * The composition checks decode → resample → re-encode → decode
    * bit-for-bit: DuckDB picks the same source pixels by the same
    * `sx = tx·w // 4` integer arithmetic straight from the md5 chain. */
  def imageResize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val mm = graft.multimodal.Multimodal
    val resized = mm
      .resizeImages(
        mm.syntheticPngCorpus(
          documents(s, d).select("doc_id", "text"), "doc_id", "text"),
        ResizeSide, ResizeSide)
      .filter(col("ok"))
      .map(r => mm.MediaItem(
        r.mediaId, r.content,
        mm.MediaMeta("image", r.width, r.height, 0L, "png")))
    mm.imageFeatures(resized)
      .toDF()
      .select(
        col("mediaId").as("media_id"),
        col("width"),
        col("height"),
        col("meanR").as("mean_r"),
        col("meanG").as("mean_g"),
        col("meanB").as("mean_b"))
      .orderBy("media_id")
  }

  def imageResizeOracle: String = {
    val n = ResizeSide * ResizeSide
    // Source pixel of resized position t (= ty·side + tx):
    // offset = ((ty·h // side)·w + (tx·w // side))·3, 1-indexed lists.
    def chan(c: Int) =
      s"b[(((t // $ResizeSide) * h // $ResizeSide) * w + ((t % $ResizeSide) * w // $ResizeSide)) * 3 + ${c + 1}]"
    s"""WITH px AS (
       |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
       |    [CAST('0x' || substr(md5(text || ':' || CAST(j // 16 AS VARCHAR)), 1 + 2 * (j % 16), 2) AS BIGINT)
       |       FOR j IN range(0, (8 + doc_id % 9) * (8 + doc_id % 7) * 3)] AS b
       |  FROM documents),
       |rs AS (SELECT doc_id, w, h, b, unnest(range(0, $n)) AS t FROM px),
       |ch AS (
       |  SELECT doc_id, ${chan(0)} AS r, ${chan(1)} AS g, ${chan(2)} AS bl
       |  FROM rs),
       |s AS (SELECT doc_id, sum(r) AS sr, sum(g) AS sg, sum(bl) AS sb FROM ch GROUP BY doc_id)
       |SELECT doc_id AS media_id,
       |  CAST($ResizeSide AS INTEGER) AS width, CAST($ResizeSide AS INTEGER) AS height,
       |  floor(CAST(sr AS DOUBLE) / $n * CAST(1000000 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS mean_r,
       |  floor(CAST(sg AS DOUBLE) / $n * CAST(1000000 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS mean_g,
       |  floor(CAST(sb AS DOUBLE) / $n * CAST(1000000 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS mean_b
       |FROM s ORDER BY media_id""".stripMargin
  }

  def frameDecodeOracle: String =
    s"""WITH fr AS (
       |  SELECT doc_id, text, 6 + doc_id % 5 AS w, 6 + doc_id % 3 AS h,
       |    unnest(range(0, 2 + doc_id % 4)) AS f
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, f, w, h,
       |    [CAST('0x' || substr(md5(text || ':' || CAST(f AS VARCHAR) || ':' || CAST(j // 16 AS VARCHAR)), 1 + 2 * (j % 16), 2) AS BIGINT)
       |     FOR j IN range(0, w * h)] AS b
       |  FROM fr WHERE f % $FrameStride = 0)
       |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
       |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |  CAST(list_sum(b) AS BIGINT) AS sum_gray,
       |  CAST(list_sum(list_transform(b, x -> x * x)) AS BIGINT) AS sum_sq_gray
       |FROM px ORDER BY media_id, frame_idx""".stripMargin

  /** Generated twin of the Scala byte walk. Float parity: the entropy
    * terms are subtracted LEFT-TO-RIGHT in bucket order with ln(p)/ln(2),
    * exactly the Scala fold's IEEE op sequence (fl(-a-b) = -fl(a+b), so
    * the sign flip is exact); the 6-decimal floor is exact on doubles.
    * The thumbnail subsample mirrors `(i * (len/64.0)).toInt` with
    * floor-cast (DuckDB CAST(DOUBLE AS BIGINT) ROUNDS — floor first). */
  def mediaFeaturesOracle: String = {
    val histCols = (0 until 16)
      .map(b => s"CAST(sum(CASE WHEN b = $b THEN 1 ELSE 0 END) AS BIGINT) AS h$b")
      .mkString(",\n       |    ")
    val histStr = (0 until 16).map(b => s"CAST(h$b AS VARCHAR)").mkString(" || ',' || ")
    val entropyTerms = (0 until 16)
      .map { b =>
        s"(CASE WHEN h$b > 0 THEN ((CAST(h$b AS DOUBLE) / nd) * ln(CAST(h$b AS DOUBLE) / nd)) / ln(CAST(2 AS DOUBLE)) ELSE CAST(0 AS DOUBLE) END)"
      }
      .mkString("\n       |      - ")
    val thumbChars = (0 until 64)
      .map(i =>
        s"substr(text, CAST(floor(CAST($i AS DOUBLE) * (CAST(length(text) AS DOUBLE) / CAST(64 AS DOUBLE))) AS BIGINT) + 1, 1)")
      .mkString("\n       |      || ")
    s"""WITH ch AS (
       |  SELECT doc_id, ord(substr(text, CAST(i AS INTEGER), 1)) // 16 AS b
       |  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i FROM documents)),
       |h AS (
       |  SELECT doc_id,
       |    $histCols
       |  FROM ch GROUP BY doc_id),
       |e AS (
       |  SELECT doc_id,
       |    CAST(0 AS DOUBLE)
       |      - $entropyTerms AS ent
       |  FROM (SELECT *, CAST(h0+h1+h2+h3+h4+h5+h6+h7+h8+h9+h10+h11+h12+h13+h14+h15 AS DOUBLE) AS nd FROM h))
       |SELECT d.doc_id,
       |  CASE WHEN d.doc_id % 3 = 0 THEN 'image'
       |       WHEN d.doc_id % 3 = 1 THEN 'audio'
       |       ELSE 'video' END AS kind,
       |  CAST(length(d.text) AS BIGINT) AS n_bytes,
       |  $histStr AS hist,
       |  floor(e.ent * CAST(1000000 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS entropy,
       |  CASE WHEN length(d.text) <= 64 THEN md5(d.text)
       |       ELSE md5($thumbChars)
       |  END AS thumb_hash
       |FROM documents d JOIN h ON d.doc_id = h.doc_id JOIN e ON d.doc_id = e.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Keep threshold (micros of cosine) for [[imgtextAlign]]: pairs whose
    * image features positively correlate with the text projection keep
    * their image; both branches are live at every fixture SF. */
  val AlignMicrosThreshold = 0L

  /** IMAGE-TEXT ALIGNMENT scoring — the CLIP-filter shape that decides
    * which image-text pairs enter the interleaved multimodal pack: per
    * document carrying an image (the [[TextQueries.ImgEvery]] residue,
    * which is also [[graft.multimodal.Multimodal.mediaFromDocuments]]'s
    * image kind), join the image FEATURE vector (the 16-bin byte
    * histogram of [[graft.multimodal.Multimodal.extractFeatures]] — the
    * deterministic stand-in for a real image encoder, per the stub-codec
    * contract) with the text EMBEDDING projected to the same 16 dims
    * (fixed 4-fold fold — the stand-in for a text-encoder projection
    * head), integer-micros cosine, keep verdict at
    * [[AlignMicrosThreshold]].
    *
    * Scale shape: feature extraction is per-row map work on the blob
    * (the blob never shuffles — only the 16-double vector does); the
    * join is doc-keyed; the score is row-local `graft_dot` arithmetic.
    * No stage touches corpus × corpus. */
  def imgtextAlign(s: SparkSession, d: String): DataFrame = {
    alignScores(
      imageFeatureFrame(
        graft.multimodal.Multimodal.mediaFromDocuments(s, d)),
      textProjection(embeddings(s, d)))
      .orderBy("doc_id")
  }

  /** (doc_id, ih) image-feature vectors of the image-kind items in a
    * media frame — shared by the batch query and the streaming gate. */
  private[graft] def imageFeatureFrame(
      media: org.apache.spark.sql.Dataset[
        graft.multimodal.Multimodal.MediaItem]): DataFrame =
    graft.multimodal.Multimodal
      .extractFeatures(media)
      .toDF()
      .filter(col("kind") === "image")
      .select(
        col("mediaId").as("doc_id"),
        expr("transform(histogram, x -> CAST(x AS DOUBLE))").as("ih"))

  /** (doc_id, tf) 16-dim projection of the embeddings table — the
    * text-encoder-side artifact both alignment faces share. Fixed 64→16
    * fold with explicit left-to-right 4-term sums so the IEEE
    * association is identical in both engines. */
  private[graft] def textProjection(emb: DataFrame): DataFrame = {
    val tProj = (0 until 16).map { k =>
      (1 to 4)
        .map(j => expr(s"element_at(te, ${4 * k + j})"))
        .reduce(_ + _)
    }
    emb
      .select(
        col("vec_id").as("doc_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("te"))
      .select(col("doc_id"), array(tProj: _*).as("tf"))
  }

  /** Row-local alignment scoring over (doc_id, ih) ⋈ (doc_id, tf):
    * integer-micros cosine + keep verdict. Works identically on a batch
    * ifeat frame and a streaming one (pure equi-join + per-row
    * expressions — append-mode safe). */
  private[graft] def alignScores(
      ifeat: DataFrame, tfeat: DataFrame): DataFrame =
    ifeat.join(tfeat, Seq("doc_id"))
      .withColumn(
        "align_micros",
        expr("CAST(round(graft_dot(ih, tf) / (sqrt(graft_dot(ih, ih)) * sqrt(graft_dot(tf, tf))) * 1000000, 0) AS BIGINT)"))
      .withColumn("keep", col("align_micros") >= AlignMicrosThreshold)
      .select("doc_id", "align_micros", "keep")

  /** Shared CTE chain ending in `align(doc_id, align_micros)` — used by
    * [[imgtextAlignOracle]] AND [[alignedPackOracle]] so the two cannot
    * drift. The histogram arithmetic is [[mediaFeaturesOracle]]'s
    * (ord // 16 over ASCII text bytes). */
  /** Shared CTE pair `ihist(doc_id, ih)` / `tproj(doc_id, tf)` — the two
    * projected feature frames every cross-modal oracle builds on
    * ([[imgtextAlignOracle]], [[alignedPackOracle]],
    * [[crossmodalTopKOracle]] all compose THIS string, so the feature
    * arithmetic cannot drift between the alignment and retrieval faces). */
  /** `tproj(doc_id, tf)` — the 16-dim text-embedding projection CTE
    * every cross-modal oracle joins against ([[featureCtesSql]]'s
    * consumers plus the audio-text alignment oracle). */
  private def tprojCteSql: String = {
    val proj = (0 until 16)
      .map(k => "(" + (1 to 4).map(j => s"te[${4 * k + j}]").mkString(" + ") + ")")
      .mkString(", ")
    s"""tproj AS (
       |  SELECT vec_id AS doc_id, [$proj] AS tf FROM (
       |    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS te
       |    FROM embeddings))""".stripMargin
  }

  private def featureCtesSql: String = {
    val histCols = (0 until 16)
      .map(b => s"CAST(sum(CASE WHEN b = $b THEN 1 ELSE 0 END) AS DOUBLE)")
      .mkString(", ")
    s"""ach AS (
       |  SELECT doc_id, ord(substr(text, CAST(i AS INTEGER), 1)) // 16 AS b
       |  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
       |        FROM documents WHERE doc_id % ${TextQueries.ImgEvery} = 0)),
       |ihist AS (
       |  SELECT doc_id, [$histCols] AS ih FROM ach GROUP BY doc_id),
       |$tprojCteSql""".stripMargin
  }

  private def alignCtesSql: String = {
    s"""$featureCtesSql,
       |align AS (
       |  SELECT i.doc_id,
       |    CAST(round(list_dot_product(ih, tf)
       |      / (sqrt(list_dot_product(ih, ih)) * sqrt(list_dot_product(tf, tf)))
       |      * 1000000, 0) AS BIGINT) AS align_micros
       |  FROM ihist i JOIN tproj t ON i.doc_id = t.doc_id)""".stripMargin
  }

  def imgtextAlignOracle: String =
    s"""WITH $alignCtesSql
       |SELECT doc_id, align_micros,
       |  align_micros >= $AlignMicrosThreshold AS keep
       |FROM align ORDER BY doc_id""".stripMargin

  /** ALIGNMENT-GATED interleaved pack — [[imgtextAlign]] feeding
    * [[TextQueries.interleavedPackDocs]]: only documents whose
    * image-text pair scores at or above [[AlignMicrosThreshold]] carry
    * image slots; a misaligned pair packs as pure text (its tokens still
    * pack — only the image is dropped). The no-images degenerate case is
    * untouched (spec-pinned next to the unconditional pack's). */
  def alignedPack(s: SparkSession, d: String): DataFrame =
    TextQueries.interleavedPackDocs(
      s, documents(s, d), withImages = true,
      aligned =
        Some(imgtextAlign(s, d).filter(col("keep")).select("doc_id")))

  def alignedPackOracle: String =
    TextQueries.interleavedPackOracleWith(
      alignCtesSql + ",\n",
      s"doc_id % ${TextQueries.ImgEvery} = 0 AND doc_id IN " +
        s"(SELECT doc_id FROM align WHERE align_micros >= $AlignMicrosThreshold)")

  /** Segment count of the audio-text alignment feature vector: 16 equal
    * spans, matching the 16-dim text projection (every clip has
    * n ≥ 64 samples, so all 16 segments are non-empty at every SF). */
  val AudioAlignSegments = 16

  /** AUDIO-TEXT ALIGNMENT scoring — the reference's own domain is audio
    * with transcripts (`/root/reference/transcript-example.json`), and
    * this is the CLAP-style filter that decides whether a clip and its
    * transcript belong together before the pair enters training: per
    * document carrying audio (the doc_id % 3 == 1 residue,
    * [[graft.multimodal.Multimodal.mediaFromDocuments]]'s audio kind),
    * REALLY decode the WAV once ([[graft.multimodal.Multimodal.segmentAudio]]'s
    * PCM16-mono path), fold the samples into [[AudioAlignSegments]]
    * equal spans of summed energy (Σv², exact Long — the audio-encoder
    * stand-in, per the stub-codec contract), and score against the SAME
    * 16-dim [[textProjection]] the image alignment and cross-modal
    * retrieval faces share — one projected space across all modalities.
    * Cosine over the energy profile is invariant to uniform gain
    * (energies scale by gain², cosine is scale-free; spec-pinned with a
    * non-clamping 2× twin), which is exactly the invariance an
    * audio-alignment filter needs against re-encoded uploads.
    *
    * Scale shape: decode + energy fold is per-row flatMap work — the
    * blob never shuffles, only 16 small rows per clip; the pivot is a
    * clip-keyed groupBy; the score join is doc-keyed with row-local
    * `graft_dot` arithmetic. No corpus × corpus stage. */
  def audiotextAlign(s: SparkSession, d: String): DataFrame = {
    alignScores(audioEnergyFrame(s, d), textProjection(embeddings(s, d)))
      .orderBy("doc_id")
  }

  /** (doc_id, ih) 16-dim audio energy vectors of the audio-kind docs —
    * the audio-encoder-side artifact of the alignment family. */
  private[graft] def audioEnergyFrame(
      s: SparkSession, d: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val docs = documents(s, d)
      .filter(col("doc_id") % 3 === 1)
      .select("doc_id", "text")
    mm.segmentAudio(
        mm.syntheticWavCorpus(docs, "doc_id", "text"), AudioAlignSegments)
      .toDF()
      .groupBy("mediaId")
      .agg(sort_array(collect_list(struct(col("segmentIdx"), col("sumSq"))))
        .as("segs"))
      .select(
        col("mediaId").as("doc_id"),
        expr("transform(segs, x -> CAST(x.sumSq AS DOUBLE))").as("ih"))
  }

  def audiotextAlignOracle: String =
    s"""WITH ${wavSamplesCteSql(" WHERE doc_id % 3 = 1")},
       |aseg AS (
       |  SELECT doc_id,
       |    [CAST(list_sum(list_transform(
       |        s[(k * n) // $AudioAlignSegments + 1 : ((k + 1) * n) // $AudioAlignSegments],
       |        x -> x * x)) AS DOUBLE)
       |     FOR k IN range(0, $AudioAlignSegments)] AS ih
       |  FROM sm),
       |$tprojCteSql,
       |align AS (
       |  SELECT a.doc_id,
       |    CAST(round(list_dot_product(ih, tf)
       |      / (sqrt(list_dot_product(ih, ih)) * sqrt(list_dot_product(tf, tf)))
       |      * 1000000, 0) AS BIGINT) AS align_micros
       |  FROM aseg a JOIN tproj t ON a.doc_id = t.doc_id)
       |SELECT doc_id, align_micros,
       |  align_micros >= $AlignMicrosThreshold AS keep
       |FROM align ORDER BY doc_id""".stripMargin

  /** Query count / k of the cross-modal retrieval face. */
  val CrossModalQueries = 30
  val CrossModalK = 5

  /** CROSS-MODAL RETRIEVAL — text queries against an image index in the
    * shared projected space ([[Similarity.crossTopK]]): the retrieval
    * face of the alignment family (CLIP-style "find the images for this
    * caption"), composing the SAME two feature frames the alignment
    * score uses ([[imageFeatureFrame]] + [[textProjection]] — one
    * projection, two consumers, so retrieval and alignment can never
    * disagree about the space). For each of the first
    * [[CrossModalQueries]] text embeddings: the [[CrossModalK]] nearest
    * image-kind items by cosine, ranked through the bounded-heap top-k.
    *
    * Scale shape: feature extraction is per-row map work on the blob;
    * the query frame broadcasts; arrays are projected away before
    * ranking. This is the exact baseline — an image index that outgrows
    * one scan routes the same projected vectors through the IVF family
    * instead. */
  def crossmodalTopK(s: SparkSession, d: String): DataFrame = {
    val index = imageFeatureFrame(
        graft.multimodal.Multimodal.mediaFromDocuments(s, d))
      .select(col("doc_id").as("vec_id"), col("ih").as("emb"))
    val queries = textProjection(embeddings(s, d))
      .filter(col("doc_id") < CrossModalQueries)
      .select(col("doc_id").as("vec_id"), col("tf").as("emb"))
    graft.similarity.Similarity
      .crossTopK(index, queries, CrossModalK)
      .orderBy("q_vec_id", "rnk")
  }

  def crossmodalTopKOracle: String =
    s"""WITH $featureCtesSql,
       |n AS (SELECT doc_id AS vec_id, ih AS emb,
       |        sqrt(list_dot_product(ih, ih)) AS nrm FROM ihist),
       |q AS (SELECT doc_id AS q_vec_id, tf AS q_emb,
       |        sqrt(list_dot_product(tf, tf)) AS q_nrm
       |      FROM tproj WHERE doc_id < $CrossModalQueries),
       |scored AS (
       |  SELECT q_vec_id, vec_id,
       |    round(list_dot_product(emb, q_emb) / (nrm * q_nrm), 6) AS score
       |  FROM n, q),
       |r AS (SELECT q_vec_id, vec_id, score,
       |        row_number() OVER (PARTITION BY q_vec_id ORDER BY score DESC, vec_id ASC) AS rnk
       |      FROM scored)
       |SELECT q_vec_id, rnk, vec_id, score FROM r WHERE rnk <= $CrossModalK
       |ORDER BY q_vec_id, rnk""".stripMargin

  /** Fixed centroid ids of the cross-modal IVF index: image-kind doc
    * ids (multiples of 3), spread across the id range — the same
    * deterministic-centroid contract as [[IvfCentroidIds]]. */
  val CrossModalCentroidIds: Seq[Long] = (0 until 8).map(_ * 21L)

  /** Cross-modal probes wider than the intra-modal default: a text
    * query projected into the image space lands less cleanly in the
    * image-trained cells than an image would (the assignment geometry
    * belongs to the index's modality), so the cell restriction costs
    * more recall per probe and buys it back cheaply — 3 of 8 cells
    * still scans <40% of the index. */
  val CrossModalNProbe = 3

  /** CROSS-MODAL retrieval, the SCALE path ([[graft.similarity.Ivf
    * .fixedTopK]] with self-exclusion off): the same projected text
    * queries over the same image index as [[crossmodalTopK]], but
    * through IVF cells — the image index is scanned only in the
    * query's nProbe nearest cells, the 100-TB route the exact baseline
    * documents. CrossmodalRecallSpec pins recall@k against the exact
    * face; the two queries share [[imageFeatureFrame]] and
    * [[textProjection]] verbatim, so baseline and scale path search the
    * identical space. */
  def crossmodalIvf(s: SparkSession, d: String): DataFrame = {
    val index = imageFeatureFrame(
        graft.multimodal.Multimodal.mediaFromDocuments(s, d))
      .select(col("doc_id").as("vec_id"), col("ih").as("embedding"))
    val queries = textProjection(embeddings(s, d))
      .filter(col("doc_id") < CrossModalQueries)
      .select(col("doc_id").as("vec_id"), col("tf").as("embedding"))
    graft.similarity.Ivf
      .fixedTopK(index, queries, CrossModalCentroidIds, CrossModalNProbe,
        CrossModalK, excludeSelf = false)
      .orderBy("q_vec_id", "rnk")
  }

  def crossmodalIvfOracle: String = {
    val ids = CrossModalCentroidIds.mkString(", ")
    s"""WITH $featureCtesSql,
       |c0 AS (SELECT doc_id AS vec_id, ih AS emb FROM ihist),
       |q0 AS (SELECT doc_id AS vec_id, tf AS emb FROM tproj
       |       WHERE doc_id < $CrossModalQueries),
       |cent AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, emb AS cemb
       |  FROM c0 WHERE vec_id IN ($ids)),
       |asg AS (
       |  SELECT vec_id, emb, cell, sqrt(list_dot_product(emb, emb)) AS nrm FROM (
       |    SELECT a.vec_id, a.emb, c.cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        list_dot_product(a.emb, a.emb) - 2 * list_dot_product(a.emb, c.cemb) + list_dot_product(c.cemb, c.cemb) ASC,
       |        c.cell ASC) AS rn
       |    FROM c0 a CROSS JOIN cent c) WHERE rn = 1),
       |probes AS (
       |  SELECT q_vec_id, q_emb, cell, sqrt(list_dot_product(q_emb, q_emb)) AS q_nrm FROM (
       |    SELECT a.vec_id AS q_vec_id, a.emb AS q_emb, c.cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        list_dot_product(a.emb, a.emb) - 2 * list_dot_product(a.emb, c.cemb) + list_dot_product(c.cemb, c.cemb) ASC,
       |        c.cell ASC) AS rn
       |    FROM q0 a CROSS JOIN cent c) WHERE rn <= $CrossModalNProbe),
       |scored AS (
       |  SELECT p.q_vec_id, s.vec_id,
       |    round(list_dot_product(s.emb, p.q_emb) / (s.nrm * p.q_nrm), 6) AS score
       |  FROM asg s JOIN probes p ON s.cell = p.cell)
       |SELECT q_vec_id, CAST(rnk AS BIGINT) AS rnk, vec_id, score FROM (
       |  SELECT q_vec_id, vec_id, score,
       |    row_number() OVER (PARTITION BY q_vec_id ORDER BY score DESC, vec_id ASC) AS rnk
       |  FROM scored) WHERE rnk <= $CrossModalK
       |ORDER BY q_vec_id, rnk""".stripMargin
  }

  def qualityOracle: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS DOUBLE) AS n_chars,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_words,
      |    CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) AS n_punct,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it)\b')) AS DOUBLE) AS n_stop
      |  FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END AS length_ok,
      |    CASE WHEN (CASE WHEN n_words > 0 THEN n_chars / n_words ELSE 0 END) >= 3
      |          AND (CASE WHEN n_words > 0 THEN n_chars / n_words ELSE 0 END) <= 12
      |         THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END AS shape_ok,
      |    CASE WHEN n_chars > 0 AND n_punct / n_chars <= 0.1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END AS punct_ok,
      |    CASE WHEN n_words > 0 AND n_stop / n_words >= 0.05 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END AS stop_ok
      |  FROM m)
      |SELECT doc_id,
      |  round(length_ok * CAST(0.3 AS DOUBLE) + shape_ok * CAST(0.3 AS DOUBLE)
      |      + punct_ok * CAST(0.2 AS DOUBLE) + stop_ok * CAST(0.2 AS DOUBLE), 6) AS quality
      |FROM f ORDER BY doc_id""".stripMargin
}
