package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextFunctions

/** Document/text query surface: the oracle-checkable faces of the
  * reference's scalar text operators (SURVEY.md §2.2) plus the
  * training-data-pipeline text analysis extensions. All expressions are
  * pure `org.apache.spark.sql.functions` chains — whole-stage codegen'd,
  * fully pushdown-friendly (the parquet scan reads only the referenced
  * columns).
  */
object TextQueries {
  import Tables._

  /** F2(a,c) portable clean_text over a deliberately dirtied input (the
    * synthetic corpus is already clean, so the query manufactures the
    * whitespace runs / missing-space-after-punctuation cases that the
    * cleaning regexes exist for; /root/reference/preprocessor.py:69-89). */
  def cleanText(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        TextFunctions
          .cleanTextPortableCol(
            concat(col("text"), lit("  trailing.Tail  end"))
          )
          .as("clean_text")
      )
      .orderBy("doc_id")

  /** A9 token estimator (chars/4, min 1 —
    * /root/reference/llm_executor.py:389-397). */
  def tokenEstimate(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        TextFunctions.estimateTokensCol(col("text")).as("n_tokens_est"),
        TextFunctions.countTokensCol(col("text")).as("n_tokens_word")
      )
      .orderBy("doc_id")

  /** Token budget per packed training sequence (the reference's
    * max-tokens-per-chunk default — big_chunkeroosky.py:25). */
  val PackBudget = 4000L

  /** Greedy sequence packing: assign documents to fixed-token-budget
    * training sequences, per source, in doc_id order — the corpus-scale
    * face of the reference's greedy chunk packer (same prefix-sum
    * relaxation as `q_chunk_prefix`, but PARTITIONED by source, so the
    * cumulative window is keyed and scales out instead of collapsing to
    * one partition). bin = floor(tokens-before-this-doc / budget). */
  def packDocs(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    documents(s, d)
      .withColumn("n_tokens",
        TextFunctions.estimateTokensCol(col("text")).cast("long"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        expr(s"cum_before div $PackBudget").as("bin"))
      .orderBy("doc_id")
  }

  def packDocsOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(CASE WHEN text IS NULL OR length(text) = 0 THEN 0
       |         ELSE greatest(1, CAST(floor(length(text)/4) AS INTEGER)) END AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM t)
       |SELECT doc_id, source, n_tokens, cum_before // $PackBudget AS bin
       |FROM c ORDER BY doc_id""".stripMargin

  /** Document fingerprint: md5 over normalized text (exact-dedup anchor). */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        TextFunctions.fingerprintCol(col("text")).as("fingerprint")
      )
      .orderBy("doc_id")

  /** Exact dedup on a 50-char-prefix key (the full texts are all distinct in
    * the synthetic corpus; the prefix key manufactures real duplicate
    * groups). At scale this is the hash-groupBy dedup shape: one shuffle on
    * the fingerprint, min() as the keeper policy. */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(substring(col("text"), 1, 50)).as("dup_key"))
      .agg(
        min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_dups")
      )
      .orderBy("dup_key")

  /** Per-language corpus stats (counts + exact integer sums → stable avg). */
  def langStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        round(avg(col("n_chars")), 2).as("avg_chars")
      )
      .orderBy("lang")

  /** Vocabulary building: top-50 words by document frequency — the
    * classic map-reduce over a corpus (explode → distinct per doc →
    * count → top-N). At scale: the distinct and the count are both
    * partial-agg friendly; top-N is TakeOrderedAndProject (only 50 rows
    * per partition reach the driver-side merge). */
  def vocabTopK(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("word")
      )
      .filter(col("word") =!= "")
      .distinct()
      .groupBy("word")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("word").asc)
      .limit(50)

  /** Deterministic hash sampling (5% = 1-in-20 on an md5-derived hash of
    * the key): the scalable reproducible-sampling primitive for corpus
    * pipelines — a pure filter, no shuffle, no RNG state, stable across
    * runs/partitionings/engines (unlike `df.sample`). */
  def sampleHash(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(
        graft.dedup.Dedup
          .hash32(concat(lit("sample:"), col("doc_id").cast("string")))
          % 20 === 0
      )
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** BPE-ish pre-tokenizer pattern: letter runs, digit runs, punctuation
    * runs — each with an optional leading space (the GPT-2 pre-tokenizer
    * shape, minus the RE2-incompatible lookahead). ASCII classes keep it
    * byte-identical across java.util.regex and RE2. */
  val BpePattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"

  /** Subword-style token counting via [[BpePattern]] — the second
    * estimator family next to chars/4 and whitespace words (SURVEY §2.3
    * A9). */
  def tokenBpe(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
          .cast("long")
          .as("n_bpe")
      )
      .orderBy("doc_id")

  /** Real BPE token counting with the frozen learned merges table
    * ([[graft.textanalysis.Bpe.MergesWordFull]] — the full 127-merge
    * saturation table the word corpus supports) — the upgrade over
    * [[tokenBpe]]'s pre-tokenizer-only count. Scale shape: the merge fold
    * runs once per DISTINCT token type (Zipf: types ≪ occurrences), then
    * joins back to the per-(doc, token) counts — the corpus-wide path is
    * one explode + two keyed aggs, no per-occurrence re-encoding. The
    * table is past [[graft.textanalysis.Bpe.ExprMergeLimit]], so the
    * per-type encode takes the scalable priority-merge `encodeLocal`
    * path (broadcast ranks, `mapPartitions`) instead of a 127-deep
    * chained-replace expression. */
  def tokenBpeMerges(s: SparkSession, d: String): DataFrame =
    tokenBpeMergesDocs(documents(s, d),
      graft.textanalysis.Bpe.MergesWordFull).orderBy("doc_id")

  /** [[tokenBpeMerges]]'s core over an arbitrary documents frame and
    * merges table (shared with the held-out and stream faces). */
  private[graft] def tokenBpeMergesDocs(
      docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    import graft.textanalysis.Bpe
    val tok = docs.select(
      col("doc_id"),
      explode(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
        .as("tok"))
    val perDoc = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("n_occ"))
    val types = Bpe.subwordCountsForTypes(
      perDoc.select("tok").distinct(), "tok", merges)
    perDoc.join(types, Seq("tok"))
      .groupBy("doc_id")
      .agg(
        sum(col("n_occ")).as("n_tokens"),
        sum(col("n_occ") * col("n_sub")).as("n_subwords"))
  }

  /** DuckDB oracle for [[tokenBpeMerges]]: the IDENTICAL merge fold,
    * generated from the same frozen merges table, chunked into a CTE
    * chain (16 merges per level) so expression nesting stays bounded, and
    * applied per DISTINCT type exactly like the Spark side. */
  def tokenBpeMergesOracle: String = {
    import graft.textanalysis.Bpe
    val (ctes, last) = Bpe.oracleEncodeCtesSql("types", Bpe.MergesWordFull)
    val nSub = Bpe.oracleSubwordCountSql("enc")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '$BpePattern')) AS tok
       |  FROM documents),
       |types AS (SELECT DISTINCT tok FROM tok),
       |$ctes
       |cnts AS (SELECT tok, $nSub AS n_sub FROM $last)
       |SELECT doc_id,
       | CAST(count(*) AS BIGINT) AS n_tokens,
       | CAST(sum(n_sub) AS BIGINT) AS n_subwords
       |FROM tok JOIN cnts USING (tok)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Tokenizer FERTILITY by language — subword tokens emitted per
    * pre-token, the number that prices a multilingual training mix
    * (high-fertility languages cost proportionally more sequence length
    * per document; real-world BPE fertility runs 2–4× higher on scripts
    * the merges were not trained on). Reuses [[tokenBpeMergesDocs]]'s
    * distinct-type encode + join-back, then one lang-keyed partial-agg
    * rollup; the ratio is exact integer micros (`div`), engine-portable.
    *
    * Runs with a 16-merge PREFIX of the frozen table — an
    * under-trained tokenizer, deliberately: the full 127-merge table
    * saturates the fixture vocabulary (every word → 1 subword,
    * fertility ≡ 1.0 for every language — measured, and exactly the
    * degenerate readout this query exists to surface), while the prefix
    * leaves languages differentially unmerged, which is the real-world
    * situation fertility accounting prices. */
  val FertilityMerges = 16

  def tokenFertility(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    tokenBpeMergesDocs(docs,
        graft.textanalysis.Bpe.MergesWordFull.take(FertilityMerges))
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_subwords")).as("n_subwords"))
      .withColumn(
        "fertility_micros",
        expr("(n_subwords * 1000000) div n_tokens"))
      .orderBy("lang")
  }

  def tokenFertilityOracle: String = {
    import graft.textanalysis.Bpe
    val (ctes, last) = Bpe.oracleEncodeCtesSql(
      "types", Bpe.MergesWordFull.take(FertilityMerges))
    val nSub = Bpe.oracleSubwordCountSql("enc")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '$BpePattern')) AS tok
       |  FROM documents),
       |types AS (SELECT DISTINCT tok FROM tok),
       |$ctes
       |cnts AS (SELECT tok, $nSub AS n_sub FROM $last),
       |perdoc AS (
       |  SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_sub) AS BIGINT) AS n_subwords
       |  FROM tok JOIN cnts USING (tok)
       |  GROUP BY doc_id)
       |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(p.n_subwords) AS BIGINT) AS n_subwords,
       |  CAST(sum(p.n_subwords) * 1000000 // sum(p.n_tokens) AS BIGINT) AS fertility_micros
       |FROM perdoc p JOIN documents d USING (doc_id)
       |GROUP BY d.lang
       |ORDER BY d.lang""".stripMargin
  }

  /** TOKENIZER-HEALTH drift monitor — the frozen-merge-table member of
    * the drift family (quality drift watches the filter distribution,
    * cell drift the embedding geometry; THIS watches whether the
    * DEPLOYED tokenizer still fits arriving data): per language,
    * fertility (subwords per token, exact integer micros) of the corpus
    * the merges were trained on vs the arriving batch, encoded under
    * the SAME frozen merge table. Rising batch fertility means arriving
    * text fragments into more subwords than the corpus did — the
    * measured retrain trigger for the tokenizer, next to the geometric
    * and retrieval triggers the embedding artifacts have. A language
    * absent from one side reads fertility 0 there (documented
    * convention — absence IS maximal drift for routing purposes).
    *
    * Scale shape: ONE encode pass over distinct token types (the
    * family's per-type discipline) joined back per doc, one lang-keyed
    * groupBy with conditional sums — the split adds no second scan. */
  def fertilityDrift(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    tokenBpeMergesDocs(docs,
        graft.textanalysis.Bpe.MergesWordFull.take(FertilityMerges))
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("is_batch",
        (col("doc_id") % PipelineQueries.IncrementalMod === 0).cast("long"))
      .groupBy("lang")
      .agg(
        sum(when(col("is_batch") === 0L, col("n_tokens")).otherwise(0L))
          .as("corpus_tokens"),
        sum(when(col("is_batch") === 0L, col("n_subwords")).otherwise(0L))
          .as("corpus_subwords"),
        sum(when(col("is_batch") === 1L, col("n_tokens")).otherwise(0L))
          .as("batch_tokens"),
        sum(when(col("is_batch") === 1L, col("n_subwords")).otherwise(0L))
          .as("batch_subwords"))
      .withColumn("corpus_fertility_micros",
        expr("coalesce(corpus_subwords * 1000000 div nullif(corpus_tokens, 0), 0)"))
      .withColumn("batch_fertility_micros",
        expr("coalesce(batch_subwords * 1000000 div nullif(batch_tokens, 0), 0)"))
      .withColumn("drift_micros",
        abs(col("batch_fertility_micros") - col("corpus_fertility_micros")))
      .select("lang", "corpus_tokens", "batch_tokens",
        "corpus_fertility_micros", "batch_fertility_micros", "drift_micros")
      .orderBy("lang")
  }

  def fertilityDriftOracle: String = {
    import graft.textanalysis.Bpe
    val (ctes, last) = Bpe.oracleEncodeCtesSql(
      "types", Bpe.MergesWordFull.take(FertilityMerges))
    val nSub = Bpe.oracleSubwordCountSql("enc")
    val mod = PipelineQueries.IncrementalMod
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '$BpePattern')) AS tok
       |  FROM documents),
       |types AS (SELECT DISTINCT tok FROM tok),
       |$ctes
       |cnts AS (SELECT tok, $nSub AS n_sub FROM $last),
       |perdoc AS (
       |  SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_sub) AS BIGINT) AS n_subwords
       |  FROM tok JOIN cnts USING (tok)
       |  GROUP BY doc_id),
       |agg AS (
       |  SELECT d.lang,
       |    CAST(sum(CASE WHEN d.doc_id % $mod <> 0 THEN p.n_tokens ELSE 0 END) AS BIGINT) AS corpus_tokens,
       |    CAST(sum(CASE WHEN d.doc_id % $mod <> 0 THEN p.n_subwords ELSE 0 END) AS BIGINT) AS corpus_subwords,
       |    CAST(sum(CASE WHEN d.doc_id % $mod = 0 THEN p.n_tokens ELSE 0 END) AS BIGINT) AS batch_tokens,
       |    CAST(sum(CASE WHEN d.doc_id % $mod = 0 THEN p.n_subwords ELSE 0 END) AS BIGINT) AS batch_subwords
       |  FROM perdoc p JOIN documents d USING (doc_id)
       |  GROUP BY d.lang)
       |SELECT lang, corpus_tokens, batch_tokens,
       |  CAST(coalesce(corpus_subwords * 1000000 // nullif(corpus_tokens, 0), 0) AS BIGINT) AS corpus_fertility_micros,
       |  CAST(coalesce(batch_subwords * 1000000 // nullif(batch_tokens, 0), 0) AS BIGINT) AS batch_fertility_micros,
       |  CAST(abs(coalesce(batch_subwords * 1000000 // nullif(batch_tokens, 0), 0)
       |         - coalesce(corpus_subwords * 1000000 // nullif(corpus_tokens, 0), 0)) AS BIGINT) AS drift_micros
       |FROM agg
       |ORDER BY lang""".stripMargin
  }

  /** Production-scale BPE: the 512-merge frozen table
    * ([[graft.textanalysis.Bpe.Merges512Hex]]) over the high-entropy
    * md5-hex chunk stream (the 61-word fixture vocabulary saturates
    * word-level training at 127 merges, so a ≥512-merge table needs the
    * derived stream — deterministic, so DuckDB recomputes it exactly).
    * Same distinct-type + join-back shape as [[tokenBpeMerges]]; the
    * encode is the priority-merge `encodeLocal` path — a 512-deep
    * expression fold would blow codegen. */
  def tokenBpe512(s: SparkSession, d: String): DataFrame = {
    import graft.textanalysis.Bpe
    val tok = Bpe.hexTokenStream(documents(s, d))
    val perDoc = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("n_occ"))
    val types = Bpe.subwordCountsForTypes(
      perDoc.select("tok").distinct(), "tok", Bpe.Merges512Hex)
    perDoc.join(types, Seq("tok"))
      .groupBy("doc_id")
      .agg(
        sum(col("n_occ")).as("n_tokens"),
        sum(col("n_occ") * col("n_sub")).as("n_subwords"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[tokenBpe512]]: the identical 512-merge fold as
    * a 32-level CTE chain over the recomputed hex stream. */
  def tokenBpe512Oracle: String = {
    import graft.textanalysis.Bpe
    val chunks = (0 until Bpe.HexChunksPerDoc)
      .map(i => s"md5(text || ':$i')").mkString(", ")
    val (ctes, last) = Bpe.oracleEncodeCtesSql("types", Bpe.Merges512Hex)
    val nSub = Bpe.oracleSubwordCountSql("enc")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest([$chunks]) AS tok FROM documents),
       |types AS (SELECT DISTINCT tok FROM tok),
       |$ctes
       |cnts AS (SELECT tok, $nSub AS n_sub FROM $last)
       |SELECT doc_id,
       | CAST(count(*) AS BIGINT) AS n_tokens,
       | CAST(sum(n_sub) AS BIGINT) AS n_subwords
       |FROM tok JOIN cnts USING (tok)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Realistic-vocabulary BPE: the 4096-merge table
    * ([[graft.textanalysis.Bpe.Merges4kHex]], trained on the synthetic
    * high-entropy stream) applied to the same md5-hex chunk stream as
    * [[tokenBpe512]]. Same distinct-type + join-back shape; encode runs
    * the priority-merge `encodeLocal` path, whose per-type cost depends
    * on token LENGTH, not table size — the claim the 8× table-size jump
    * from 512 exists to measure. */
  def tokenBpe4k(s: SparkSession, d: String): DataFrame = {
    import graft.textanalysis.Bpe
    val tok = Bpe.hexTokenStream(documents(s, d))
    val perDoc = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("n_occ"))
    val types = Bpe.subwordCountsForTypes(
      perDoc.select("tok").distinct(), "tok", Bpe.Merges4kHex)
    perDoc.join(types, Seq("tok"))
      .groupBy("doc_id")
      .agg(
        sum(col("n_occ")).as("n_tokens"),
        sum(col("n_occ") * col("n_sub")).as("n_subwords"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[tokenBpe4k]]: the identical 4096-merge fold as
    * a 256-level CTE chain over the recomputed hex stream. */
  def tokenBpe4kOracle: String = {
    import graft.textanalysis.Bpe
    val chunks = (0 until Bpe.HexChunksPerDoc)
      .map(i => s"md5(text || ':$i')").mkString(", ")
    val (ctes, last) = Bpe.oracleEncodeCtesSql("types", Bpe.Merges4kHex)
    val nSub = Bpe.oracleSubwordCountSql("enc")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest([$chunks]) AS tok FROM documents),
       |types AS (SELECT DISTINCT tok FROM tok),
       |$ctes
       |cnts AS (SELECT tok, $nSub AS n_sub FROM $last)
       |SELECT doc_id,
       | CAST(count(*) AS BIGINT) AS n_tokens,
       | CAST(sum(n_sub) AS BIGINT) AS n_subwords
       |FROM tok JOIN cnts USING (tok)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Word-repetition stats (Gopher-style repetition quality signal): per
    * doc, the most frequent word's share of all words. High top-word
    * ratios flag template/boilerplate documents in a curation pipeline.
    * Ties break to the lexicographically smallest word. */
  def wordRepetition(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = documents(s, d)
      .select(
        col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("freq"))
    cnt
      .withColumn(
        "n_words",
        sum(col("freq")).over(Window.partitionBy("doc_id")))
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy("doc_id").orderBy(col("freq").desc, col("word").asc)))
      .filter(col("rn") === 1)
      .select(
        col("doc_id"),
        col("n_words"),
        col("word").as("top_word"),
        col("freq").as("top_freq"),
        round(col("freq") / col("n_words"), 6).as("top_ratio"))
      .orderBy("doc_id")
  }

  /** PII redaction: scrub emails and phone-shaped tokens. The synthetic
    * corpus contains none, so the query plants one of each (derived from
    * doc_id) and then redacts — exercising the full
    * detect-count-replace path a curation pipeline runs. Pure per-row
    * projection: no shuffle, scales embarrassingly. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b555-[0-9]{4}\\b"

  def redactPii(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn(
        "dirty",
        concat(
          col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("dirty"), lit(EmailPattern), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("dirty"), lit(PhonePattern), lit(0)))
          .cast("long").as("n_phones"),
        regexp_replace(
          regexp_replace(col("dirty"), EmailPattern, "<EMAIL>"),
          PhonePattern, "<PHONE>").as("redacted"))
      .orderBy("doc_id")

  /** Deterministic train/val/test split assignment (hash mod 100:
    * 80/10/10) — reproducible across runs, partitionings and engines,
    * reported as per-(lang, split) counts. */
  def splitAssign(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn(
        "h",
        graft.dedup.Dedup
          .hash32(concat(lit("split:"), col("doc_id").cast("string"))) % 100)
      .withColumn(
        "split",
        when(col("h") < 80, "train").when(col("h") < 90, "val")
          .otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "split")

  /** Dictionary token-id encoding — the text→ids transformation every
    * training pipeline ends with: build a frequency-ranked vocab of
    * BPE-ish tokens, broadcast it, and rewrite each document as its
    * ordered id sequence (unknown → -1). At scale the vocab is a small
    * broadcast dictionary (here top-256) and the encode is a map-side
    * join — the corpus never shuffles for the lookup; the only wide op is
    * the per-doc sequence reassembly. */
  val VocabSize = 256

  def tokenIds(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(
        col("doc_id"),
        posexplode(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
          .as(Seq("pos", "tok")))
    // Top-N first (TakeOrderedAndProject — no global single-partition
    // window over the whole vocabulary). Ranking the VocabSize survivors
    // happens on the driver (bounded collect, the dictionary is broadcast
    // back anyway) — no global row_number window at all.
    val top = tok
      .groupBy("tok")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(VocabSize)
      .collect()
    val vocab = {
      import s.implicits._
      top.zipWithIndex
        .map { case (r, i) => (r.getAs[String]("tok"), i.toLong) }
        .toSeq.toDF("tok", "tid")
    }
    tok
      .join(broadcast(vocab), Seq("tok"), "left")
      .withColumn("tid", coalesce(col("tid"), lit(-1L)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("tid") === -1L, 1L).otherwise(0L)).as("n_unk"),
        graft.queries.EventQueries
          .orderedStringAgg(col("pos"), col("tid").cast("string"), "_")
          .as("token_ids"))
      .orderBy("doc_id")
  }

  /** BPE DECODE round-trip — ids → text against the same frozen
    * [[graft.textanalysis.Bpe.MergesWordFull]] table the encode queries
    * use, the inverse a user reaches for first when inspecting a packed
    * shard. Per DISTINCT type, [[graft.textanalysis.Bpe
    * .encodeIdsForTypes]] emits the id sequence (code points + merge
    * ids) and [[graft.textanalysis.Bpe.decodeIdsForTypes]] inverts it
    * using ONLY the ≤|merges|-row id table; per document the decoded
    * tokens reassemble in position order. The oracle pins two things
    * independently: the id-sequence SHAPE (n_ids == the subword count of
    * the shared encode CTEs) and the decoded TEXT (== the pre-token
    * concatenation — the round-trip identity over the pre-token
    * alphabet; BpeDecodeSpec property-pins decode∘encode == id across
    * all three frozen table sizes).
    *
    * Scale shape: encode+decode run once per distinct type (Zipf) and
    * join back; reassembly is one doc-keyed agg. Nothing corpus-sized
    * ever hits the driver; the id tables are broadcasts. */
  def tokenDecode(s: SparkSession, d: String): DataFrame = {
    import graft.textanalysis.Bpe
    val merges = Bpe.MergesWordFull
    val tok = documents(s, d).select(
      col("doc_id"),
      posexplode(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
        .as(Seq("pos", "tok")))
    val decoded = Bpe.decodeIdsForTypes(
      Bpe.encodeIdsForTypes(tok.select("tok").distinct(), "tok", merges),
      "tok", merges)
    tok.join(decoded, Seq("tok"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(size(col("ids"))).cast("long").as("n_ids"),
        graft.queries.EventQueries
          .orderedStringAgg(col("pos"), col("dec"), "").as("decoded"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[tokenDecode]]: n_ids replays the shared
    * 127-merge encode CTEs (the independent id-sequence-length check);
    * `decoded` is the separator-stripped token re-concatenated in
    * position order — what a CORRECT decode must reproduce from ids
    * alone. */
  def tokenDecodeOracle: String = {
    import graft.textanalysis.Bpe
    val (ctes, last) = Bpe.oracleEncodeCtesSql("types", Bpe.MergesWordFull)
    val nSub = Bpe.oracleSubwordCountSql("enc")
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(text, '$BpePattern') AS l FROM documents),
       |tok AS (SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS tok FROM t),
       |types AS (SELECT DISTINCT tok FROM tok),
       |$ctes
       |cnts AS (SELECT tok, $nSub AS n_sub, replace(enc, chr(31), '') AS dec FROM $last)
       |SELECT doc_id,
       | CAST(count(*) AS BIGINT) AS n_tokens,
       | CAST(sum(n_sub) AS BIGINT) AS n_ids,
       | string_agg(dec, '' ORDER BY pos) AS decoded
       |FROM tok JOIN cnts USING (tok)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** M3 sentence explode via the portable (RE2-safe, no-lookbehind) split
    * pattern; ordered by (doc_id, sentence) for a deterministic total order
    * even when a document repeats a sentence. */
  /** Per-language keep percentages for [[stratifiedSample]] — the single
    * source for BOTH engines' predicates (langs not listed keep 10%). */
  val StratRates: Seq[(String, Int)] = Seq("en" -> 50, "fr" -> 30)
  val StratDefault = 10

  /** Stratified deterministic downsampling: per-class keep rates applied
    * via the engine's portable md5 hash — the class-balanced twin of the
    * uniform `q_sample_hash`. A pure pushed filter: no shuffle, no RNG
    * state, reproducible at any scale and stable under re-partitioning. */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val bucket = expr(
      "CAST(conv(substr(md5(concat('strat:', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 100")
    val rate = StratRates.foldLeft(lit(StratDefault)) {
      case (acc, (l, r)) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    documents(s, d)
      .filter(bucket < rate)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  def stratifiedSampleOracle: String = {
    val cases = StratRates
      .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString(" ")
    s"""SELECT doc_id, lang FROM documents
       |WHERE CAST('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
       |  < (CASE $cases ELSE $StratDefault END)
       |ORDER BY doc_id""".stripMargin
  }

  /** Bigram LM scoring with add-one smoothing — the KenLM-shaped upgrade
    * over [[lmScore]]'s unigram model (CCNet scores documents with a
    * 5-gram KenLM; a corpus-trained bigram is the same mechanism at the
    * order an offline SQL oracle can reproduce). Per transition:
    * P(w2|w1) = (c(w1w2)+1) / (c(w1)+V); per doc: mean NLL in exact
    * integer micros (ln of identical doubles in both engines, the same
    * discipline BM25/lmScore already rely on).
    *
    * Scale shape: bigram rows join the bigram-count table on the bigram
    * key and the unigram-count table on w1 — both keyed shuffles that
    * AQE may broadcast when small; V is a broadcast scalar. Documents
    * with fewer than two tokens have no transitions and no row (same in
    * the oracle). At web scale the string join keys would be hashed to
    * 60-bit longs pre-shuffle like every dedup key in this repo. */
  def lmBigram(s: SparkSession, d: String): DataFrame = {
    val clean = documents(s, d)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), x -> x <> '')").as("wd"))
    val uni = clean
      .select(explode(col("wd")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vTotal = uni.agg(count(lit(1)).as("v"))
    val bigRows = clean
      .filter(size(col("wd")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(wd) - 1), i -> named_struct(" +
          "'w1', element_at(wd, CAST(i AS INT)), " +
          "'bg', concat(element_at(wd, CAST(i AS INT)), '_', " +
          "element_at(wd, CAST(i + 1 AS INT)))))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.bg").as("bg"))
    val big = bigRows.groupBy("bg").agg(count(lit(1)).as("c2"))
    bigRows
      .join(big, Seq("bg"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vTotal))
      .withColumn(
        "lp",
        round(log((col("c2") + 1).cast("double") /
          (col("c1") + col("v")).cast("double")) * 1e6, 0).cast("long"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round((-sum(col("lp"))).cast("double") / count(lit(1)), 0)
          .cast("long").as("mean_nll_micro"))
      .orderBy("doc_id")
  }

  def lmBigramOracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS wd
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, wd[i] AS w1, wd[i] || '_' || wd[i+1] AS bg
      |  FROM (SELECT doc_id, wd, unnest(range(1, greatest(len(wd), 1))) AS i FROM t)),
      |uni AS (SELECT w1, count(*) AS c1 FROM (SELECT unnest(wd) AS w1 FROM t) GROUP BY 1),
      |v AS (SELECT count(*) AS v FROM uni),
      |sc AS (
      |  SELECT doc_id,
      |    CAST(round(ln(CAST(c2 + 1 AS DOUBLE) / (c1 + v)) * 1e6, 0) AS BIGINT) AS lp
      |  FROM bg
      |  JOIN (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1) big USING (bg)
      |  JOIN uni USING (w1) CROSS JOIN v)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(round(CAST(-sum(lp) AS DOUBLE) / count(*), 0) AS BIGINT) AS mean_nll_micro
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val QuotaPerSource = 10

  /** Per-domain quota sampling — the crawl-curation op that stops any
    * single domain from dominating the training mix: keep at most
    * [[QuotaPerSource]] documents per source, chosen by deterministic
    * hash order (an unbiased, reproducible within-domain sample, same
    * discipline as [[sampleHash]]). Runs on the custom
    * [[graft.plans.TopKPerKey]] heap operator: the partial pass keeps
    * ≤ k rows per (source, partition) BEFORE the shuffle, so a 100×
    * over-quota domain ships k·partitions rows, not its whole corpus —
    * the shape a row_number window cannot give you. */
  def domainQuota(s: SparkSession, d: String): DataFrame = {
    val hashed = documents(s, d)
      .withColumn(
        "h",
        graft.dedup.Dedup
          .hash60(concat(lit("quota:"), col("doc_id").cast("string"))))
      .select("source", "doc_id", "h")
    graft.plans.TopKPerKey
      .topK(
        hashed,
        keys = Seq(col("source")),
        ordering = Seq(col("h").asc, col("doc_id").asc),
        k = QuotaPerSource)
      .select("source", "rnk", "doc_id")
      .orderBy("source", "rnk")
  }

  def domainQuotaOracle: String =
    s"""SELECT source, rnk, doc_id FROM (
       |  SELECT source, doc_id,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY CAST('0x' || substr(md5('quota:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) ASC,
       |      doc_id ASC) AS BIGINT) AS rnk
       |  FROM documents)
       |WHERE rnk <= $QuotaPerSource
       |ORDER BY source, rnk""".stripMargin

  /** Temperature-based domain mixing weights — the sampling-mix step of
    * every multi-domain training run (GPT-3/LLaMA-style): domain d is
    * sampled ∝ n_d^α with α < 1, upweighting small domains relative to
    * raw token share. α is pinned at 1/2: `sqrt` is correctly rounded
    * under IEEE 754 in both engines, a general `pow(x, α)` is not.
    * Output per source: doc/token counts, the unnormalized score in
    * exact integer micros, and the normalized sampling weight.
    *
    * Determinism discipline: tokens are the engine's canonical integer
    * estimator (chars div 4 — the reference's documented fallback,
    * llm_executor.py:389-397), the score is `round(1e6·sqrt(tokens))`
    * (sqrt correctly rounded, multiply exact-input, round half-up —
    * identical doubles in Spark and DuckDB), and normalization divides
    * two EXACT integers (micros over summed micros), so no
    * float-accumulation order exists anywhere. Scale shape: one
    * partial-aggregated groupBy on the (tiny) domain key, a 1-row total
    * broadcast back — the corpus shuffles nothing but its per-domain
    * partial sums. */
  def mixWeights(s: SparkSession, d: String): DataFrame = {
    val per = documents(s, d)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(expr("n_chars div 4")).as("n_tokens"))
      .withColumn(
        "s_micros",
        round(sqrt(col("n_tokens").cast("double")) * 1e6, 0).cast("long"))
    val tot = per.agg(sum("s_micros").as("tot_micros"))
    per
      .crossJoin(broadcast(tot))
      .withColumn(
        "weight",
        round(
          col("s_micros").cast("double") / col("tot_micros").cast("double"),
          6))
      .select("source", "n_docs", "n_tokens", "s_micros", "weight")
      .orderBy("source")
  }

  def mixWeightsOracle: String =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(n_chars // 4) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |s AS (SELECT *,
      |  CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000, 0) AS BIGINT) AS s_micros
      |  FROM per),
      |t AS (SELECT CAST(sum(s_micros) AS BIGINT) AS tot FROM s)
      |SELECT source, n_docs, n_tokens, s_micros,
      |  round(CAST(s_micros AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS weight
      |FROM s, t ORDER BY source""".stripMargin

  /** EPOCH-SCHEDULE materialization — the step that turns [[mixWeights]]'
    * per-source target weights into an actual per-document repetition
    * plan (LLaMA/DoReMi-style up/down-sampling with fractional epochs):
    * a source whose target share u exceeds its natural share repeats its
    * documents ⌊u⌋ times, plus one extra epoch for the deterministic
    * frac(u)-fraction of documents selected by a seeded md5 residue —
    * so the realized token mix converges to the target with NO
    * randomness (re-running the pipeline anywhere reproduces the exact
    * schedule, the same determinism contract as [[graft.operators.Sharding]]).
    * Per source: the integer-micros upsample factor, document count,
    * total emitted copies, and the extra-epoch count.
    *
    * Scale shape: the factor table is #sources rows (broadcast); the
    * per-doc pass is one map (hash + compare) and a source-keyed
    * partial-agg rollup — one corpus scan, no joins beyond the
    * broadcast. */
  def epochSchedule(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val per = docs
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(expr("n_chars div 4")).as("n_tokens"))
      .withColumn(
        "s_micros",
        round(sqrt(col("n_tokens").cast("double")) * 1e6, 0).cast("long"))
    val tot = per.agg(
      sum("s_micros").as("tot_micros"), sum("n_tokens").as("tot_tokens"))
    // Fixed left-assoc double chain — identical operation order in the
    // oracle, so the rounded micros are bit-identical cross-engine.
    // A zero-token source has nothing to schedule and would divide to
    // ±inf — excluded here (and in the oracle) rather than emitting a
    // null factor row.
    val fac = per.filter(col("n_tokens") > 0L).crossJoin(broadcast(tot))
      .withColumn(
        "u_micros",
        expr("CAST(round(CAST(s_micros AS DOUBLE) / CAST(tot_micros AS DOUBLE)" +
          " * CAST(tot_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)" +
          " * 1000000.0, 0) AS BIGINT)"))
      .select("source", "u_micros")
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(fac), Seq("source"))
      .withColumn(
        "frac",
        graft.dedup.Dedup.hash60(
          concat(lit("epoch:"), col("doc_id").cast("string"))) % 1000000L)
      .withColumn(
        "extra",
        when(col("frac") < col("u_micros") % 1000000L, 1L).otherwise(0L))
      .groupBy("source")
      .agg(
        max("u_micros").as("u_micros"),
        count(lit(1)).as("n_docs"),
        sum(expr("u_micros div 1000000") + col("extra")).as("n_emitted"),
        sum(col("extra")).as("n_extra"))
      .orderBy("source")
  }

  def epochScheduleOracle: String =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(n_chars // 4) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |s AS (SELECT *,
      |  CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000, 0) AS BIGINT) AS s_micros
      |  FROM per),
      |t AS (SELECT CAST(sum(s_micros) AS BIGINT) AS tot_micros,
      |  CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM s),
      |f AS (SELECT source,
      |  CAST(round(CAST(s_micros AS DOUBLE) / CAST(tot_micros AS DOUBLE)
      |    * CAST(tot_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |    * 1000000.0, 0) AS BIGINT) AS u_micros
      |  FROM s, t WHERE n_tokens > 0),
      |r AS (SELECT d.source, f.u_micros,
      |  CAST('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 AS frac
      |  FROM documents d JOIN f USING (source))
      |SELECT source, CAST(max(u_micros) AS BIGINT) AS u_micros,
      |  count(*) AS n_docs,
      |  CAST(sum(u_micros // 1000000
      |    + CASE WHEN frac < u_micros % 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_emitted,
      |  CAST(sum(CASE WHEN frac < u_micros % 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_extra
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Passage window length (tokens) for [[passageChunks]]. */
  val PassageLen = 48

  /** Passage stride — windows overlap by PassageLen − PassageStride
    * tokens (the standard RAG-ingestion overlap so no answer span is
    * split across a boundary without a window that contains it whole). */
  val PassageStride = 32

  /** RAG-style PASSAGE CHUNKING — fixed-length sliding token windows
    * with stride over every document (the retrieval-ingestion
    * counterpart of the reference's greedy transcript chunker, which
    * packs variable segments; here windows are position-regular so
    * retrieval offsets are reconstructible from (doc_id, window_id)
    * alone). Window w covers token positions [w·stride, w·stride+len);
    * the final window may be short; empty documents emit nothing.
    * Output per (doc_id, window_id): start_tok, n_toks, and an exact
    * integer content checksum Σ (hash60(tok) mod 1000003)·(local_pos+1).
    *
    * Scale shape: ONE tokenizing scan, and each token maps ITSELF to
    * its ≤ ⌈len/stride⌉ covering windows map-side (the closed-form
    * window range, no window table, no join), then a (doc, window)-
    * keyed partial agg. Never a per-doc sort or corpus-wide window. */
  def passageChunks(s: SparkSession, d: String): DataFrame = {
    val P = PassageLen
    val S = PassageStride
    val toks = documents(s, d).select(
      col("doc_id"),
      posexplode(
        regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
        .as(Seq("pos", "tok")))
    toks
      .select(
        col("doc_id"), col("pos"),
        (graft.dedup.Dedup.hash60(col("tok")) % 1000003L).as("h"),
        explode(expr(
          s"sequence(greatest(0, (pos - $P + $S) div $S), pos div $S)"))
          .as("w"))
      .groupBy("doc_id", "w")
      .agg(
        count(lit(1)).as("n_toks"),
        sum(col("h") * (col("pos") - col("w") * S + lit(1L))).as("checksum"))
      .select(
        col("doc_id"), col("w").cast("long").as("window_id"),
        (col("w") * S).cast("long").as("start_tok"),
        col("n_toks"), col("checksum"))
      .orderBy("doc_id", "window_id")
  }

  def passageChunksOracle: String = {
    val P = PassageLen
    val S = PassageStride
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(text, '$BpePattern') AS l
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS tok
       |  FROM t),
       |h AS (
       |  SELECT doc_id, pos,
       |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1000003 AS h
       |  FROM tok),
       |tw AS (
       |  SELECT doc_id, pos, h,
       |    unnest(range(greatest(0, (pos - $P + $S) // $S), pos // $S + 1)) AS w
       |  FROM h)
       |SELECT doc_id, CAST(w AS BIGINT) AS window_id,
       |  CAST(w * $S AS BIGINT) AS start_tok,
       |  count(*) AS n_toks,
       |  CAST(sum(h * (pos - w * $S + 1)) AS BIGINT) AS checksum
       |FROM tw GROUP BY doc_id, w
       |ORDER BY doc_id, window_id""".stripMargin
  }

  /** PASSAGE-level BM25 — the RAG retrieval shape: queries retrieve
    * top-k PASSAGES, not documents, so the answer span comes back with
    * its surrounding window rather than a whole document. Composes
    * [[passageChunks]]' sliding windows (each passage's text re-stitched
    * from its sorted (pos, tok) pairs — per-window bounded, ≤
    * [[PassageLen]] tokens) with the UNCHANGED [[bm25QueriesDf]] ranker;
    * passage id = doc_id·10^6 + window_id (window counts are far below
    * 10^6 at any document length this tokenizer produces). The same
    * [[Bm25QueryFixture]] queries as the document-level ranker, so the
    * two granularities are directly comparable.
    *
    * Scale shape: passage construction is the chunker's map-side window
    * assignment + a (doc, window)-keyed bounded collect; the ranker's
    * own scale story (broadcast query terms, df/tf partial aggs, heap
    * top-k) is unchanged. */
  def bm25Passages(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    import s.implicits._
    val P = PassageLen
    val S = PassageStride
    val toks = docs.select(
      col("doc_id"),
      posexplode(
        regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
        .as(Seq("pos", "tok")))
    val passages = toks
      .select(
        col("doc_id"), col("pos"), col("tok"),
        explode(expr(
          s"sequence(greatest(0, (pos - $P + $S) div $S), pos div $S)"))
          .as("w"))
      .groupBy("doc_id", "w")
      .agg(sort_array(collect_list(struct(col("pos"), col("tok")))).as("ts"))
      .select(
        // The encoding assumes < 10^6 windows per document (~32M tokens
        // at this stride); enforce it IN the plan so a pathological
        // document fails the job loudly instead of silently colliding
        // passage ids across documents.
        (col("doc_id") * 1000000L +
          when(col("w") < 1000000L, col("w"))
            .otherwise(raise_error(concat(
              lit("bm25Passages: window_id overflows the doc_id*1e6 " +
                "passage encoding for doc_id="), col("doc_id").cast("string")))
              .cast("long"))).as("doc_id"),
        expr("array_join(transform(ts, t -> t.tok), ' ')").as("text"))
    bm25QueriesDf(
      passages, Bm25QueryFixture.toDF("query_id", "qtext"), RrfTopK)
  }

  def bm25PassagesOracle: String = {
    val P = PassageLen
    val S = PassageStride
    val values = Bm25QueryFixture
      .map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    s"""WITH q(query_id, qtext) AS (VALUES $values),
       |qt AS (SELECT DISTINCT query_id, word FROM (
       |  SELECT query_id, unnest(string_split_regex(lower(qtext), '\\s+')) AS word
       |  FROM q) WHERE word <> ''),
       |t AS (SELECT doc_id, regexp_extract_all(text, '$BpePattern') AS l FROM documents),
       |tok AS (SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS tok FROM t),
       |tw AS (
       |  SELECT doc_id, pos, tok,
       |    unnest(range(greatest(0, (pos - $P + $S) // $S), pos // $S + 1)) AS w
       |  FROM tok),
       |w2 AS (
       |  -- BpePattern tokens carry an optional LEADING SPACE; the Spark
       |  -- side re-splits the stitched passage text on whitespace, which
       |  -- strips it — trim to the same word form.
       |  SELECT doc_id * 1000000 + w AS doc_id, trim(lower(tok)) AS word
       |  FROM tw WHERE trim(tok) <> ''),
       |dl AS (SELECT doc_id, count(*) AS dl FROM w2 GROUP BY 1),
       |stats AS (SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
       |qw AS (SELECT doc_id, word FROM w2 WHERE word IN (SELECT word FROM qt)),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM qw GROUP BY 1, 2),
       |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM qw GROUP BY 1),
       |scored AS (
       |  SELECT qt.query_id, tf.doc_id,
       |    CAST(round(
       |      ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
       |      * (CAST(tf AS DOUBLE) * (CAST($BM25K1 AS DOUBLE) + 1))
       |      / (tf + CAST($BM25K1 AS DOUBLE) * (1 - CAST($BM25B AS DOUBLE)
       |         + CAST($BM25B AS DOUBLE) * CAST(dl.dl AS DOUBLE) / avgdl))
       |      * 1e6, 0) AS BIGINT) AS term_micro
       |  FROM tf JOIN df USING (word) JOIN qt USING (word)
       |    JOIN dl USING (doc_id) CROSS JOIN stats),
       |per AS (
       |  SELECT query_id, doc_id,
       |    CAST(sum(term_micro) AS BIGINT) AS score_micro,
       |    count(*) AS n_terms
       |  FROM scored GROUP BY 1, 2)
       |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rnk,
       |  doc_id, score_micro, n_terms
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_micro DESC, doc_id ASC) AS rnk FROM per)
       |WHERE rnk <= $RrfTopK
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Documents per length-grouped batch for [[lengthBatches]]. */
  val LengthBatchSize = 32L

  /** Length-grouped batching — the padding-efficiency step of sequence
    * training: sort documents by length, cut consecutive runs of
    * [[LengthBatchSize]] into batches, report per-batch fill/waste (a
    * batch pads every member to its max length). Similar-length
    * neighbors ⇒ minimal padding; the output quantifies exactly how
    * much.
    *
    * The global length rank comes from [[graft.operators.PrefixSum
    * .globalCumsum]] over adaptive n_chars-range buckets — the same
    * hierarchical machinery as trainSequences/ccnetBuckets, so there is
    * NO single-partition `row_number() OVER (ORDER BY length)` anywhere:
    * per-bucket keyed windows + a ≤2^10-row driver stitch. The batch
    * aggregation then shuffles (batch_id)-keyed partial aggs only.
    * fill_micros is exact-integer-input arithmetic (sum·1e6 / n·max,
    * both ≤ 2^53), deterministic cross-engine. */
  def lengthBatches(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "n_chars")
    val bucket =
      graft.operators.PrefixSum.adaptiveRangeBucket(docs, col("n_chars"), 10)
    graft.operators.PrefixSum
      .globalCumsum(
        docs, bucket, Seq(col("n_chars"), col("doc_id")), lit(1L), "rank")
      .withColumn("batch_id", expr(s"(rank - 1) div $LengthBatchSize"))
      .groupBy("batch_id")
      .agg(
        count(lit(1)).as("n_docs"),
        min("n_chars").as("min_len"),
        max("n_chars").as("max_len"),
        sum("n_chars").as("sum_len"))
      .withColumn(
        "pad_waste", col("n_docs") * col("max_len") - col("sum_len"))
      .withColumn(
        "fill_micros",
        when(col("n_docs") * col("max_len") === 0L, 1000000L)
          .otherwise(round(
            col("sum_len").cast("double") * 1e6 /
              (col("n_docs") * col("max_len")).cast("double"),
            0).cast("long")))
      .select("batch_id", "n_docs", "min_len", "max_len", "sum_len",
        "pad_waste", "fill_micros")
      .orderBy("batch_id")
  }

  def lengthBatchesOracle: String =
    s"""WITH r AS (
       |  SELECT doc_id, n_chars,
       |    row_number() OVER (ORDER BY n_chars, doc_id) AS rn
       |  FROM documents),
       |b AS (SELECT CAST((rn - 1) // $LengthBatchSize AS BIGINT) AS batch_id,
       |        n_chars FROM r),
       |a AS (SELECT batch_id, count(*) AS n_docs, min(n_chars) AS min_len,
       |        max(n_chars) AS max_len, CAST(sum(n_chars) AS BIGINT) AS sum_len
       |      FROM b GROUP BY 1)
       |SELECT batch_id, n_docs, min_len, max_len, sum_len,
       |  n_docs * max_len - sum_len AS pad_waste,
       |  CASE WHEN n_docs * max_len = 0 THEN 1000000
       |    ELSE CAST(round(CAST(sum_len AS DOUBLE) * 1000000 /
       |      CAST(n_docs * max_len AS DOUBLE), 0) AS BIGINT) END AS fill_micros
       |FROM a ORDER BY batch_id""".stripMargin

  /** TF-IDF top terms per document — the classic corpus-characterization
    * op, ranked with the engine's bounded-heap [[graft.plans.TopKPerKey]]
    * operator (partial pre-shuffle heaps, never a full sort). The score is
    * one multiply per (doc, term) — no float accumulation — so it is
    * bit-deterministic in any engine. Scale shape: tf⋈df shuffles on the
    * term (vocabulary-sized, not corpus-sized); the 1-row corpus count
    * broadcasts. */
  def tfidfTopTerms(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val w = documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
    val tf = w.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = w.groupBy("word").agg(countDistinct("doc_id").as("df"))
    val n = w.agg(countDistinct("doc_id").as("n"))
    val scored = tf
      .join(df, Seq("word"))
      .crossJoin(broadcast(n))
      .withColumn(
        "tfidf",
        round(col("tf").cast("double") *
          log(col("n").cast("double") / col("df").cast("double")), 6))
    graft.plans.TopKPerKey
      .topK(
        scored.select("doc_id", "word", "tfidf"),
        keys = Seq(col("doc_id")),
        ordering = Seq(col("tfidf").desc, col("word").asc),
        k = k)
      .select("doc_id", "rnk", "word", "tfidf")
      .orderBy("doc_id", "rnk")
  }

  def tfidfTopTermsOracle(k: Int = 5): String =
    s"""WITH w AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word
       |  FROM documents),
       |w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2),
       |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM w2 GROUP BY 1),
       |n AS (SELECT count(DISTINCT doc_id) AS n FROM w2),
       |scored AS (
       |  SELECT tf.doc_id, tf.word,
       |    round(CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)), 6) AS tfidf
       |  FROM tf JOIN df USING (word) CROSS JOIN n)
       |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, word, tfidf FROM (
       |  SELECT doc_id, word, tfidf,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) AS rnk
       |  FROM scored) WHERE rnk <= $k
       |ORDER BY doc_id, rnk""".stripMargin

  /** BM25 relevance ranking (Robertson/Sparck Jones, k1=1.2, b=0.75) of
    * documents against a fixed query-term set — the standard lexical
    * retrieval scorer a training-data pipeline uses for quality/topic
    * filtering at corpus scale.
    *
    * Scale shape: the token explode has FOUR consumers (doc length,
    * corpus stats, tf, df) — left lazy, each would re-scan and
    * re-explode the corpus text. Materializing the token stream itself
    * would be a corpus-sized write (the trainSequences trade), so the
    * two frames just past it are checkpointed instead: doc lengths
    * (one row per doc) and the query-term posting rows. The posting
    * checkpoint is OCCURRENCE-sized — one row per occurrence of any
    * query term corpus-wide, not |Q|-sized — so for frequent terms at
    * 100 TB it is a large executor-disk write, bought back as two text
    * scans in total; everything downstream replays bounded frames.
    * Corpus stats (N, avgdl) broadcast as a 1-row frame. Per-(doc,term)
    * scores are rounded to integer MICROS before the final per-doc sum,
    * so the double sum is order-insensitive and the result hash-stable
    * in any engine (FIXTURES.md discipline). */
  def bm25(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    val k1 = BM25K1
    val b = BM25B
    val w = documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
    val dl = w.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .localCheckpoint(true)
    val stats = dl.agg(
      count(lit(1)).as("n"),
      avg(col("dl").cast("double")).as("avgdl"))
    val qw = w.filter(col("word").isin(BM25Terms: _*)).localCheckpoint(true)
    val tf = qw.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = qw.groupBy("word").agg(countDistinct("doc_id").as("df"))
    tf.join(df, Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn(
        "idf",
        log((col("n").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn(
        "term_micro",
        round(col("idf") * (col("tf").cast("double") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
          * 1e6, 0).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("term_micro")).as("score_micro"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(k)
  }

  val BM25Terms: Seq[String] = Seq("spark", "hash", "merge", "window")
  val BM25K1 = 1.2
  val BM25B = 0.75

  /** Fixture query table for [[bm25Queries]]' oracle row: multi-term,
    * duplicate-term (dedup'd by the DISTINCT), and fully-OOV (drops out
    * of the inner joins on both engines) queries. */
  val Bm25QueryFixture: Seq[(Long, String)] = Seq(
    (1L, "spark window aggregate"),
    (2L, "hash merge join hash"),
    (3L, "slow scan filter column"),
    (4L, "zzzunseen qqqabsent"))

  /** Multi-query BM25 — [[bm25]] generalized from the fixed
    * [[BM25Terms]] to a (query_id, qtext) QUERY TABLE: "score these N
    * queries against the corpus", the first request a retrieval or
    * curation user makes of a BM25 scorer. Terms are DISTINCT per query
    * (bag-of-words BM25 with binary query term frequency); corpus
    * statistics (dl, avgdl, df) are query-independent and computed once
    * for all queries.
    *
    * Scale shape: one text scan feeds the checkpointed doc lengths, one
    * more the query-term postings — the union of ALL queries' terms
    * broadcast-joined into the explode so only matching occurrences
    * survive the scan (checkpointed, as in [[bm25]]).
    * tf/df aggregate the postings once; the fan-out to (query, doc)
    * pairs is a broadcast join against the exploded query-term table
    * (MB-sized while queries are; Catalyst picks a shuffle join past
    * the broadcast threshold, which is exactly right). Per-(query, doc)
    * scores sum exact integer micros, and the per-query top-k rides
    * [[graft.plans.TopKPerKey]]'s bounded pre-shuffle heaps — never a
    * per-query global sort. */
  def bm25Queries(
      s: SparkSession,
      d: String,
      queries: Seq[(Long, String)] = Bm25QueryFixture,
      k: Int = 10): DataFrame = {
    import s.implicits._
    bm25QueriesDf(documents(s, d), queries.toDF("query_id", "qtext"), k)
  }

  /** [[bm25Queries]]' core over arbitrary (doc_id, text) corpus and
    * (query_id, qtext) query FRAMES — the form a real user calls with a
    * query table read from storage. */
  def bm25QueriesDf(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10): DataFrame = {
    val k1 = BM25K1
    val b = BM25B
    val qt = queries
      .select(col("query_id"),
        explode(split(lower(col("qtext")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .distinct()
    val w = corpus
      .select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
    val dl = w.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .localCheckpoint(true)
    val stats = dl.agg(
      count(lit(1)).as("n"),
      avg(col("dl").cast("double")).as("avgdl"))
    val qw = w.join(broadcast(qt.select("word").distinct()), Seq("word"))
      .localCheckpoint(true)
    val tf = qw.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = qw.groupBy("word").agg(countDistinct("doc_id").as("df"))
    val per = tf.join(df, Seq("word"))
      .join(broadcast(qt), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn(
        "idf",
        log((col("n").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn(
        "term_micro",
        round(col("idf") * (col("tf").cast("double") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
          * 1e6, 0).cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("term_micro")).as("score_micro"),
        count(lit(1)).as("n_terms"))
    graft.plans.TopKPerKey
      .topK(
        per,
        keys = Seq(col("query_id")),
        ordering = Seq(col("score_micro").desc, col("doc_id").asc),
        k = k)
      .select("query_id", "rnk", "doc_id", "score_micro", "n_terms")
      .orderBy("query_id", "rnk")
  }

  def bm25QueriesOracle(k: Int = 10): String = {
    val values = Bm25QueryFixture
      .map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    s"""WITH q(query_id, qtext) AS (VALUES $values),
       |qt AS (SELECT DISTINCT query_id, word FROM (
       |  SELECT query_id, unnest(string_split_regex(lower(qtext), '\\s+')) AS word
       |  FROM q) WHERE word <> ''),
       |w AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word
       |  FROM documents),
       |w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
       |dl AS (SELECT doc_id, count(*) AS dl FROM w2 GROUP BY 1),
       |stats AS (SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
       |qw AS (SELECT doc_id, word FROM w2 WHERE word IN (SELECT word FROM qt)),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM qw GROUP BY 1, 2),
       |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM qw GROUP BY 1),
       |scored AS (
       |  SELECT qt.query_id, tf.doc_id,
       |    CAST(round(
       |      ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
       |      * (CAST(tf AS DOUBLE) * (CAST($BM25K1 AS DOUBLE) + 1))
       |      / (tf + CAST($BM25K1 AS DOUBLE) * (1 - CAST($BM25B AS DOUBLE)
       |         + CAST($BM25B AS DOUBLE) * CAST(dl.dl AS DOUBLE) / avgdl))
       |      * 1e6, 0) AS BIGINT) AS term_micro
       |  FROM tf JOIN df USING (word) JOIN qt USING (word)
       |    JOIN dl USING (doc_id) CROSS JOIN stats),
       |per AS (
       |  SELECT query_id, doc_id,
       |    CAST(sum(term_micro) AS BIGINT) AS score_micro,
       |    count(*) AS n_terms
       |  FROM scored GROUP BY 1, 2)
       |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rnk,
       |  doc_id, score_micro, n_terms
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_micro DESC, doc_id ASC) AS rnk FROM per)
       |WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  val RrfK = 60
  val RrfTopK = 10

  /** HYBRID retrieval via Reciprocal Rank Fusion (Cormack et al. 2009):
    * the standard way to combine a lexical ranker (BM25) with a dense
    * one (embedding cosine) without score calibration — each system
    * contributes 1/(κ + rank) for the documents it ranked, κ = 60, and
    * candidates absent from one list simply get that list's term as 0.
    * Queries are the [[Bm25QueryFixture]] ids scored lexically by
    * [[bm25QueriesDf]] and densely by the same-id embedding vectors
    * (doc_id ↔ vec_id is the fixture correspondence); query 4's nonsense
    * terms make it dense-only, exercising the one-sided path.
    *
    * Determinism: each contribution is `round(1e6 / (κ + rank))` — IEEE
    * division is correctly rounded, so the rounded micros are
    * bit-identical in any engine — and the fused score is a sum of two
    * longs. Scale shape: both input lists are already top-k (bounded:
    * |Q|·k rows each), so the fusion join, however written, is trivially
    * small; all the heavy lifting happened inside the two rankers, each
    * with its own scale story. */
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lex = bm25QueriesDf(
      documents(s, d), Bm25QueryFixture.toDF("query_id", "qtext"), RrfTopK)
      .select(col("query_id"), col("doc_id"), col("rnk").as("rnk_lex"))
    val emb = Tables.embeddings(s, d)
    val qids = Bm25QueryFixture.map(_._1)
    val dense = graft.similarity.Similarity
      .cosineTopK(emb, emb.filter(col("vec_id").isInCollection(qids)), RrfTopK)
      .select(col("q_vec_id").as("query_id"), col("vec_id").as("doc_id"),
        col("rnk").as("rnk_dense"))
    def contrib(rank: String) =
      coalesce(
        expr(s"CAST(round(1000000.0 / ($RrfK + $rank), 0) AS BIGINT)"),
        lit(0L))
    val fused = lex
      .join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_micro", contrib("rnk_lex") + contrib("rnk_dense"))
    graft.plans.TopKPerKey
      .topK(
        fused.select("query_id", "doc_id", "rnk_lex", "rnk_dense", "rrf_micro"),
        keys = Seq(col("query_id")),
        ordering = Seq(col("rrf_micro").desc, col("doc_id").asc),
        k = RrfTopK)
      .select(
        col("query_id"), col("rnk"), col("doc_id"), col("rrf_micro"),
        coalesce(col("rnk_lex"), lit(-1L)).as("rnk_lex"),
        coalesce(col("rnk_dense"), lit(-1L)).as("rnk_dense"))
      .orderBy("query_id", "rnk")
  }

  /** DuckDB twin: the BM25 CTE chain and the exact-cosine chain, each
    * cut at top-k, full-outer fused with the same rounded-micros RRF. */
  def hybridRrfOracle: String = {
    val values = Bm25QueryFixture
      .map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    val qidList = Bm25QueryFixture.map(_._1).mkString(", ")
    s"""WITH q(query_id, qtext) AS (VALUES $values),
       |qt AS (SELECT DISTINCT query_id, word FROM (
       |  SELECT query_id, unnest(string_split_regex(lower(qtext), '\\s+')) AS word
       |  FROM q) WHERE word <> ''),
       |w AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word
       |  FROM documents),
       |w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
       |dl AS (SELECT doc_id, count(*) AS dl FROM w2 GROUP BY 1),
       |stats AS (SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
       |qw AS (SELECT doc_id, word FROM w2 WHERE word IN (SELECT word FROM qt)),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM qw GROUP BY 1, 2),
       |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM qw GROUP BY 1),
       |lscored AS (
       |  SELECT qt.query_id, tf.doc_id,
       |    CAST(round(
       |      ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
       |      * (CAST(tf AS DOUBLE) * (CAST($BM25K1 AS DOUBLE) + 1))
       |      / (tf + CAST($BM25K1 AS DOUBLE) * (1 - CAST($BM25B AS DOUBLE)
       |         + CAST($BM25B AS DOUBLE) * CAST(dl.dl AS DOUBLE) / avgdl))
       |      * 1e6, 0) AS BIGINT) AS term_micro
       |  FROM tf JOIN df USING (word) JOIN qt USING (word)
       |    JOIN dl USING (doc_id) CROSS JOIN stats),
       |lper AS (
       |  SELECT query_id, doc_id, CAST(sum(term_micro) AS BIGINT) AS score_micro
       |  FROM lscored GROUP BY 1, 2),
       |lex AS (
       |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rnk FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_micro DESC, doc_id ASC) AS rnk FROM lper)
       |  WHERE rnk <= $RrfTopK),
       |ev AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |en AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM ev),
       |dq AS (SELECT vec_id AS q_vec_id, emb AS q_emb, nrm AS q_nrm
       |       FROM en WHERE vec_id IN ($qidList)),
       |dscored AS (
       |  SELECT dq.q_vec_id, en.vec_id,
       |    round(list_dot_product(en.emb, dq.q_emb) / (en.nrm * dq.q_nrm), 6) AS score
       |  FROM en JOIN dq ON en.vec_id <> dq.q_vec_id),
       |dense AS (
       |  SELECT q_vec_id AS query_id, vec_id AS doc_id, rnk FROM (
       |    SELECT q_vec_id, vec_id, row_number() OVER (PARTITION BY q_vec_id
       |      ORDER BY score DESC, vec_id ASC) AS rnk FROM dscored)
       |  WHERE rnk <= $RrfTopK),
       |fused AS (
       |  SELECT COALESCE(l.query_id, de.query_id) AS query_id,
       |    COALESCE(l.doc_id, de.doc_id) AS doc_id,
       |    l.rnk AS rnk_lex, de.rnk AS rnk_dense,
       |    COALESCE(CAST(round(1000000.0 / ($RrfK + l.rnk), 0) AS BIGINT), 0)
       |    + COALESCE(CAST(round(1000000.0 / ($RrfK + de.rnk), 0) AS BIGINT), 0)
       |      AS rrf_micro
       |  FROM lex l FULL OUTER JOIN dense de
       |    ON l.query_id = de.query_id AND l.doc_id = de.doc_id)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, rrf_micro,
       |  COALESCE(rnk_lex, -1) AS rnk_lex, COALESCE(rnk_dense, -1) AS rnk_dense
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_micro DESC, doc_id ASC) AS rnk FROM fused)
       |WHERE rnk <= $RrfTopK
       |ORDER BY query_id, rnk""".stripMargin
  }

  val LmVocabSize = 2000

  /** Unigram language-model quality score — the perplexity-proxy filter of
    * CCNet-style corpus curation (docs whose word distribution diverges
    * from the corpus LM score high and get filtered/bucketed). Model:
    * corpus unigram frequencies over a top-[[LmVocabSize]] vocabulary;
    * OOV words take the count-1 smoothing floor. Per-doc output is the
    * mean negative log-likelihood in integer micros (per-word micros are
    * summed exactly, so the result is order-insensitive — same discipline
    * as [[bm25]]) plus the OOV count.
    *
    * Scale shape: vocabulary is TakeOrdered top-N (never a global sort of
    * the full vocabulary) and broadcast; the corpus makes ONE pass through
    * a broadcast left join + per-doc aggregation. The only corpus-sized
    * shuffles are the vocab count and the per-doc agg — both partial-agg
    * friendly. */
  def lmScore(s: SparkSession, d: String): DataFrame = {
    val w = documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
    val total = w.agg(count(lit(1)).as("n_total"))
    val vocab = w.groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(LmVocabSize)
    w.join(broadcast(vocab), Seq("word"), "left")
      .crossJoin(broadcast(total))
      .withColumn(
        "logp_micro",
        round(log(coalesce(col("cnt"), lit(1L)).cast("double") /
          col("n_total").cast("double")) * 1e6, 0).cast("long"))
      .withColumn("oov", when(col("cnt").isNull, 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("oov")).cast("long").as("n_oov"),
        round((-sum(col("logp_micro"))).cast("double") / count(lit(1)), 0)
          .cast("long").as("mean_nll_micro"))
      .orderBy("doc_id")
  }

  /** Fixed training-sequence length for [[trainSequences]] (small enough
    * that the fixture corpus yields many sequences per language). */
  val TrainSeqLen = 64L

  /** Document-terminator id: one past the dictionary range
    * ([0, VocabSize) are real ids, −1 is unk). */
  val EosId: Long = VocabSize.toLong

  /** Target bucket-count bits for [[trainSequences]]' offset prefix sum:
    * the id range is split into ≤ 2^12 = 4096 equal power-of-two-wide
    * buckets — coarse enough that the stitch stays a bounded driver fold
    * (≤ 4097 bucket values globally, × #langs worst case), fine enough
    * that doc rows spread across many tasks at corpus scale. The width
    * ADAPTS to the observed id range, so the shape holds for dense
    * integer ids AND sparse/hashed 64-bit ids alike — a fixed divisor
    * would give hashed ids one bucket per doc and explode the stitch. */
  val TrainSeqBucketBits = 12

  /** Contiguous training-sequence assembly — the LAST step of a training
    * data pipeline: per language, documents are tokenized against the
    * broadcast top-[[VocabSize]] dictionary (unk = −1), terminated with
    * an EOS id, laid out as ONE contiguous token stream in doc_id order,
    * and chunked into fixed [[TrainSeqLen]]-token sequences. Documents
    * SPAN sequence boundaries — GPT-style pretraining batches —
    * complementing [[packDocs]]' no-split greedy assignment. Output per
    * (lang, seq_id): token count, doc-boundary count, and the exact
    * integer checksum Σ tid·(pos_in_seq+1), so the complete layout is
    * hash-checked, not just counted.
    *
    * Scale shape: the dictionary broadcasts; per-doc offsets come from
    * [[graft.operators.PrefixSum.globalCumsum]] over (lang, id-range)
    * buckets sized adaptively from the observed id range (see
    * [[TrainSeqBucketBits]]) — NEVER a lang-keyed window,
    * which would sort every doc row of one language in a single task
    * (single-digit parallelism over the whole corpus with ~10
    * languages, the coarse-key scale killer of SURVEY §9); the
    * placement join is doc-keyed; the final agg is (lang, seq)-keyed
    * with map-side partials. */
  def trainSequences(s: SparkSession, d: String): DataFrame =
    trainSequencesDocs(s, documents(s, d))

  /** [[trainSequences]]' core over any (doc_id, lang, text) frame
    * (shared with [[PipelineQueries.cleanPack]]). */
  private[graft] def trainSequencesDocs(
      s: SparkSession, docs: DataFrame): DataFrame = {
    val (placed, _) = trainSeqPlacedDocs(s, docs)
    placed
      .groupBy("lang", "seq_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("tid") === EosId, 1L).otherwise(0L)).as("n_doc_ends"),
        sum(col("tid") * (col("sp") + lit(1L))).as("checksum"))
      .orderBy("lang", "seq_id")
  }

  /** The placed per-slot stream (lang, seq_id, sp, tid) plus the vocab
    * dictionary — the shared core of [[trainSequencesDocs]] and its
    * decode face [[seqDecode]], so layout and detokenization can never
    * drift. */
  private[graft] def trainSeqPlacedDocs(
      s: SparkSession, docs: DataFrame): (DataFrame, DataFrame) = {
    import s.implicits._
    // ONE tokenizing pass: the naive formulation re-ran the regex scan
    // four times (vocab count, id encode, EOS counts, offsets) — at
    // 100 TB that is four full passes over `text`. posexplode_outer
    // keeps zero-token documents as a null row (they still need an EOS
    // and an offset). The eager localCheckpoint materializes the token
    // stream once and every downstream branch reads it (PlanSpec pins:
    // no parquet rescan). It trades one tokenizing scan plus a
    // token-stream-sized executor-disk write (measured 1.9× the parquet
    // text column at sf0.1) against three full tokenizing scans (per-doc
    // counts, vocabulary, id-encode).
    val tokAll = docs.select(
      col("doc_id"), col("lang"),
      posexplode_outer(
        regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
        .as(Seq("pos", "tok")))
      .localCheckpoint(true)
    // count(tok) skips the null of an empty doc → n = 0 for it. One
    // small row per doc, materialized because FOUR consumers read it
    // (EOS rows, the offset cumsum's windows + totals, the per-lang
    // fold, the placement join) — each would otherwise re-aggregate
    // the token stream.
    val nDoc = tokAll.groupBy("doc_id", "lang")
      .agg(count(col("tok")).as("n"))
      .localCheckpoint(true)
    val realTok = tokAll.filter(col("tok").isNotNull)
    val top = realTok.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(VocabSize)
      .collect()
    val vocab = top.zipWithIndex
      .map { case (r, i) => (r.getAs[String]("tok"), i.toLong) }
      .toSeq.toDF("tok", "tid")
    val ids = realTok.join(broadcast(vocab), Seq("tok"), "left")
      .select(
        col("doc_id"),
        col("pos").cast("long").as("pos"),
        coalesce(col("tid"), lit(-1L)).as("tid"))
    val eos = nDoc.select(
      col("doc_id"), col("n").as("pos"), lit(EosId).as("tid"))
    // Exclusive per-lang prefix of (n+1) WITHOUT a lang-keyed window:
    //   off(doc) = gcum(doc) − (n+1) − langOff(lang)
    // where gcum is the inclusive GLOBAL cumsum of (n+1) along
    // (lang, doc_id) — hierarchical keyed windows + a bounded driver
    // stitch (the exact shape ccnetBucketsFrom uses) — and langOff is a
    // #langs-row driver fold.
    //
    // Bucket: PrefixSum.adaptiveRangeBucket sizes <= 2^TrainSeqBucketBits
    // power-of-two-wide id buckets from the range OBSERVED on the
    // materialized doc-level frame — correct and bounded for dense ints,
    // sparse 64-bit hashes, and negative ids alike (see the helper's
    // scaladoc). %020d of the small non-negative result zero-pads, so
    // lexicographic bucket order equals the numeric (lang, doc_id) order
    // (U+0001 sorts below every printable char, so no lang prefix
    // collision).
    val cum = graft.operators.PrefixSum.globalCumsum(
      nDoc.withColumn("sz", col("n") + 1L),
      bucket = format_string(
        "%s\u0001%020d", col("lang"),
        graft.operators.PrefixSum.adaptiveRangeBucket(
          nDoc, col("doc_id"), TrainSeqBucketBits)),
      order = Seq(col("lang"), col("doc_id")),
      value = col("sz"),
      out = "gcum")
    val langTotals = nDoc.groupBy("lang")
      .agg(sum(col("n") + 1L).as("t"))
      .orderBy("lang").collect()
    var accL = 0L
    val langOffs = langTotals.map { r =>
      val o = accL; accL += r.getLong(1); (r.getString(0), o)
    }.toSeq
    val offs = cum
      .join(broadcast(langOffs.toDF("lang", "lang_off")), Seq("lang"))
      .withColumn("off", col("gcum") - col("sz") - col("lang_off"))
    val placed = ids.unionByName(eos)
      .join(offs.select("doc_id", "lang", "off"), Seq("doc_id"))
      .withColumn("gpos", col("off") + col("pos"))
      .withColumn("seq_id", expr(s"gpos div $TrainSeqLen"))
      .withColumn("sp", expr(s"gpos % $TrainSeqLen"))
      .select("lang", "seq_id", "sp", "tid")
    (placed, vocab)
  }

  /** SEQUENCE DECODE — detokenize the packed shard: render each
    * [[trainSequences]] sequence back to text through the inverted
    * dictionary (unknown slots as `<unk>`, document boundaries as
    * `<eos>`), the inspection step a user runs on packed output before
    * trusting it. Shares [[trainSeqPlacedDocs]]' placed stream and
    * vocab verbatim — layout and decode cannot drift. Scale shape: the
    * dictionary join is a broadcast; the render is per-slot map work;
    * the reassembly is one (lang, seq)-keyed agg over [[TrainSeqLen]]-
    * bounded groups. */
  def seqDecode(s: SparkSession, d: String): DataFrame =
    seqDecodeDocs(s, documents(s, d))

  /** [[seqDecode]]'s core over any (doc_id, lang, text) frame (exposed
    * for the spec's synthetic `<unk>` fixture — the real fixture's
    * vocabulary fits the dictionary entirely). */
  private[graft] def seqDecodeDocs(
      s: SparkSession, docs: DataFrame): DataFrame = {
    val (placed, vocab) = trainSeqPlacedDocs(s, docs)
    placed
      .join(
        broadcast(vocab.withColumnRenamed("tok", "vtok")), Seq("tid"), "left")
      .withColumn(
        "render",
        when(col("tid") === lit(-1L), lit("<unk>"))
          .when(col("tid") === lit(EosId), lit("<eos>"))
          .otherwise(col("vtok")))
      .groupBy("lang", "seq_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("tid") === -1L, 1L).otherwise(0L)).as("n_unk"),
        graft.queries.EventQueries
          .orderedStringAgg(col("sp"), col("render"), " ").as("text"))
      .orderBy("lang", "seq_id")
  }

  /** DuckDB oracle for [[seqDecode]]: the shared [[trainSeqCtesSql]]
    * chain + the inverted-vocab render — the same CTEs that certify the
    * layout certify its decode. */
  def seqDecodeOracle: String =
    s"""WITH ${trainSeqCtesSql()}
       |SELECT lang, CAST(seq_id AS BIGINT) AS seq_id,
       |  count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN p.tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
       |  string_agg(
       |    CASE WHEN p.tid = -1 THEN '<unk>'
       |         WHEN p.tid = $EosId THEN '<eos>'
       |         ELSE v.tok END, ' ' ORDER BY sp) AS text
       |FROM placed p LEFT JOIN vocab v ON p.tid = v.tid
       |GROUP BY 1, 2 ORDER BY lang, seq_id""".stripMargin

  /** The [[trainSequencesOracle]] CTE chain up to `placed` (lang,
    * seq_id, tid, sp per stream position), parameterized on the source
    * relation (any (doc_id, lang, text) shape) — shared with the shard-
    * assignment and clean→repack oracles so the statements can never
    * drift. CTE names are `td`-prefixed to compose with other chains. */
  private[queries] def trainSeqCtesSql(src: String = "documents"): String =
    s"""td AS (
       |  SELECT doc_id, lang, regexp_extract_all(text, '$BpePattern') AS l
       |  FROM $src),
       |tok AS (SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS tok FROM td),
       |vocab AS (
       |  SELECT tok, tid FROM (
       |    SELECT tok, CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) - 1 AS BIGINT) AS tid
       |    FROM (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok))
       |  WHERE tid < $VocabSize),
       |ids AS (
       |  SELECT t2.doc_id, t2.pos, coalesce(v.tid, -1) AS tid
       |  FROM tok t2 LEFT JOIN vocab v ON t2.tok = v.tok
       |  UNION ALL
       |  SELECT doc_id, len(l) AS pos, $EosId AS tid FROM td),
       |offs AS (
       |  SELECT doc_id, lang,
       |    coalesce(sum(len(l) + 1) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM td),
       |placed AS (
       |  SELECT o.lang, (o.off + i.pos) // $TrainSeqLen AS seq_id, i.tid,
       |    (o.off + i.pos) % $TrainSeqLen AS sp
       |  FROM ids i JOIN offs o ON i.doc_id = o.doc_id)""".stripMargin

  /** The shared final readout over `placed`. */
  private[queries] def trainSeqSelectSql: String =
    s"""SELECT lang, CAST(seq_id AS BIGINT) AS seq_id,
       |  count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN tid = $EosId THEN 1 ELSE 0 END) AS BIGINT) AS n_doc_ends,
       |  CAST(sum(tid * (sp + 1)) AS BIGINT) AS checksum
       |FROM placed GROUP BY 1, 2 ORDER BY lang, seq_id""".stripMargin

  def trainSequencesOracle: String =
    s"""WITH ${trainSeqCtesSql()}
       |$trainSeqSelectSql""".stripMargin

  /** Output shard count for [[shardAssign]]. */
  val NumShards = 8

  /** Seed naming the shard layout: a different seed is a different
    * (reproducible) corpus shuffle. */
  val ShardSeed = "graft-shard-v1"

  /** Deterministic sharded training-output assignment
    * ([[graft.operators.Sharding]]): the packed sequences of
    * [[trainSequences]], seeded-hash shuffled and split into
    * [[NumShards]] shards — the reproducible "write N shards" step that
    * ends a training-data pipeline. One row per shard: item count, key
    * range, and the exact integer order checksum pinning the complete
    * within-shard sequence order. */
  def shardAssign(s: SparkSession, d: String): DataFrame =
    graft.operators.Sharding.shardReadout(
      trainSequencesDocs(s, documents(s, d)),
      concat(col("lang"), lit(":"), col("seq_id").cast("string")),
      NumShards, ShardSeed)

  def shardAssignOracle: String =
    s"""WITH ${trainSeqCtesSql()},
       |packed AS (SELECT DISTINCT lang, seq_id FROM placed),
       |keyed AS (
       |  SELECT lang || ':' || CAST(seq_id AS VARCHAR) AS item,
       |    CAST('0x' || substr(md5('$ShardSeed' || ':' || lang || ':' || CAST(seq_id AS VARCHAR)), 1, 15) AS BIGINT) AS skey
       |  FROM packed),
       |sh AS (SELECT item, skey, skey % $NumShards AS shard FROM keyed),
       |rk AS (
       |  SELECT shard, skey,
       |    CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, item) AS BIGINT) AS rnk
       |  FROM sh)
       |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_items,
       |  min(skey) AS min_key, max(skey) AS max_key,
       |  CAST(sum((skey % 1000003) * rnk) AS BIGINT) AS order_checksum
       |FROM rk GROUP BY shard ORDER BY shard""".stripMargin

  /** Shard count / seed of the dataset-release manifest. */
  val ReleaseShards = 8
  val ReleaseSeed = "graft-release-v1"

  /** DATASET-RELEASE MANIFEST — the integrity sidecar a 100-TB release
    * writes next to its shards so any consumer can verify what they
    * downloaded without re-reading the corpus twice: documents route to
    * [[ReleaseShards]] shards by seeded content-free hash (the
    * [[graft.operators.Sharding]] discipline — a different seed is a
    * different reproducible layout), and each shard row carries its
    * document count, whitespace-token count, character count, and an
    * ORDER-INVARIANT content checksum: XOR of per-document
    * `hash60(doc_id : content-fingerprint)` — id-salted so two equal-
    * content documents cannot cancel, XOR-folded so the checksum is
    * independent of scan/partition order (any engine, any parallelism,
    * same manifest). Pairs with q_corpus_diff: the diff says WHAT moved
    * between releases, the manifest proves WHICH shards are affected.
    *
    * Scale shape: everything before the aggregation is per-row map work
    * (hash, length, token count — the text never shuffles, only four
    * narrow columns); the single shuffle is the [[ReleaseShards]]-key
    * groupBy with map-side partial aggregation. No window, no join. */
  def releaseManifest(s: SparkSession, d: String): DataFrame =
    releaseManifestOf(documents(s, d))

  /** The manifest over any (doc_id, text) frame — exposed so the spec
    * can pin order/partitioning invariance and shard-local content
    * sensitivity directly. */
  private[graft] def releaseManifestOf(docs: DataFrame): DataFrame = {
    val fp = graft.text.TextFunctions.fingerprintCol _
    docs
      .select(
        (graft.dedup.Dedup
          .hash60(concat_ws(":", lit(ReleaseSeed), col("doc_id").cast("string")))
          % ReleaseShards).as("shard"),
        length(col("text")).cast("long").as("n_chars"),
        expr("CAST(size(filter(split(text, '\\\\s+'), x -> length(x) > 0)) AS BIGINT)")
          .as("n_tokens"),
        graft.dedup.Dedup
          .hash60(concat_ws(":", col("doc_id").cast("string"), fp(col("text"))))
          .as("doc_checksum"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        expr("bit_xor(doc_checksum)").as("content_xor"))
      .orderBy("shard")
  }

  /** Fold a DELTA manifest into a stored one — the manifest's COMMIT
    * face. Exact by algebra: every column is a per-shard sum (counts)
    * or XOR (checksum), both associative and commutative, so
    * fold(manifest(A), manifest(B)) == manifest(A ∪ B) for id-disjoint
    * A, B — the committed == rebuilt-from-scratch law holds by
    * construction and is pinned CROSS-ENGINE by q_manifest_commit
    * (Spark folds, DuckDB rebuilds from scratch). A shard with no
    * arrivals passes through untouched; a brand-new shard appears. */
  private[graft] def manifestFold(
      stored: DataFrame, delta: DataFrame): DataFrame =
    stored.unionByName(delta)
      .groupBy("shard")
      .agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        expr("bit_xor(content_xor)").as("content_xor"))

  /** Retract a slice's manifest from the stored one — the takedown
    * face, exact for the same algebraic reason: counts subtract and
    * XOR is its own inverse (folding the deleted docs' checksums again
    * removes them), so retract(manifest(A ∪ D), manifest(D)) ==
    * manifest(A). Shards whose counts reach zero drop out. */
  private[graft] def manifestRetract(
      stored: DataFrame, deleted: DataFrame): DataFrame =
    manifestFold(
      stored,
      deleted.select(
        col("shard"),
        (-col("n_docs")).as("n_docs"),
        (-col("n_tokens")).as("n_tokens"),
        (-col("n_chars")).as("n_chars"),
        col("content_xor")))
      .filter(col("n_docs") > 0)

  /** Streaming manifest state — the continuous face of
    * [[manifestFold]]: each micro-batch's manifest folds into the
    * stored one, replay-safe by batch id (a failure-recovery redelivery
    * of the same micro-batch is a no-op). Content-level dedup is
    * deliberately NOT here: a manifest is the integrity record of what
    * WAS written to the release, so the dedup gates run upstream and
    * whatever they admit is what the manifest must account for.
    * Batching invariance is exact by the fold's algebra (sums and XORs
    * commute and associate), spec-pinned through the real runtime. */
  private[graft] class ManifestCommitter(initial: DataFrame) {
    @volatile private var state: DataFrame = initial.localCheckpoint(true)
    private val seen = scala.collection.mutable.HashSet.empty[Long]
    def committed: DataFrame = state
    def foldBatch(batchDocs: DataFrame, batchId: Long): Unit = synchronized {
      if (!seen.add(batchId)) return
      state = manifestFold(state, releaseManifestOf(batchDocs))
        .localCheckpoint(true)
    }
  }

  /** Manifest COMMIT as an oracle-checked query: the stored manifest
    * covers the doc_id % [[PipelineQueries.RetractMod]] ≠
    * [[PipelineQueries.RetractResidue]] slice, the residue slice
    * arrives as the delta, and the Spark side FOLDS while the oracle
    * REBUILDS the whole-corpus manifest from scratch — the two agreeing
    * hash-exactly IS the committed == rebuilt law, checked across
    * engines. */
  def manifestCommit(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val M = PipelineQueries.RetractMod
    val R = PipelineQueries.RetractResidue
    manifestFold(
      releaseManifestOf(docs.filter(col("doc_id") % M =!= R)),
      releaseManifestOf(docs.filter(col("doc_id") % M === R)))
      .orderBy("shard")
  }

  def manifestCommitOracle: String = releaseManifestOracle

  /** Manifest RETRACTION as an oracle-checked query: the inverse
    * direction — the full-corpus manifest minus the residue slice's,
    * against the oracle's from-scratch manifest of the remaining
    * documents. */
  def manifestRetractQ(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val M = PipelineQueries.RetractMod
    val R = PipelineQueries.RetractResidue
    manifestRetract(
      releaseManifestOf(docs),
      releaseManifestOf(docs.filter(col("doc_id") % M === R)))
      .orderBy("shard")
  }

  def manifestRetractOracle: String = releaseManifestOracleWhere(
    s" WHERE doc_id % ${PipelineQueries.RetractMod} <> ${PipelineQueries.RetractResidue}")

  /** The from-scratch manifest SQL over an optionally filtered corpus —
    * shared by the build, commit (fold == rebuilt) and retraction
    * oracles so the manifest arithmetic cannot drift between faces. */
  private def releaseManifestOracleWhere(filter: String): String =
    s"""WITH m AS (
       |  SELECT
       |    CAST('0x' || substr(md5('$ReleaseSeed' || ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % $ReleaseShards AS shard,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))), 1, 15) AS BIGINT) AS doc_checksum
       |  FROM documents$filter)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  bit_xor(doc_checksum) AS content_xor
       |FROM m GROUP BY shard ORDER BY shard""".stripMargin

  def releaseManifestOracle: String = releaseManifestOracleWhere("")

  /** Every [[ImgEvery]]-th document carries one image in the interleaved
    * packing fixture (deterministic from doc_id, so both engines derive
    * the identical multimodal corpus from the text tables alone). */
  val ImgEvery = 3

  /** Token positions one image occupies in the packed stream — the fixed
    * per-image budget of the MMC4/OBELICS interleaved format (a vision
    * encoder emits a constant number of soft tokens per image). */
  val ImageTokenCost = 4

  /** Placeholder id filling an image's token slots: one past [[EosId]],
    * so text ids, EOS and image slots occupy disjoint id ranges and one
    * checksum pins the complete interleaved layout. */
  val ImgId: Long = VocabSize.toLong + 1L

  /** INTERLEAVED multimodal sequence packing — the MMC4/OBELICS
    * assembly step (Zhu et al. 2023, arXiv:2304.06939; Laurençon et al.
    * 2023, arXiv:2306.16527): documents mixing text and images are laid
    * out as ONE contiguous per-language stream — per doc, the image's
    * [[ImageTokenCost]] placeholder slots sit at a deterministic
    * MID-DOCUMENT break (token offset doc_id % (n_tokens + 1), the
    * fixture's stand-in for the crawler-recorded image anchor — truly
    * interleaved, not a fixed prefix), text tokens after the break
    * shift by the image budget, then EOS — and the stream is chunked
    * into fixed [[TrainSeqLen]]-position training sequences, documents
    * spanning boundaries GPT-style. Emitted per
    * (lang, seq_id): position counts by kind, plus TWO exact integer
    * checksums — Σ tid·(pos_in_seq+1) over every slot pins the full
    * layout, Σ media_id·(pos_in_seq+1) over image slots pins WHICH image
    * landed WHERE. With the image stream empty the layout degenerates to
    * [[trainSequences]]' exactly (spec-pinned), which is the contract
    * that makes this the multimodal face of the same packer rather than
    * a second packer.
    *
    * Scale shape: identical to [[trainSequences]] — broadcast
    * dictionary, hierarchical prefix sum over (lang, id-range) buckets
    * for the offsets (never a lang-keyed window), doc-keyed placement
    * join, (lang, seq)-keyed final agg with map-side partials. The image
    * stream adds [[ImageTokenCost]] rows per image-bearing doc — media
    * BYTES never enter the plan; images ride as (doc_id, media_id)
    * references exactly like the multimodal operators' metadata
    * discipline ([[graft.multimodal.Multimodal]]). */
  def interleavedPack(s: SparkSession, d: String): DataFrame =
    interleavedPackDocs(s, documents(s, d), withImages = true)

  /** [[interleavedPack]]' core; `withImages = false` runs the identical
    * plan over an empty image stream (the degeneracy spec's handle).
    * `aligned`, when given, is the image-text ALIGNMENT keep set
    * ([[PipelineQueries.imgtextAlign]]'s CLIP-filter verdicts): only
    * documents in it carry image slots — a misaligned image-text pair
    * packs as pure text. None preserves the unconditional round-9
    * behavior bit-for-bit (the `al` flag constant-folds away). */
  private[graft] def interleavedPackDocs(
      s: SparkSession, docs: DataFrame, withImages: Boolean,
      aligned: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    // The tokenizing checkpoint and the alignment keep-set (when given —
    // the whole image synth + decode + score pipeline of
    // q_aligned_pack) are independent; materialize them concurrently
    // (round 17, guide §2.6: they were the two serial eager prefixes of
    // a query whose wall is ~2× its 32-core task time). The checkpointed
    // keep set replaces the inline subtree in nDoc's plan — same rows,
    // one materialization, released right after nDoc (its only consumer)
    // is checkpointed.
    val ckpts = graft.Par.checkpointAll(
      (() => docs.select(
        col("doc_id"), col("lang"),
        posexplode_outer(
          regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
          .as(Seq("pos", "tok")))
        .localCheckpoint(true)) +:
        aligned.toSeq.map(a => () => a.localCheckpoint(true)): _*)
    val tokAll = ckpts.head
    val alignedCkpt = ckpts.lift(1)
    val islotsCol =
      if (withImages)
        when(col("doc_id") % ImgEvery === 0 && col("al") === 1L,
          lit(ImageTokenCost.toLong))
          .otherwise(lit(0L))
      else lit(0L)
    val nDocBase = tokAll.groupBy("doc_id", "lang")
      .agg(count(col("tok")).as("n"))
    val nDoc = (alignedCkpt match {
      case Some(a) =>
        nDocBase.join(
          a.select(col("doc_id"), lit(1L).as("al")), Seq("doc_id"), "left")
      case None => nDocBase.withColumn("al", lit(1L))
    })
      .withColumn("islots", islotsCol)
      .drop("al")
      // The image anchor: a deterministic mid-document token offset in
      // [0, n] — pmod(doc_id, n+1) stands in for the crawler-recorded
      // position (pmod, not %: hashed ids are negative and a negative
      // anchor would place the image inside the PREVIOUS document).
      // Tokens at pos >= pstar shift past the image budget.
      .withColumn("pstar", pmod(col("doc_id"), col("n") + 1L))
      .localCheckpoint(true)
    // nDoc was the keep set's only consumer — blocks are dead now.
    alignedCkpt.foreach(graft.Ckpt.release(_))
    val realTok = tokAll.filter(col("tok").isNotNull)
    val top = realTok.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(VocabSize)
      .collect()
    val vocab = top.zipWithIndex
      .map { case (r, i) => (r.getAs[String]("tok"), i.toLong) }
      .toSeq.toDF("tok", "tid")
    val ids = realTok.join(broadcast(vocab), Seq("tok"), "left")
      .select(
        col("doc_id"),
        col("pos").cast("long").as("pos"),
        coalesce(col("tid"), lit(-1L)).as("tid"))
      .unionByName(nDoc.select(
        col("doc_id"), col("n").as("pos"), lit(EosId).as("tid")))
    // Same hierarchical (lang, id-range)-bucketed prefix sum as
    // trainSequences, over the interleaved doc size n + 1 + islots.
    val cum = graft.operators.PrefixSum.globalCumsum(
      nDoc.withColumn("sz", col("n") + 1L + col("islots")),
      bucket = format_string(
        "%s\u0001%020d", col("lang"),
        graft.operators.PrefixSum.adaptiveRangeBucket(
          nDoc, col("doc_id"), TrainSeqBucketBits)),
      order = Seq(col("lang"), col("doc_id")),
      value = col("sz"),
      out = "gcum")
    val langTotals = nDoc.groupBy("lang")
      .agg(sum(col("n") + 1L + col("islots")).as("t"))
      .orderBy("lang").collect()
    var accL = 0L
    val langOffs = langTotals.map { r =>
      val o = accL; accL += r.getLong(1); (r.getString(0), o)
    }.toSeq
    val offs = cum
      .join(broadcast(langOffs.toDF("lang", "lang_off")), Seq("lang"))
      .withColumn("off", col("gcum") - col("sz") - col("lang_off"))
      .select("doc_id", "lang", "islots", "pstar", "off")
    // Text before the anchor stays put; text (and EOS, whose pos = n >=
    // pstar always) at or past the anchor shifts by the image budget;
    // image slots occupy [off + pstar, off + pstar + islots). `media`
    // carries the image identity (media_id = doc_id in the
    // deterministic fixture) only on image rows.
    val textPlaced = ids
      .join(offs, Seq("doc_id"))
      .select(
        col("lang"),
        (col("off") + col("pos") +
          when(col("pos") >= col("pstar"), col("islots")).otherwise(lit(0L)))
          .as("gpos"),
        col("tid"), lit(0L).as("media"))
    val imgPlaced = nDoc.filter(col("islots") > 0L)
      .select(
        col("doc_id"), col("lang"),
        explode(sequence(lit(0L), col("islots") - 1L)).as("slot"))
      .join(offs.select("doc_id", "pstar", "off"), Seq("doc_id"))
      .select(
        col("lang"),
        (col("off") + col("pstar") + col("slot")).as("gpos"),
        lit(ImgId).as("tid"), col("doc_id").as("media"))
    textPlaced.unionByName(imgPlaced)
      .withColumn("seq_id", expr(s"gpos div $TrainSeqLen"))
      .withColumn("sp", expr(s"gpos % $TrainSeqLen"))
      .groupBy("lang", "seq_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("tid") =!= EosId && col("tid") =!= ImgId, 1L)
          .otherwise(0L)).as("n_text_tokens"),
        sum(when(col("tid") === ImgId, 1L).otherwise(0L)).as("n_image_slots"),
        sum(when(col("tid") === EosId, 1L).otherwise(0L)).as("n_doc_ends"),
        sum(col("tid") * (col("sp") + lit(1L))).as("checksum"),
        sum(col("media") * (col("sp") + lit(1L))).as("media_checksum"))
      .orderBy("lang", "seq_id")
  }

  def interleavedPackOracle: String =
    interleavedPackOracleWith("", s"doc_id % $ImgEvery = 0")

  /** [[interleavedPackOracle]]'s builder, parameterized by extra leading
    * CTEs and the image-slot condition — the aligned pack's oracle
    * composes the alignment CTEs in front and tightens the condition,
    * so the two pack oracles share every line of arithmetic. */
  private[graft] def interleavedPackOracleWith(
      extraCtes: String, imgCond: String): String =
    s"""WITH ${extraCtes}t AS (
       |  SELECT doc_id, lang, regexp_extract_all(text, '$BpePattern') AS l
       |  FROM documents),
       |tok AS (SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS tok FROM t),
       |vocab AS (
       |  SELECT tok, tid FROM (
       |    SELECT tok, CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) - 1 AS BIGINT) AS tid
       |    FROM (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok))
       |  WHERE tid < $VocabSize),
       |base AS (
       |  SELECT doc_id, lang, len(l) AS n,
       |    CASE WHEN $imgCond THEN $ImageTokenCost ELSE 0 END AS islots,
       |    ((doc_id % (len(l) + 1)) + (len(l) + 1)) % (len(l) + 1) AS pstar
       |  FROM t),
       |ids AS (
       |  SELECT t2.doc_id, t2.pos, coalesce(v.tid, -1) AS tid
       |  FROM tok t2 LEFT JOIN vocab v ON t2.tok = v.tok
       |  UNION ALL
       |  SELECT doc_id, n AS pos, $EosId AS tid FROM base),
       |imgs AS (
       |  SELECT doc_id, unnest(range(0, islots)) AS slot
       |  FROM base WHERE islots > 0),
       |offs AS (
       |  SELECT doc_id, lang, islots, pstar,
       |    coalesce(sum(n + 1 + islots) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM base),
       |placed AS (
       |  SELECT o.lang,
       |    (o.off + i.pos + CASE WHEN i.pos >= o.pstar THEN o.islots ELSE 0 END)
       |      // $TrainSeqLen AS seq_id,
       |    i.tid,
       |    (o.off + i.pos + CASE WHEN i.pos >= o.pstar THEN o.islots ELSE 0 END)
       |      % $TrainSeqLen AS sp,
       |    CAST(0 AS BIGINT) AS media
       |  FROM ids i JOIN offs o ON i.doc_id = o.doc_id
       |  UNION ALL
       |  SELECT o.lang, (o.off + o.pstar + im.slot) // $TrainSeqLen,
       |    $ImgId, (o.off + o.pstar + im.slot) % $TrainSeqLen, im.doc_id
       |  FROM imgs im JOIN offs o ON im.doc_id = o.doc_id)
       |SELECT lang, CAST(seq_id AS BIGINT) AS seq_id,
       |  count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN tid <> $EosId AND tid <> $ImgId THEN 1 ELSE 0 END) AS BIGINT) AS n_text_tokens,
       |  CAST(sum(CASE WHEN tid = $ImgId THEN 1 ELSE 0 END) AS BIGINT) AS n_image_slots,
       |  CAST(sum(CASE WHEN tid = $EosId THEN 1 ELSE 0 END) AS BIGINT) AS n_doc_ends,
       |  CAST(sum(tid * (sp + 1)) AS BIGINT) AS checksum,
       |  CAST(sum(media * (sp + 1)) AS BIGINT) AS media_checksum
       |FROM placed GROUP BY 1, 2 ORDER BY lang, seq_id""".stripMargin

  /** CCNet-style perplexity bucketing: per language, documents split
    * into head/middle/tail terciles of the unigram-LM mean NLL — the
    * standard quality-stratification step before per-bucket sampling
    * weights (CCNet, Wenzek et al. 2020).
    *
    * Scale shape: a `ntile(3) OVER (PARTITION BY lang ORDER BY nll)`
    * window would sort each LANGUAGE in one task — with a handful of
    * languages that is single-digit parallelism over the whole corpus,
    * the coarse-key cousin of the single-partition-window scale killer.
    * Instead ranks come from [[graft.operators.PrefixSum.globalCumsum]]
    * over (lang, nll-range) buckets (keyed windows + a bounded driver
    * stitch), per-language offsets from a #langs-sized driver fold, and
    * the tercile from the closed-form ANSI-ntile formula
    * `(rank−1)·k div n + 1` — bit-identical output
    * (CcnetBucketsSpec pins it against the window ntile), linear plan. */
  def ccnetBuckets(s: SparkSession, d: String): DataFrame =
    ccnetBucketsFrom(
      lmScore(s, d).select("doc_id", "mean_nll_micro")
        .join(documents(s, d).select("doc_id", "lang"), Seq("doc_id")))

  /** [[ccnetBuckets]]' core over a (doc_id, mean_nll_micro, lang) frame
    * (exposed for the equality spec). */
  private[graft] def ccnetBucketsFrom(scoredIn: DataFrame): DataFrame = {
    // The scored frame feeds THREE consumers (the prefix-sum's local
    // windows, its per-bucket totals, and the per-lang counts) — without
    // materialization the upstream pipeline (a full unigram-LM pass when
    // called from ccnetBuckets) would recompute per consumer. Doc-level
    // rows: checkpoint is corpus-row-count sized, tiny columns.
    val scored = scoredIn.localCheckpoint(true)
    val spark = scored.sparkSession
    import spark.implicits._
    // Global rank along (lang, nll, doc_id) without a global or
    // lang-keyed sort window: (lang, nll-range bucket) is a
    // non-decreasing coarse bucket of that order. The bucket width
    // adapts to the OBSERVED nll range (PrefixSum.adaptiveRangeBucket
    // over the checkpointed scored frame, <= 2^12 buckets): a fixed
    // 10k-micros band was driver-fold sized for the ~1e5-micros spread
    // of this corpus, but a narrow-spread corpus would collapse to one
    // bucket per language (single-task window) and a wide one would
    // bloat the stitch. The bucket is rendered as a zero-padded string
    // so the driver stitch's lexicographic bucket order equals the
    // numeric order (the helper's result is always non-negative, so
    // padding is safe).
    val ranked = graft.operators.PrefixSum.globalCumsum(
      scored,
      bucket = format_string(
        "%s\u0001%020d", col("lang"),
        graft.operators.PrefixSum.adaptiveRangeBucket(
          scored, col("mean_nll_micro"), 12)),
      order = Seq(col("lang"), col("mean_nll_micro"), col("doc_id")),
      value = lit(1L),
      out = "grank")
    // Per-language offset and size: #langs rows, exact driver fold.
    val counts = scored.groupBy("lang").agg(count(lit(1)).as("n"))
      .orderBy("lang").collect()
    var acc = 0L
    val offs = counts.map { r =>
      val o = acc; acc += r.getLong(1)
      (r.getString(0), o, r.getLong(1))
    }.toSeq
    val offDf = offs.toDF("lang", "lang_off", "n_lang")
    ranked.join(broadcast(offDf), Seq("lang"))
      .withColumn("rnk", col("grank") - col("lang_off"))
      .withColumn("bucket", expr("(rnk - 1) * 3 div n_lang + 1"))
      .groupBy("lang", "bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        min("mean_nll_micro").as("min_nll_micro"),
        max("mean_nll_micro").as("max_nll_micro"))
      .orderBy("lang", "bucket")
  }

  def ccnetBucketsOracle: String =
    s"""WITH w AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word
       |  FROM documents),
       |w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
       |total AS (SELECT count(*) AS n_total FROM w2),
       |vocab AS (SELECT word, count(*) AS cnt FROM w2 GROUP BY 1
       |  ORDER BY cnt DESC, word ASC LIMIT $LmVocabSize),
       |pw AS (
       |  SELECT doc_id,
       |    CAST(round(ln(CAST(coalesce(cnt, 1) AS DOUBLE) / n_total) * 1e6, 0) AS BIGINT) AS logp_micro
       |  FROM w2 LEFT JOIN vocab USING (word) CROSS JOIN total),
       |sc AS (
       |  SELECT doc_id,
       |    CAST(round(CAST(-sum(logp_micro) AS DOUBLE) / count(*), 0) AS BIGINT) AS nll
       |  FROM pw GROUP BY doc_id),
       |bk AS (
       |  SELECT d.lang, sc.nll,
       |    CAST(ntile(3) OVER (PARTITION BY d.lang
       |      ORDER BY sc.nll ASC, sc.doc_id ASC) AS BIGINT) AS bucket
       |  FROM sc JOIN documents d ON sc.doc_id = d.doc_id)
       |SELECT lang, bucket, count(*) AS n_docs,
       |  CAST(min(nll) AS BIGINT) AS min_nll_micro,
       |  CAST(max(nll) AS BIGINT) AS max_nll_micro
       |FROM bk GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  def lmScoreOracle: String =
    s"""WITH w AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word
       |  FROM documents),
       |w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
       |total AS (SELECT count(*) AS n_total FROM w2),
       |vocab AS (SELECT word, count(*) AS cnt FROM w2 GROUP BY 1
       |  ORDER BY cnt DESC, word ASC LIMIT $LmVocabSize),
       |pw AS (
       |  SELECT doc_id,
       |    CAST(round(ln(CAST(coalesce(cnt, 1) AS DOUBLE) / n_total) * 1e6, 0) AS BIGINT) AS logp_micro,
       |    CASE WHEN cnt IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM w2 LEFT JOIN vocab USING (word) CROSS JOIN total)
       |SELECT doc_id, count(*) AS n_words, CAST(sum(oov) AS BIGINT) AS n_oov,
       |  CAST(round(CAST(-sum(logp_micro) AS DOUBLE) / count(*), 0) AS BIGINT) AS mean_nll_micro
       |FROM pw GROUP BY doc_id ORDER BY doc_id""".stripMargin

  def bm25Oracle(k: Int = 20): String = {
    val terms = BM25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH w AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word
       |  FROM documents),
       |w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
       |dl AS (SELECT doc_id, count(*) AS dl FROM w2 GROUP BY 1),
       |stats AS (SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
       |qw AS (SELECT doc_id, word FROM w2 WHERE word IN ($terms)),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM qw GROUP BY 1, 2),
       |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM qw GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id,
       |    CAST(round(
       |      ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
       |      * (CAST(tf AS DOUBLE) * (CAST($BM25K1 AS DOUBLE) + 1))
       |      / (tf + CAST($BM25K1 AS DOUBLE) * (1 - CAST($BM25B AS DOUBLE)
       |         + CAST($BM25B AS DOUBLE) * CAST(dl.dl AS DOUBLE) / avgdl))
       |      * 1e6, 0) AS BIGINT) AS term_micro
       |  FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats)
       |SELECT doc_id, CAST(sum(term_micro) AS BIGINT) AS score_micro,
       |  count(*) AS n_terms
       |FROM scored GROUP BY doc_id
       |ORDER BY score_micro DESC, doc_id ASC
       |LIMIT $k""".stripMargin
  }

  def sentenceExplode(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        explode(
          split(
            concat(col("text"), lit(". tail one. tail two! done?")),
            TextFunctions.PortableSentenceSplit
          )
        ).as("sentence")
      )
      .filter(length(trim(col("sentence"))) > 0)
      .select(col("doc_id"), trim(col("sentence")).as("sentence"))
      .orderBy("doc_id", "sentence")

  /** FILL-IN-THE-MIDDLE transform (Bavarian et al. 2022,
    * arXiv:2207.14255 — the standard augmentation for code/infilling
    * models): each document splits at the deterministic character
    * thirds (n DIV 3, 2n DIV 3) into prefix/middle/suffix and is
    * re-rendered PSM-order as `<PRE>prefix<SUF>suffix<MID>middle`.
    * Output carries the three exact span lengths and the md5 of the
    * rendered sequence, never the bodies. Pure per-row map work —
    * character arithmetic is identical across engines because both
    * `length` and `substring` count code points. */
  def fimTransform(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("n", length(col("text")).cast("long"))
      .withColumn("m_start", expr("n DIV 3"))
      .withColumn("m_end", expr("(2 * n) DIV 3"))
      .select(
        col("doc_id"),
        col("m_start").as("n_prefix"),
        (col("m_end") - col("m_start")).as("n_middle"),
        (col("n") - col("m_end")).as("n_suffix"),
        md5(concat(
          lit("<PRE>"),
          expr("substring(text, 1, CAST(m_start AS INT))"),
          lit("<SUF>"),
          expr("substring(text, CAST(m_end AS INT) + 1, CAST(n - m_end AS INT))"),
          lit("<MID>"),
          expr("substring(text, CAST(m_start AS INT) + 1, CAST(m_end - m_start AS INT))")))
          .as("fim_md5"))
      .orderBy("doc_id")

  def fimTransformOracle: String =
    """WITH f AS (
      |  SELECT doc_id, text,
      |    CAST(length(text) AS BIGINT) AS n,
      |    CAST(length(text) // 3 AS BIGINT) AS m_start,
      |    CAST((2 * length(text)) // 3 AS BIGINT) AS m_end
      |  FROM documents)
      |SELECT doc_id,
      |  m_start AS n_prefix,
      |  m_end - m_start AS n_middle,
      |  n - m_end AS n_suffix,
      |  md5('<PRE>' || substr(text, 1, m_start)
      |    || '<SUF>' || substr(text, m_end + 1, n - m_end)
      |    || '<MID>' || substr(text, m_start + 1, m_end - m_start)) AS fim_md5
      |FROM f ORDER BY doc_id""".stripMargin
}
