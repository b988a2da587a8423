package graft.dedup

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The defining law of corpus commit: each committed artifact equals the
  * artifact recomputed FROM SCRATCH on corpus ∪ accepted — the
  * incremental fold and the full rebuild can never drift. Plus: the loop
  * actually closes (re-gating the accepted docs against the committed
  * fingerprint set flags every one of them), and the fixture keeps every
  * stage live. */
class CommitArtifactsSpec extends SparkSuite {

  private val Mod = 10
  private lazy val docs =
    graft.queries.Tables.documents(spark, "/root/testdata/sf0.001")
  private lazy val corpus = docs.filter(col("doc_id") % Mod =!= 0)
  private lazy val batch = docs.filter(col("doc_id") % Mod === 0)
  private lazy val arts =
    Dedup.commitArtifacts(corpus, batch, "doc_id", "text", 8, 4, 8)

  private def symDiff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()

  test("committed artifacts == artifacts rebuilt from scratch on corpus ∪ accepted") {
    val full = corpus
      .select(col("doc_id").as("id"), col("text"))
      .unionByName(arts.accepted)
    val fpc = graft.text.TextFunctions.fingerprintCol _
    assert(symDiff(
      arts.fingerprints,
      full.select(fpc(col("text")).as("fingerprint"))
        .filter(col("fingerprint").isNotNull).distinct()) == 0,
      "fingerprint set drifted from the full rebuild")
    assert(symDiff(
      arts.bandTable,
      Dedup.bandTable(full, "id", "text", 8, 4)) == 0,
      "band table drifted from the full rebuild")
    assert(symDiff(
      arts.spanFps,
      Dedup.spanFpSet(full, "id", "text", 8)) == 0,
      "span fp set drifted from the full rebuild")
  }

  test("round-11 faces equal the full rebuild: simhash bands, ngram postings+df, shingle sets") {
    val full = corpus
      .select(col("doc_id").as("id"), col("text"))
      .unionByName(arts.accepted)
    assert(symDiff(
      arts.simhashBands,
      Dedup.simhashBandTable(full, "id", "text", 4)) == 0,
      "simhash band table drifted from the full rebuild")
    val (posts, sets) = Dedup.ngramArtifacts(full, "id", "text", lit(0L), 3)
    assert(symDiff(arts.ngramPostings, posts) == 0,
      "ngram posting artifact drifted from the full rebuild")
    assert(symDiff(arts.shingleSets, sets) == 0,
      "shingle-set table drifted from the full rebuild")
    // The FULL df sidecar (uncapped) must equal from-scratch df counts —
    // it is what makes the next fold's cap filter exact.
    val rebuiltDf = sets
      .select(col("id"), explode(col("shingles")).as("shingle"))
      .groupBy("shingle")
      .agg(count(lit(1)).as("df"))
      .select(lit(0L).as("blk"), col("shingle"), col("df"))
    assert(symDiff(arts.ngramDf, rebuiltDf) == 0,
      "ngram df sidecar drifted from the full rebuild")
  }

  test("posting compaction respects the df cap across the fold boundary") {
    import spark.implicits._
    // Shingle "red_green_blue" has df 2 in the corpus (under cap 2, so
    // its rows ARE stored) and df 3 after the batch folds in (over cap:
    // the committed postings must drop ALL three rows, exactly like a
    // from-scratch build at cap 2 would).
    val c = Seq(
      (1L, "red green blue alpha bravo charlie delta echo foxtrot"),
      (2L, "red green blue golf hotel india juliet kilo lima"))
      .toDF("doc_id", "text")
    val b = Seq(
      (10L, "red green blue mike november oscar papa quebec romeo"))
      .toDF("doc_id", "text")
    val a = Dedup.commitArtifacts(
      c, b, "doc_id", "text", 8, 4, 8, maxShingleDf = 2)
    assert(a.accepted.count() == 1L)
    val full = c.select(col("doc_id").as("id"), col("text"))
      .unionByName(a.accepted)
    val (posts, _) =
      Dedup.ngramArtifacts(full, "id", "text", lit(0L), 3, maxShingleDf = 2)
    assert(symDiff(a.ngramPostings, posts) == 0,
      "capped fold drifted from the from-scratch capped build")
    // The fold genuinely dropped a shingle that was stored in the corpus
    // artifact (df crossed the cap at commit time).
    val dropped = a.corpusNgramPostings.select("blk", "shingle").distinct()
      .exceptAll(a.ngramPostings.select("blk", "shingle").distinct())
      .count()
    assert(dropped >= 1, "expected the shared shingle to cross the cap")
  }

  test("re-gating against the committed artifacts flags every accepted doc") {
    import spark.implicits._
    // Re-deliver every accepted doc under fresh ids: the committed
    // SimHash band table must flag each at hamming 0, and the committed
    // posting/shingle-set pair must flag each at Jaccard 1 — the two
    // round-11 gate faces close their loops like the fingerprint face.
    val redelivered = arts.accepted
      .select((col("id") + 5000000L).as("id"), col("text"))
      .localCheckpoint(true)
    val nWithWords = redelivered
      .filter(size(split(trim(lower(col("text"))), "\\s+")) >= 1 &&
        trim(col("text")) =!= "")
      .count()
    val reBands = Dedup.simhashBandTable(redelivered, "id", "text", 4)
    val simFlagged = reBands.as("a")
      .join(arts.simhashBands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv"))
      .filter(expr("bit_count(a.simhash ^ b.simhash)") === 0)
      .select(col("a.id")).distinct().count()
    assert(simFlagged == nWithWords,
      s"simhash re-gate flagged $simFlagged of $nWithWords redeliveries")
    val (_, reSets) = Dedup.ngramArtifacts(redelivered, "id", "text", lit(0L), 3)
    val nWithShingles = reSets.filter(size(col("shingles")) >= 1).count()
    val ngramFlagged = reSets
      .select(col("id").as("re_id"), col("shingles").as("re_sh"),
        explode(col("shingles")).as("shingle"))
      .join(arts.ngramPostings.select(col("shingle"), col("id").as("c_id")),
        Seq("shingle"))
      .select("re_id", "re_sh", "c_id").distinct()
      .join(arts.shingleSets.select(col("id").as("c_id"),
        col("shingles").as("c_sh")), Seq("c_id"))
      .filter(size(array_intersect(col("re_sh"), col("c_sh"))) ===
        size(col("re_sh")) && size(col("re_sh")) === size(col("c_sh")))
      .select("re_id").distinct().count()
    assert(ngramFlagged == nWithShingles,
      s"ngram re-gate flagged $ngramFlagged of $nWithShingles redeliveries")
  }

  test("the loop closes: every accepted doc re-gates as dup against the committed set") {
    val fpc = graft.text.TextFunctions.fingerprintCol _
    val acceptedFps = arts.accepted
      .select(fpc(col("text")).as("fingerprint")).distinct()
    assert(acceptedFps.exceptAll(arts.fingerprints).count() == 0,
      "an accepted doc's fingerprint is missing from the committed set")
  }

  test("every stage is live on the fixture") {
    assert(arts.accepted.count() > 0, "gate accepted nothing")
    assert(arts.deltaFingerprints.count() > 0)
    assert(arts.deltaBands.count() > 0)
    assert(arts.deltaSpanFps.count() > 0)
    // Committed sets actually grew.
    assert(arts.fingerprints.count() > arts.corpusFingerprints.count())
    assert(arts.spanFps.count() > arts.corpusSpanFps.count())
  }

  test("the gate rejects: a corpus duplicate and an intra-batch duplicate never commit") {
    import spark.implicits._
    val c = Seq((1L, "alpha bravo charlie delta echo foxtrot golf hotel india"))
      .toDF("doc_id", "text")
    val b = Seq(
      (10L, "alpha bravo charlie delta echo foxtrot golf hotel india"), // dup_corpus
      (11L, "fresh words never seen before in this tiny corpus at all"), // new
      (12L, "fresh words never seen before in this tiny corpus at all")  // dup_batch
    ).toDF("doc_id", "text")
    val a = Dedup.commitArtifacts(c, b, "doc_id", "text", 8, 4, 8)
    assert(a.accepted.select("id").as[Long].collect().toSeq == Seq(11L))
    // The committed fingerprint set gains exactly one fingerprint.
    assert(a.fingerprints.count() == a.corpusFingerprints.count() + 1)
  }

  test("id reuse with different content is refused loudly, never conflated") {
    import spark.implicits._
    val c = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india"),
      (2L, "juliet kilo lima mike november oscar papa quebec romeo"))
      .toDF("doc_id", "text")
    // Same id as a corpus doc, DIFFERENT text: the content gate passes it
    // (fingerprints differ) — without the disjointness check the band
    // union would conflate two documents under id 1.
    val clash = Seq((1L, "totally different words that share nothing here"))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Dedup.commitArtifacts(c, clash, "doc_id", "text", 8, 4, 8)
    }
    assert(ex.getMessage.contains("ids must be disjoint"), ex.getMessage)
    // Same id SAME text never reaches the check: the gate rejects it as
    // dup_corpus, so the commit is a clean no-op, not an error.
    val sameText =
      Seq((1L, "alpha bravo charlie delta echo foxtrot golf hotel india"))
        .toDF("doc_id", "text")
    val a = Dedup.commitArtifacts(c, sameText, "doc_id", "text", 8, 4, 8)
    assert(a.accepted.count() == 0L)
  }

  test("a call refused for an id clash leaves no persisted RDD behind, with no GC wait") {
    import spark.implicits._
    val c = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india"),
      (2L, "juliet kilo lima mike november oscar papa quebec romeo"))
      .toDF("doc_id", "text")
    val clash = Seq((2L, "sierra tango uniform victor whiskey xray yankee zulu"))
      .toDF("doc_id", "text")
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet
    intercept[IllegalArgumentException] {
      Dedup.commitArtifacts(c, clash, "doc_id", "text", 8, 4, 8)
    }
    // Read at once: a frame left for the ContextCleaner would still be
    // registered here.
    val left = sc.getPersistentRDDs.keySet -- baseline
    assert(left.isEmpty, s"persisted RDDs left by the refused call: $left")
  }
}
