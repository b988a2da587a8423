package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** NFC normalization: composition correctness, fast paths, codegen vs
  * interpreted agreement, idempotence. */
class NfcNormalizeSpec extends SparkSuite {
  import spark.implicits._

  private def nfcOf(ss: Seq[String]): Seq[String] = {
    ss.toDF("t").selectExpr("nfc_normalize(t) AS n").collect()
      .map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
  }

  test("decomposed sequences compose; ASCII passes through unchanged") {
    val decomposedE = "é" // e + COMBINING ACUTE
    val decomposedA = "Å" // A + COMBINING RING
    val got = nfcOf(Seq("plain ascii", s"caf$decomposedE", decomposedA, ""))
    assert(got(0) == "plain ascii")
    assert(got(1) == "café" && got(1).length == 4)
    assert(got(2) == "Å" && got(2).length == 1)
    assert(got(3) == "")
  }

  test("already-composed text is unchanged; normalize is idempotent") {
    val composed = "café Ångström"
    val once = nfcOf(Seq(composed, "éé"))
    assert(once(0) == composed)
    val twice = nfcOf(once)
    assert(twice == once)
  }

  test("null propagates") {
    val r = Seq(Some("x"), None).toDF("t")
      .selectExpr("nfc_normalize(t) AS n").collect()
    assert(r(0).getString(0) == "x")
    assert(r(1).isNullAt(0))
  }

  test("matches java.text.Normalizer on mixed samples (codegen path)") {
    val samples = Seq(
      "ascii only",
      "é combining acute",
      "ööö umlauts", // o + COMBINING DIAERESIS ×3
      "ṩ already composed s with dots", // ṩ
      "ṩ s + dot below + dot above", // composes to ṩ
      "😀 emoji unaffected"
    )
    val got = samples.toDF("t").selectExpr("nfc_normalize(t) AS n")
      .collect().map(_.getString(0)).toSeq
    val want = samples.map(
      java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    assert(got == want)
  }

  test("normalization unifies dedup keys split by encoding") {
    // The motivating property: composed and decomposed spellings of the
    // same text must land in ONE exact-dedup group after normalization.
    val docs = Seq(
      (0L, "café menu"), // composed
      (1L, "café menu") // decomposed — same logical text
    ).toDF("doc_id", "text")
    val raw = graft.dedup.Dedup.exactGroups(docs, "doc_id", "text").count()
    val norm = graft.dedup.Dedup.exactGroups(
      docs.selectExpr("doc_id", "nfc_normalize(text) AS text"),
      "doc_id", "text").count()
    assert(raw == 2L) // distinct byte sequences: two groups
    assert(norm == 1L) // one logical text: one group
  }
}
