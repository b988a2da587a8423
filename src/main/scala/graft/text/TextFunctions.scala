package graft.text

import java.util.regex.Pattern
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar text/time/token primitives (SURVEY.md §2.2 F2/F3, §2.3 A9, §2.4 M3
  * helper). Each exists twice on purpose:
  *
  *   - a pure Scala function (used by the typed mapPartitions pipeline stages
  *     and by unit tests), and
  *   - a `Column` expression built only from `org.apache.spark.sql.functions`
  *     (codegen'd by Tungsten — no UDF in the hot path) for the
  *     DataFrame/oracle surface.
  *
  * The two are kept semantically identical; `TextTwinsSpec` cross-checks
  * them on generated inputs. The pipeline runs the Scala form; the Column
  * form serves the oracle queries.
  */
object TextFunctions {

  // -------------------------------------------------------------------------
  // F2 clean_text (/root/reference/preprocessor.py:69-89): (a) collapse runs
  // of whitespace, (b) drop immediately-repeated words (case-sensitive
  // backreference), (c) insert a missing space after .!? before a letter.
  // -------------------------------------------------------------------------

  private val WsRun = Pattern.compile("\\s+")
  // Backreference pattern — java.util.regex only; RE2-based engines (DuckDB)
  // cannot express this, so step (b) is excluded from the oracle query
  // surface and covered by ScalaTest goldens instead (SURVEY.md §7.4).
  private val RepeatedWord = Pattern.compile("\\b(\\w+)( \\1\\b)+")
  private val MissingSpace = Pattern.compile("([.!?])([A-Za-z])")

  def cleanText(s: String): String = {
    if (s == null) return null
    val collapsed = trimSpaces(WsRun.matcher(s).replaceAll(" "))
    val deduped = RepeatedWord.matcher(collapsed).replaceAll("$1")
    MissingSpace.matcher(deduped).replaceAll("$1 $2")
  }

  /** Spark's `trim`: strips U+0020 only, where `String.trim` strips every
    * character up to U+0020, control characters included. */
  def trimSpaces(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e)
  }

  def cleanTextCol(c: Column): Column =
    regexp_replace(
      regexp_replace(
        trim(regexp_replace(c, WsRun.pattern, " ")),
        RepeatedWord.pattern,
        "$1"
      ),
      MissingSpace.pattern,
      "$1 $2"
    )

  /** Oracle-expressible subset of clean_text: steps (a) + (c) only — no
    * backreference, identical semantics in java regex and RE2. */
  def cleanTextPortableCol(c: Column): Column =
    regexp_replace(trim(regexp_replace(c, WsRun.pattern, " ")), MissingSpace.pattern, "$1 $2")

  // -------------------------------------------------------------------------
  // F3 format_timestamp (/root/reference/preprocessor.py:91-107): seconds →
  // "HH:MM:SS", with the hour part omitted when hours == 0 → "MM:SS".
  // -------------------------------------------------------------------------

  def formatHms(seconds: Double): String = {
    val total = math.floor(seconds).toLong
    val h = total / 3600
    val m = (total % 3600) / 60
    val s = total % 60
    // `%02d` without java.util.Formatter, which dominates the map's
    // rendering cost: a negative value is already two wide ("-5").
    def pad(v: Long): String = if (v >= 0 && v < 10) "0" + v else v.toString
    if (h > 0) pad(h) + ":" + pad(m) + ":" + pad(s) else pad(m) + ":" + pad(s)
  }

  def formatHmsCol(seconds: Column): Column = {
    val total = floor(seconds).cast("long")
    val h = (total / 3600).cast("long")
    val m = ((total % 3600) / 60).cast("long")
    val s = (total % 60).cast("long")
    when(h > 0, format_string("%02d:%02d:%02d", h, m, s))
      .otherwise(format_string("%02d:%02d", m, s))
  }

  /** h/m/s-words duration rendering used in summary metadata
    * (/root/reference/main.py:324-332): "7h 22m 41s", hour omitted when
    * zero → "22m 41s". */
  def formatDurationWords(seconds: Double): String = {
    val total = math.floor(seconds).toLong
    val h = total / 3600
    val m = (total % 3600) / 60
    val s = total % 60
    if (h > 0) s"${h}h ${m}m ${s}s" else s"${m}m ${s}s"
  }

  // -------------------------------------------------------------------------
  // A9 token estimator. tiktoken `cl100k_base` has no offline JVM twin, so
  // the engine's canonical counter is the reference's own fallback estimator:
  // chars/4, min 1 (/root/reference/llm_executor.py:389-397). Deterministic,
  // portable to the DuckDB oracle, and used consistently for chunk budgets
  // and batch sizing so all packing decisions are internally coherent.
  // -------------------------------------------------------------------------

  def estimateTokens(s: String): Int =
    // codePointCount, not String.length: Spark's length() counts code
    // points, and the two implementations must agree on astral chars
    // (emoji etc.) for chunk budgets and the oracle to stay coherent.
    if (s == null || s.isEmpty) 0
    else math.max(1, s.codePointCount(0, s.length) / 4)

  def estimateTokensCol(c: Column): Column =
    when(c.isNull || length(c) === 0, lit(0))
      .otherwise(greatest(lit(1), (length(c) / 4).cast("int")))

  /** Word-aware token count for the text-analysis surface: word runs plus
    * single non-space punctuation, a BPE-ish upper bound. Pure regex —
    * portable to RE2. */
  val TokenPattern = "\\w+|[^\\w\\s]"

  def countTokens(s: String): Int =
    if (s == null) 0 else TokenPattern.r.findAllIn(s).length

  def countTokensCol(c: Column): Column =
    size(regexp_extract_all(c, lit(TokenPattern), lit(0)))

  // -------------------------------------------------------------------------
  // M3 sentence splitting. NLTK Punkt is a trained Python model; the engine
  // uses a deterministic regex splitter (structural parity per SURVEY §7.5.2).
  // RE2 has no lookbehind, so the oracle-shared pattern consumes the
  // terminator+whitespace; the library version keeps terminators via
  // BreakIterator-style scanning.
  // -------------------------------------------------------------------------

  /** Portable split pattern (loses the terminator) — used by the oracle
    * query q_sentence_explode on both engines. */
  val PortableSentenceSplit = "[.!?]+\\s+"

  /** Library-grade splitter: sentences end at [.!?]+ followed by whitespace;
    * terminators are kept with their sentence. */
  def splitSentences(text: String): Seq[String] = {
    if (text == null || text.trim.isEmpty) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val t = text
    var start = 0
    var i = 0
    val n = t.length
    while (i < n) {
      val ch = t.charAt(i)
      if (ch == '.' || ch == '!' || ch == '?') {
        var j = i + 1
        while (j < n && (t.charAt(j) == '.' || t.charAt(j) == '!' || t.charAt(j) == '?')) j += 1
        if (j >= n || Character.isWhitespace(t.charAt(j))) {
          val sent = t.substring(start, j).trim
          if (sent.nonEmpty) out += sent
          while (j < n && Character.isWhitespace(t.charAt(j))) j += 1
          start = j
          i = j
        } else i = j
      } else i += 1
    }
    if (start < n) {
      val tail = t.substring(start).trim
      if (tail.nonEmpty) out += tail
    }
    out.toSeq
  }

  /** Last-resort splitter: fixed-size word groups
    * (/root/reference/big_chunkeroosky.py:459-472). */
  def splitWordGroups(s: String, groupSize: Int = 20): Seq[String] =
    if (s == null || s.trim.isEmpty) Seq.empty
    else s.trim.split("\\s+").grouped(groupSize).map(_.mkString(" ")).toSeq

  // -------------------------------------------------------------------------
  // Document fingerprint: md5 of whitespace-normalized lowercase text.
  // Deterministic, portable (md5 exists in both engines), and the anchor of
  // the exact-dedup path.
  // -------------------------------------------------------------------------

  def normalizeForFingerprint(s: String): String =
    if (s == null) "" else s.toLowerCase.replaceAll("\\s+", " ").trim

  def fingerprintCol(c: Column): Column =
    md5(trim(regexp_replace(lower(c), "\\s+", " ")))
}
