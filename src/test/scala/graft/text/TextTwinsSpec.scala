package graft.text

import org.apache.spark.sql.functions.{col, trim}
import org.scalacheck.{Gen, Prop, Test => ScTest}
import graft.SparkSuite
import graft.prep.{Preprocess, RawIndexed}
import TextFunctions._

/** The Scala primitives against their `Column` twins, on generated inputs
  * that reach the edges where Java and Spark differ: control characters,
  * NBSP and other non-ASCII spaces, tabs and newlines, astral characters
  * and repeated words. Each property evaluation runs one Spark query over
  * a batch of inputs, through codegen (the rows come from an RDD, so the
  * optimizer cannot fold them into a local relation). */
class TextTwinsSpec extends SparkSuite {

  private def checkProp(p: Prop, tests: Int): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(tests), p)
    assert(res.passed, res.status.toString)
  }

  private val piece: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf("the", "The", "a", "end", "Next", "word", "42", "x_y"),
    4 -> Gen.oneOf(" ", "  ", "\t", "\n", "\r\n", "\u000B", "\f"),
    3 -> Gen.oneOf(".", "!", "?", "...", ",", "'"),
    2 -> Gen.oneOf("\u0001", "\u0002", "\u001F", "\u0000", "\u007F"),
    2 -> Gen.oneOf("\u00A0", "\u2003", "\u3000", "\u200B"),
    2 -> Gen.oneOf("\uD83D\uDE00", "\uD835\uDC9C", "\u00E9", "\u00DF"))

  private val text: Gen[String] =
    Gen.choose(0, 12).flatMap(Gen.listOfN(_, piece)).map(_.mkString)

  test("cleanText and the local enrich filter equal cleanTextCol and Spark's trim filter (property)") {
    val sc = spark
    import sc.implicits._
    checkProp(Prop.forAll(Gen.listOfN(60, text)) { texts =>
      val got = sc.sparkContext.parallelize(texts, 2).toDF("text")
        .select(col("text"), cleanTextCol(col("text")), trim(col("text")) =!= "")
        .as[(String, String, Boolean)].collect().toSeq
      got == texts.map(t =>
        (t, cleanText(t), Preprocess.enrichLocal(RawIndexed(0, 0.0, 0.0, t, "")).isDefined))
    }, tests = 25)
  }

  test("cleanText keeps what Spark's trim keeps") {
    assert(cleanText("\u0001hello world\u0001") == "\u0001hello world\u0001")
    assert(cleanText("  \t hello   world \n ") == "hello world")
    assert(cleanText("\u00A0a\u00A0") == "\u00A0a\u00A0")
    assert(trimSpaces("\u0002").nonEmpty)
    assert(trimSpaces("   ").isEmpty)
  }

  /** `formatHms` as it was written with the f-interpolator. */
  private def formatHmsWithFormatter(seconds: Double): String = {
    val total = math.floor(seconds).toLong
    val h = total / 3600
    val m = (total % 3600) / 60
    val s = total % 60
    if (h > 0) f"$h%02d:$m%02d:$s%02d" else f"$m%02d:$s%02d"
  }

  private val seconds: Gen[Double] = Gen.frequency(
    6 -> Gen.choose(-37000.0, 148000.0),
    3 -> Gen.choose(-37000, 148000).map(_.toDouble),
    1 -> Gen.oneOf(0.0, -0.0, -0.5, -1.0, -9.0, -10.0, -59.9, -60.0, -3599.0, -3600.0,
      -3601.0, 9.99, 59.9, 3599.99, 3600.0, 35999.0, 36000.0, 359999.0, 360000.0))

  test("formatHms equals its f-interpolated form (property)") {
    checkProp(Prop.forAll(seconds)(s => formatHms(s) == formatHmsWithFormatter(s)), tests = 5000)
  }

  test("formatHms equals formatHmsCol (property)") {
    val sc = spark
    import sc.implicits._
    checkProp(Prop.forAll(Gen.listOfN(200, seconds)) { xs =>
      val got = sc.sparkContext.parallelize(xs, 2).toDF("s")
        .select(col("s"), formatHmsCol(col("s")))
        .as[(Double, String)].collect().toSeq
      got == xs.map(s => (s, formatHms(s)))
    }, tests = 10)
  }
}
