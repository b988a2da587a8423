package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => ScTest}

/** Unit + property coverage for the scalar primitives (SURVEY §5.2-2/3).
  * Goldens are hand-computed from the reference semantics
  * (/root/reference/preprocessor.py:69-107, llm_executor.py:389-397,
  * big_chunkeroosky.py:437-472). Properties use raw ScalaCheck (the
  * scalatestplus bridge is not in the offline cache). */
class TextFunctionsSpec extends AnyFunSuite {
  import TextFunctions._

  private def checkProp(p: Prop): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("cleanText collapses whitespace runs") {
    assert(cleanText("a  b\t\tc\n\nd") == "a b c d")
  }

  test("cleanText dedupes immediately-repeated words (case-sensitive)") {
    assert(cleanText("the the answer") == "the answer")
    assert(cleanText("the the the answer") == "the answer")
    // Case differs → no dedupe, matching python's case-sensitive \1.
    assert(cleanText("The the answer") == "The the answer")
  }

  test("cleanText inserts a missing space after sentence punctuation") {
    assert(cleanText("end.Next") == "end. Next")
    assert(cleanText("yes!No?Maybe") == "yes! No? Maybe")
    // Digits after punctuation are untouched ([A-Za-z] only).
    assert(cleanText("pi=3.14") == "pi=3.14")
  }

  test("cleanText is idempotent (property)") {
    checkProp(Prop.forAll(Gen.asciiPrintableStr) { s =>
      val once = cleanText(s)
      cleanText(once) == once
    })
  }

  test("formatHms omits the hour part when hours == 0") {
    assert(formatHms(0.0) == "00:00")
    assert(formatHms(59.9) == "00:59")
    assert(formatHms(60.0) == "01:00")
    assert(formatHms(3599.0) == "59:59")
    assert(formatHms(3600.0) == "01:00:00")
    assert(formatHms(26561.26) == "07:22:41")
  }

  test("formatDurationWords renders h/m/s words, hour omitted when zero") {
    assert(formatDurationWords(26561.26) == "7h 22m 41s")
    assert(formatDurationWords(125.0) == "2m 5s")
    assert(formatDurationWords(0.0) == "0m 0s")
  }

  test("estimateTokens is chars/4 with floor 1") {
    assert(estimateTokens("") == 0)
    assert(estimateTokens("abc") == 1)
    assert(estimateTokens("abcd") == 1)
    assert(estimateTokens("abcdefgh") == 2)
    assert(estimateTokens(null) == 0)
  }

  test("countTokens counts word runs and single punctuation") {
    assert(countTokens("Hello, world!") == 4)
    assert(countTokens("") == 0)
  }

  test("splitSentences keeps terminators and handles runs") {
    assert(splitSentences("One. Two! Three?") == Seq("One.", "Two!", "Three?"))
    assert(splitSentences("Wait... really? Yes.") == Seq("Wait...", "really?", "Yes."))
    // No trailing whitespace after final terminator → still a sentence.
    assert(splitSentences("Only one") == Seq("Only one"))
    assert(splitSentences("  ") == Seq.empty)
  }

  test("splitSentences loses no characters outside separators (property)") {
    val gen = Gen.listOfN(30, Gen.alphaNumStr.suchThat(_.nonEmpty))
    checkProp(Prop.forAll(gen) { words =>
      val text = words.mkString(" ") + "."
      val joined = splitSentences(text).mkString(" ")
      joined.replaceAll("\\s+", " ") == text.replaceAll("\\s+", " ")
    })
  }

  test("splitWordGroups groups ~N words") {
    val words = (1 to 45).map(i => s"w$i").mkString(" ")
    val groups = splitWordGroups(words, 20)
    assert(groups.size == 3)
    assert(groups.map(_.split(" ").length).sum == 45)
  }

  test("normalizeForFingerprint lowers and collapses") {
    assert(normalizeForFingerprint("  A  B\tC ") == "a b c")
  }
}
