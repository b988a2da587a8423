package graft.prep

import graft.SparkSuite
import graft.model.ProcessedSegment
import graft.text.TextFunctions

/** A1/A2/A3 semantics (/root/reference/preprocessor.py:109-324). */
class PreprocessSpec extends SparkSuite {

  private def seg(
      start: Double,
      end: Double,
      speaker: String,
      text: String,
      idx: Long
  ): ProcessedSegment =
    ProcessedSegment(
      start, end, text, speaker,
      TextFunctions.formatHms(start), TextFunctions.formatHms(end), idx)

  test("combineLocal merges consecutive same-speaker runs") {
    val segs = Seq(
      seg(0, 10, "A", "one", 0),
      seg(10, 20, "A", "two", 1),
      seg(20, 30, "B", "three", 2),
      seg(30, 40, "A", "four", 3)
    )
    val out = Preprocess.combineLocal(segs, Some(120), preserveTimestamps = true)
    assert(out.size == 3)
    assert(out(0).isCombined && out(0).originalSegments == 2)
    assert(out(0).text == "[00:00] one [00:10] two")
    assert(out(0).start == 0 && out(0).end == 20)
    // Size-1 groups pass through unchanged (not marked combined).
    assert(!out(1).isCombined && out(1).text == "three")
    assert(!out(2).isCombined)
  }

  test("combineLocal resets on the accumulated-duration cap") {
    // Three 50s segments from one speaker with a 120s cap: 50+50=100 ok,
    // +50 would be 150 > 120 → break after two.
    val segs = (0 until 4).map(i => seg(i * 50, i * 50 + 50, "A", s"t$i", i.toLong))
    val out = Preprocess.combineLocal(segs, Some(120), preserveTimestamps = false)
    assert(out.map(_.originalSegments) == Seq(2, 2))
    assert(out(0).text == "t0 t1")
  }

  test("combineLocal without timestamps joins plainly") {
    val segs = Seq(seg(0, 5, "A", "x", 0), seg(5, 9, "A", "y", 1))
    val out = Preprocess.combineLocal(segs, Some(120), preserveTimestamps = false)
    assert(out.head.text == "x y")
  }

  test("intervalLocal duplicates spanning segments across intervals") {
    // 60s intervals; second segment spans the 60s boundary → appears in
    // both interval 0 and interval 1 (reference's documented semantics).
    val segs = Seq(
      seg(0, 30, "A", "first", 0),
      seg(40, 80, "B", "spanner", 1),
      seg(90, 100, "A", "third", 2)
    )
    val out = Preprocess.intervalLocal(segs, 60.0)
    assert(out.size == 2)
    assert(out(0).intervalIndex.contains(0))
    assert(out(0).text.contains("first") && out(0).text.contains("spanner"))
    assert(out(1).text.contains("spanner") && out(1).text.contains("third"))
    // Speaker list is sorted (engine determinism fix over python set order).
    assert(out(0).speaker == "A, B")
    // Render format: "[MM:SS SPEAKER] text" joined by blank lines.
    assert(out(0).text.startsWith("[00:00 A] first"))
  }

  test("intervalLocal filters combined segments' component parts") {
    val combined = Preprocess
      .combineLocal(
        Seq(
          seg(0, 30, "A", "p1", 0),
          seg(30, 55, "A", "p2", 1),
          seg(55, 90, "A", "p3", 2)
        ),
        Some(120),
        preserveTimestamps = true
      )
      .head
    val out = Preprocess.intervalLocal(Seq(combined), 60.0)
    // Interval 1 (60-90s) keeps only the component overlapping 60s+ (p3
    // spans the boundary: 55 <= 60 < 90).
    val second = out(1)
    assert(second.text.contains("p3") && !second.text.contains("p1"))
  }

  test("end-to-end prep over the multi-speaker fixture") {
    val raw = Preprocess.loadTranscript(spark, resourcePath("mini_multi_speaker.json"))
    assert(raw.count() == 50)
    val out = Preprocess.run(spark, raw, Preprocess.PrepConfig())
    val segs = out.collect().sortBy(_.rowIdx)
    // Empty-text segments dropped (7 blanks in the fixture): merge output
    // must cover the remaining 43.
    assert(segs.map(_.originalSegments).sum == 43)
    // Cleaning applied before merge: no doubled words survive.
    assert(!segs.exists(_.text.contains("the the")))
    assert(segs.exists(_.text.contains("Right. Absolutely")))
    // No group crosses a speaker change.
    assert(segs.forall(s => s.segmentTimestamps.isEmpty || s.isCombined))
    // Duration cap honored: accumulated component duration ≤ 120s + last seg.
    segs.filter(_.isCombined).foreach { s =>
      val dur = s.segmentTimestamps.map(ts => ts.end - ts.start).sum
      assert(dur <= 160, s"group duration $dur")
    }
  }

  test("extractSpeakers collects transcript-scale sets and refuses corpus-scale ones") {
    import spark.implicits._
    val segs = Seq(
      seg(0, 1, "B", "x", 0), seg(1, 2, "A", "y", 1), seg(2, 3, "C", "z", 2),
      seg(3, 4, "A", "w", 3)).toDS()
    assert(Preprocess.extractSpeakers(segs) == Seq("A", "B", "C"))
    // A cap below the distinct count must fail loudly BEFORE collecting
    // the full set — the guard against OOMing the driver on a
    // corpus-scale misuse.
    val ex = intercept[IllegalArgumentException] {
      Preprocess.extractSpeakers(segs, cap = 2)
    }
    assert(ex.getMessage.contains("distinct speakers"))
  }

  test("limitSegments is applied before preprocessing") {
    val raw = Preprocess.loadTranscript(spark, resourcePath("mini_multi_speaker.json"))
    val out = Preprocess.run(
      spark, raw,
      Preprocess.PrepConfig(limitSegments = Some(10), mergeSameSpeaker = false))
    assert(out.count() <= 10)
  }

  private def load(path: String): Seq[RawIndexed] =
    Preprocess.loadTranscript(spark, path).collect().toSeq

  test("a transcript outside the contract fails with an error naming the file") {
    val broken = Seq(
      "no segments array" -> """{"items": [{"start": 0, "end": 1, "text": "a"}]}""",
      "truncated JSON" -> """{"segments": [{"start": 0, "end": 1, "text": "a"}, {"sta""",
      "a string time" -> """{"segments": [{"start": "0.5", "end": 1, "text": "a"}]}""")
    for ((what, json) <- broken) withTranscript(json) { path =>
      val e = intercept[Exception](load(path))
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(messages.contains(path), s"$what: $messages")
    }
  }

  test("integer times, numeric text and extra fields load as the contract's types") {
    val json =
      """{"meta": {"lang": "en"}, "segments": [
        |  {"start": 0, "end": 2, "text": "a", "speaker": "A", "confidence": 0.9},
        |  {"start": 2.5, "end": 4, "text": 42, "speaker": "B", "words": [1, 2]}
        |]}""".stripMargin
    withTranscript(json) { path =>
      assert(load(path) == Seq(
        RawIndexed(0, 0.0, 2.0, "a", "A"),
        RawIndexed(1, 2.5, 4.0, "42", "B")))
    }
  }

  test("an empty segments array loads as no rows") {
    withTranscript("""{"segments": []}""") { path =>
      assert(load(path).isEmpty)
    }
  }

  test("segments without a speaker key load with speaker \"\"") {
    val json = """{"segments": [{"start": 0, "end": 1, "text": "a"}, {"start": 1, "end": 2, "text": "b"}]}"""
    withTranscript(json) { path =>
      assert(load(path) == Seq(RawIndexed(0, 0.0, 1.0, "a", ""), RawIndexed(1, 1.0, 2.0, "b", "")))
    }
  }

  test("transcriptDuration spans the first start to the last end, 0 on no rows") {
    import spark.implicits._
    val segs = Seq(seg(5, 9, "A", "x", 0), seg(9, 30.5, "B", "y", 1)).toDS()
    assert(Preprocess.transcriptDuration(segs)._1 == 25.5)
    assert(Preprocess.transcriptDuration(segs.limit(0))._1 == 0.0)
  }
}
