package sumbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.CompletableFuture

/** Tests of the benchmark's own helpers: the input generator, the tail
  * percentile rule and the stub provider. Runs without Spark:
  *
  * {{{ python3 sumbench/run.py --selftest }}}
  */
object SelfTest {

  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: $e")
    }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  private val TextField = "\"text\": \"([^\"]*)\"".r
  private val SpeakerField = "\"speaker\": \"([^\"]*)\"".r

  private def texts(json: String): Seq[String] = TextField.findAllMatchIn(json).map(_.group(1)).toSeq

  def main(args: Array[String]): Unit = {
    test("generator: the same seed gives identical bytes") {
      check(Gen.reference(7) == Gen.reference(7), "reference differs between calls")
      check(Gen.corpus(7) == Gen.corpus(7), "corpus differs between calls")
    }

    test("generator: another seed gives other words in the same shape") {
      val a = Gen.reference(1)
      val b = Gen.reference(2)
      check(a != b, "two seeds gave the same reference transcript")
      check(texts(a).map(_.length) == texts(b).map(_.length), "text lengths depend on the seed")
      val (c, d) = (Gen.corpus(1), Gen.corpus(2))
      check(c != d, "two seeds gave the same corpus")
      check(c.map(t => texts(t._1).map(_.length)) == d.map(t => texts(t._1).map(_.length)),
        "corpus text lengths depend on the seed")
    }

    test("generator: reference shape") {
      val json = Gen.reference(0)
      val t = texts(json)
      check(t.size == Gen.RefSegments, s"${t.size} segments")
      check(t.forall(_.nonEmpty), "an empty text")
      check(SpeakerField.findAllMatchIn(json).map(_.group(1)).toSet == Set(Gen.RefSpeaker),
        "more than one speaker")
      check(json.contains(s""""end": ${Gen.RefSeconds}, """), "does not end at the reference length")
      // The program's cleaner drops an immediately repeated word; the
      // generator never writes one, so cleaning leaves lengths alone.
      check(!t.exists(s => "\\b(\\w+)( \\1\\b)+".r.findFirstIn(s).nonEmpty), "a repeated word")
    }

    test("generator: corpus shape") {
      val c = Gen.corpus(5)
      check(c.size == Gen.CorpusSize, s"${c.size} transcripts")
      check(c.map(_._2).sorted == Gen.corpusSegmentCounts.sorted, "segment counts")
      c.foreach { case (json, n) =>
        check(texts(json).size == n, "declared and written segment counts differ")
        val speakers = SpeakerField.findAllMatchIn(json).map(_.group(1)).toSet.size
        check(speakers >= 2 && speakers <= Gen.CorpusMaxSpeakers, s"$speakers speakers")
      }
    }

    test("tail: none below eleven samples") {
      check(Stats.tail((1 to 10).map(_.toDouble)).isEmpty, "a tail from ten samples")
    }

    test("tail: the highest percentile with ten samples beyond it") {
      val (v11, p11) = Stats.tail((1 to 11).map(_.toDouble).reverse).get
      check(v11 == 1.0 && math.abs(p11 - 100.0 / 11) < 1e-9, s"n=11 gave $v11 at p$p11")
      val xs = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
      val (v, p) = Stats.tail(xs).get
      check(v == 90.0 && p == 90.0, s"n=100 gave $v at p$p")
      check(xs.count(_ > v) == Stats.TailBeyond, "not exactly ten beyond")
    }

    test("stub: replies are a pure function of the request body") {
      val a = Stub.reply("""{"messages":[1]}""", 750)
      check(a == Stub.reply("""{"messages":[1]}""", 750), "same body, different reply")
      check(a.content != Stub.reply("""{"messages":[2]}""", 750).content, "bodies collide")
      check(a.content.length >= 3000 && a.content.length < 3020, s"${a.content.length} chars")
      check(graft.llm.MiniJson.firstString(a.json, "content").contains(a.content),
        "the OpenAI adapter would not read the content")
      check(graft.llm.MiniJson.firstInt(a.json, "completion_tokens").contains(a.completionTokens),
        "usage")
    }

    test("stub: tells map, batch and final calls apart") {
      check(Stub.kindOf("""{"messages":[{"role":"system","content":""},""") == Stub.KindMap, "map")
      // A level-1 batch's metadata block, as the program renders it.
      val batch = graft.llm.MiniJson.esc(graft.llm.Prompts.metadataBlock(Seq("Batch" -> "1/3")))
      check(Stub.kindOf(s"""{"role":"system","content":"x"},{"content":"$batch"}""") ==
        Stub.KindBatch, "batch")
      check(Stub.kindOf("""{"role":"system","content":"x"}""") == Stub.KindFinal, "final")
    }

    test("stub: in-flight accounting over a window") {
      val e = Seq(
        Stub.Entry(0, 100, "a", Stub.KindMap, 1, 1),
        Stub.Entry(50, 150, "b", Stub.KindMap, 1, 1),
        Stub.Entry(100, 200, "c", Stub.KindMap, 1, 1))
      val (mean, max) = Stub.inflight(e, 0, 200)
      check(max == 2, s"max $max") // c arrives as a finishes
      check(math.abs(mean - 1.5) < 1e-12, s"mean $mean")
      val (mean2, max2) = Stub.inflight(e, 150, 200)
      check(max2 == 1 && math.abs(mean2 - 1.0) < 1e-12, s"tail window $mean2 $max2")
    }

    test("stub: many held replies in flight on a fixed set of daemon threads") {
      val stub = new Stub(4, 20)
      stub.latencyMs = 300
      try {
        val http = HttpClient.newHttpClient()
        val n = 16
        val t0 = System.nanoTime()
        val futures = (0 until n).map { i =>
          val req = HttpRequest.newBuilder(URI.create(stub.endpoint + "/v1/chat/completions"))
            .POST(HttpRequest.BodyPublishers.ofString(s"""{"n":$i}""")).build()
          http.sendAsync(req, HttpResponse.BodyHandlers.ofString())
        }
        CompletableFuture.allOf(futures: _*).join()
        val wall = (System.nanoTime() - t0) / 1e9
        val bodies = futures.map(_.join().body())
        check(bodies.zipWithIndex.forall { case (b, i) => b == Stub.reply(s"""{"n":$i}""", 20).json },
          "a reply is not the pure function of its body")
        check(wall < 2.0, s"$n calls of 300 ms took $wall s: replies were not held concurrently")
        check(stub.peakInflight == n, s"peak in flight ${stub.peakInflight}")
        val log = stub.entries
        check(log.size == n && stub.requestCount == n, s"${log.size} logged")
        check(log.forall(e => e.finishNs - e.arrivalNs >= 300000000L), "a reply was not held")
        val (_, max) = Stub.inflight(log, log.map(_.arrivalNs).min, log.map(_.finishNs).max)
        check(max == n, s"log shows $max in flight")
        check(stub.ownThreads <= 4, s"${stub.ownThreads} threads")
        val mine = Thread.getAllStackTraces.keySet.toArray(new Array[Thread](0))
          .filter(Stub.isOwn)
        check(mine.forall(_.isDaemon), "a non-daemon stub thread")
      } finally stub.stop()
    }

    println(s"$passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
