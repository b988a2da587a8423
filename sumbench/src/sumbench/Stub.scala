package sumbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process stand-in for an OpenAI-compatible chat-completions provider.
  *
  * Every reply is a pure function of the request body: the content is
  * `SUMMARY <digest>` followed by filler words drawn from the body's
  * SHA-256, sized to `replyTokens` (chars/4), and `usage` bills the body
  * and the content at chars/4. Each reply is held for `latencyMs` by a
  * timer, not by a sleeping thread, so any number of calls can be in
  * flight on a fixed set of threads: handler threads read and answer,
  * one timer thread releases the held replies, and the HTTP server adds
  * its dispatcher and idle-connection timer — `threads` in all. Every
  * thread is a daemon.
  *
  * The request log ([[entries]]) is the benchmark's only source of paid-call
  * counts: one entry per request, with arrival and finish times, the
  * prompt digest, what kind of call it was and the billed tokens.
  */
final class Stub(threads: Int, replyTokens: Int) {
  import Stub._

  require(threads >= 4, "a handler, the reply timer and the server's two threads")

  @volatile var latencyMs: Long = 0L

  private val log = new ConcurrentLinkedQueue[Entry]
  private val inflight = new AtomicInteger(0)
  private val maxInflight = new AtomicInteger(0)
  private val requests = new AtomicLong(0)

  private val handlerPool = Executors.newFixedThreadPool(threads - 3, daemon("stub-handler"))
  private val timer = Executors.newSingleThreadScheduledExecutor(daemon("stub-timer"))

  // The server's own threads inherit daemon status from the thread that
  // starts it.
  private val server: HttpServer = {
    // Answer without Nagle's delay: a reply written as headers then body
    // would otherwise wait out the client's delayed ACK on a kept-alive
    // connection, a stall a real provider's server does not add.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val s = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 256)
    s.createContext("/v1/chat/completions", (ex: HttpExchange) => handle(ex))
    s.setExecutor(handlerPool)
    val starter = daemon("stub-start").newThread(() => s.start())
    starter.start()
    starter.join()
    s
  }

  /** Base URL for `LlmConfig.endpoint`. */
  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Every request answered so far, sorted by arrival. */
  def entries: Seq[Entry] = {
    val a = log.toArray(new Array[Entry](0))
    a.sortBy(_.arrivalNs).toSeq
  }

  def requestCount: Long = requests.get()
  def peakInflight: Int = maxInflight.get()

  /** Threads this stub owns (live), for the thread-budget check. */
  def ownThreads: Int = {
    val all = Thread.getAllStackTraces.keySet.toArray(new Array[Thread](0))
    all.count(t => t.isAlive && isOwn(t))
  }

  def stop(): Unit = {
    server.stop(0)
    timer.shutdownNow()
    handlerPool.shutdownNow()
    timer.awaitTermination(10, TimeUnit.SECONDS)
    handlerPool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def handle(ex: HttpExchange): Unit = {
    val arrival = System.nanoTime()
    requests.incrementAndGet()
    val now = inflight.incrementAndGet()
    maxInflight.accumulateAndGet(now, math.max)
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val r = reply(body, replyTokens)
    val bytes = r.json.getBytes(UTF_8)
    val send: Runnable = () =>
      try {
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        val os = ex.getResponseBody
        os.write(bytes)
        os.close()
      } finally {
        inflight.decrementAndGet()
        log.add(Entry(arrival, System.nanoTime(), r.promptDigest, kindOf(body),
          r.promptTokens, r.completionTokens))
      }
    val hold = latencyMs - (System.nanoTime() - arrival) / 1000000L
    if (hold > 0) timer.schedule(send, hold, TimeUnit.MILLISECONDS)
    else send.run()
  }
}

object Stub {

  /** One request as the provider saw it. Times are `System.nanoTime`. */
  final case class Entry(
      arrivalNs: Long,
      finishNs: Long,
      promptDigest: String,
      kind: String,
      promptTokens: Int,
      completionTokens: Int
  )

  final case class Reply(json: String, content: String, promptDigest: String,
      promptTokens: Int, completionTokens: Int)

  /** Kinds of call, told apart by the request as sent: the map sends no
    * system prompt; a level-1 reduce batch carries a "- Batch: i/n"
    * metadata line; any other call with a system prompt is a final combine. */
  val KindMap = "map"
  val KindBatch = "reduce_batch"
  val KindFinal = "reduce_final"

  def kindOf(body: String): String =
    if (body.contains("\"role\":\"system\",\"content\":\"\"")) KindMap
    else if (body.contains("- Batch: ")) KindBatch
    else KindFinal

  private val Filler = Array("the", "speaker", "describes", "plans", "for",
    "a", "project", "and", "notes", "several", "open", "questions", "about",
    "timing", "budget", "people", "results", "next", "steps", "with")

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  /** The provider's answer to `body`: a pure function of the bytes. */
  def reply(body: String, replyTokens: Int): Reply = {
    val digest = sha256(body)
    val r = new java.util.Random(java.lang.Long.parseUnsignedLong(digest.take(15), 16))
    val b = new StringBuilder(s"SUMMARY ${digest.take(16)}.")
    val target = math.max(replyTokens * 4, b.length)
    var sentence = 0
    while (b.length < target) {
      b.append(' ')
      sentence += 1
      val w = Filler(r.nextInt(Filler.length))
      b.append(if (sentence == 1) w.capitalize else w)
      if (sentence >= 8 + r.nextInt(6)) { b.append('.'); sentence = 0 }
    }
    val content = b.toString
    val pt = math.max(1, body.length / 4)
    val ct = math.max(1, content.length / 4)
    val json =
      s"""{"id":"stub-${digest.take(12)}","object":"chat.completion","model":"stub",""" +
        s""""choices":[{"index":0,"message":{"role":"assistant","content":"$content"},""" +
        s""""finish_reason":"stop"}],""" +
        s""""usage":{"prompt_tokens":$pt,"completion_tokens":$ct,"total_tokens":${pt + ct}}}"""
    Reply(json, content, digest, pt, ct)
  }

  /** Time-weighted mean and maximum number of requests in flight over
    * [fromNs, toNs]. */
  def inflight(entries: Seq[Entry], fromNs: Long, toNs: Long): (Double, Int) = {
    val span = toNs - fromNs
    if (span <= 0) return (0.0, 0)
    val busy = entries.map { e =>
      math.max(0L, math.min(e.finishNs, toNs) - math.max(e.arrivalNs, fromNs))
    }.sum
    // Sweep: finishes sort before arrivals at the same instant.
    val events = entries
      .filter(e => e.finishNs > fromNs && e.arrivalNs < toNs)
      .flatMap(e => Seq((e.arrivalNs, 1), (e.finishNs, -1)))
      .sortBy { case (t, d) => (t, d) }
    var cur = 0
    var peak = 0
    events.foreach { case (_, d) => cur += d; peak = math.max(peak, cur) }
    (busy.toDouble / span, peak)
  }

  private[sumbench] def isOwn(t: Thread): Boolean =
    t.getName.startsWith("stub-") || t.getName == "HTTP-Dispatcher" ||
      t.getName == "idle-timeout-task"

  private def daemon(prefix: String): ThreadFactory = {
    val n = new AtomicInteger(0)
    (r: Runnable) => {
      val t = new Thread(r, s"$prefix-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }
}
