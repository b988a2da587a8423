package sumbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.Ckpt
import graft.agg.SummaryReduce
import graft.app.Summarizer
import graft.chunk.Chunker
import graft.llm.{LlmConfig, SummarizeMap}
import graft.model.{ProcessedChunk, SummaryResult}
import graft.prep.Preprocess
import graft.text.TextFunctions

/** The summarizer benchmark: one closed-loop caller driving
  * `Summarizer.summarizePath` on `local[nproc]`, with every LLM call
  * answered by the in-process [[Stub]] provider through the program's
  * OpenAI adapter.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      [--digests <file>]
  * Main --record <file> --workload <name> --seeds <from>-<to> --work <dir>
  * }}}
  *
  * `--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
  * ones; the last stdout line is the result object. `--record` appends the
  * summary digests of the given seeds to `<file>`, for the check against
  * recorded outputs.
  */
object Main {

  final case class Workload(name: String, reference: Boolean, latencyMs: Long,
      replyTokens: Int, sinks: Boolean)

  /** About the length of the program's own mock reply. */
  val MockReplyTokens = 20

  val Workloads = Seq(
    Workload("ref_llm", reference = true, latencyMs = 100, replyTokens = 750, sinks = true),
    Workload("corpus_mock", reference = false, latencyMs = 0, MockReplyTokens, sinks = false)
  )

  /** Set-ups per untraced run; setup_s is their median. */
  val SetupRounds = 3
  /** Warm-up calls after the last set-up, before anything is timed: the
    * first calls on a fresh session still run slow. */
  val ExtraWarmupCalls = 2
  val TracedCalls = 3

  final case class Input(path: String, segments: Int)

  final case class Call(index: Int, seconds: Double, digest: String, llmCalls: Int,
      llmTokens: Long, work: Option[Probe.Counts], problems: Seq[String])

  /** One set-up: a Spark session, a stub and the generated inputs. */
  final class Env(val w: Workload, val spark: SparkSession, val stub: Stub,
      val inputs: Seq[Input], val work: Path) {
    val cfg = Summarizer.Config(llm = LlmConfig(provider = "openai", model = "gpt-4",
      apiKey = Some("sumbench"), endpoint = Some(stub.endpoint)))
    val sinkDir: Path = work.resolve("out").resolve(w.name)

    def close(): Unit = try spark.stop() finally stub.stop()
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  private def run(o: Map[String, String]): Int = {
    val w = Workloads.find(_.name == o("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${o("workload")}; one of " +
        Workloads.map(_.name).mkString(", ")))
    val work = Paths.get(o("work")).toAbsolutePath
    o.get("record") match {
      case Some(file) =>
        val Array(from, to) = o("seeds").split("-").map(_.toLong)
        record(w, from to to, work, Paths.get(file))
        0
      case None =>
        val recorded = o.get("digests").map(f => Digests.load(Paths.get(f))).getOrElse(Map.empty)
        val seed = o("seed").toLong
        val seconds = o("seconds").toDouble
        if (o("trace") == "1") traced(w, seed, seconds, work, recorded)
        else untraced(w, seed, seconds, work, recorded)
    }
  }

  // ---------------------------------------------------------------------
  // Set-up
  // ---------------------------------------------------------------------

  private def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** The stub's thread budget: nproc, and never below its minimum. */
  private def stubThreads: Int = math.max(4, nproc)

  private def session(work: Path): SparkSession = {
    // As graft.app.Main builds it, with scratch space kept in `work`.
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("sumbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def generate(w: Workload, seed: Long, dir: Path): Seq[Input] = {
    Files.createDirectories(dir)
    val docs =
      if (w.reference) Seq((Gen.reference(seed), Gen.RefSegments)) else Gen.corpus(seed)
    docs.zipWithIndex.map { case ((json, n), i) =>
      val p = dir.resolve(f"t$i%03d.json")
      Files.writeString(p, json)
      Input(p.toString, n)
    }
  }

  private def open(w: Workload, seed: Long, work: Path): Env = {
    val spark = session(work)
    val stub = new Stub(stubThreads, w.replyTokens)
    val inputs = generate(w, seed, work.resolve("inputs").resolve(s"${w.name}-seed$seed"))
    new Env(w, spark, stub, inputs, work)
  }

  /** Problems found outside the counted calls: in warm-up calls and in
    * the end-of-run checks. Any of them makes the run incorrect. */
  type Failures = scala.collection.mutable.ArrayBuffer[String]

  /** One set-up: open, then one warm-up call. Warm-up calls run against an
    * instant provider: they load classes and compile code, which does not
    * depend on how long the provider takes. */
  private def setup(w: Workload, seed: Long, work: Path, digests: Digests.Expect,
      failures: Failures): (Env, Double) = {
    val t0 = System.nanoTime()
    val env = open(w, seed, work)
    warm(env, 0, digests, failures)
    (env, (System.nanoTime() - t0) / 1e9)
  }

  private def warm(env: Env, i: Int, digests: Digests.Expect, failures: Failures): Unit =
    failures ++= call(env, i, digests).problems.map(p => s"warm-up call on input $i: $p")

  /** The warm-up calls after set-up, then the workload's provider latency. */
  private def ready(env: Env, digests: Digests.Expect, failures: Failures): Unit = {
    (1 to ExtraWarmupCalls).foreach(i => warm(env, i, digests, failures))
    env.stub.latencyMs = env.w.latencyMs
  }

  // ---------------------------------------------------------------------
  // One call, as a long-lived caller makes it
  // ---------------------------------------------------------------------

  private def digestOf(s: String): String = Stub.sha256(s).take(16)

  private def writeSinks(chunks: Dataset[ProcessedChunk], result: SummaryResult, dir: Path): Unit = {
    // In graft.app.Main's order: --save-chunks, --report, --output.
    Summarizer.saveChunks(chunks, dir.resolve("chunks.json").toString)
    Summarizer.saveReport(result, dir.resolve("report.json").toString)
    Summarizer.saveSummary(result.summary, dir.resolve("summary.md").toString)
  }

  /** Summarize input `i` (cycling), write the sinks if the workload does,
    * check the output, and unpersist the returned chunks. The call's time
    * covers the summary, the sinks and the unpersist, not the checks. */
  private def call(env: Env, i: Int, digests: Digests.Expect, probe: Option[Probe] = None): Call = {
    val idx = i % env.inputs.size
    val in = env.inputs(idx)
    val t0 = System.nanoTime()
    try {
      val c0 = probe.map(_.snapshot())
      val s0 = System.nanoTime()
      val out = Summarizer.summarizePath(env.spark, in.path, env.cfg)
      val s1 = System.nanoTime()
      val work = probe.map(p => p.snapshot() - c0.get)
      val k0 = System.nanoTime()
      if (env.w.sinks) writeSinks(out.processedChunks, out.result, env.sinkDir)
      val k1 = System.nanoTime()
      val digest = digestOf(out.result.summary)
      val problems = checkOutput(env, in, out) ++ digests.check(idx, digest)
      val u0 = System.nanoTime()
      out.processedChunks.unpersist(blocking = true)
      val u1 = System.nanoTime()
      val log = env.stub.entries
      val paid = log.filter(e => e.arrivalNs >= s0 && e.arrivalNs <= k1)
      val duringChecks = log.count(e => e.arrivalNs > k1 && e.arrivalNs <= u0)
      val extra =
        if (duringChecks > 0) Seq(s"$duringChecks provider calls while reading cached chunks")
        else Nil
      Call(idx, ((s1 - s0) + (k1 - k0) + (u1 - u0)) / 1e9, digest, paid.size,
        paid.map(e => e.promptTokens.toLong + e.completionTokens).sum, work, problems ++ extra)
    } catch {
      case NonFatal(e) =>
        Call(idx, (System.nanoTime() - t0) / 1e9, "", 0, 0L, None, Seq(s"threw $e"))
    }
  }

  private def checkOutput(env: Env, in: Input, out: Summarizer.Output): Seq[String] = {
    val r = out.result
    val rows = out.processedChunks.select("chunkIndex", "tokenCount", "error").collect()
    val idx = rows.map(_.getInt(0)).sorted.toSeq
    val budget = env.cfg.chunk.effectiveMax
    Seq(
      (r.segments != in.segments) -> s"segments ${r.segments} != generated ${in.segments}",
      (rows.length.toLong != r.chunks) -> s"${rows.length} chunk rows but result says ${r.chunks}",
      (idx != idx.indices) -> "chunk indices are not 0..n-1",
      rows.exists(_.getInt(1) > budget) -> s"a chunk exceeds $budget tokens",
      rows.exists(!_.isNullAt(2)) -> "error rows in the mapped chunks",
      (r.summary.isEmpty || r.summary.startsWith("[Error")) -> "no final summary"
    ).collect { case (true, msg) => msg }
  }

  // ---------------------------------------------------------------------
  // Untraced run: end-to-end metrics
  // ---------------------------------------------------------------------

  private def heapUsedAfterGc(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Whole passes over the inputs until `seconds` have passed and at least
    * `minCalls` calls are made. Returns the calls and the post-GC heap
    * high-water. */
  private def loop(env: Env, seconds: Double, minCalls: Int,
      digests: Digests.Expect): (Seq[Call], Double) = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val calls = Vector.newBuilder[Call]
    var n = 0
    var heap = 0.0
    while (n < minCalls || System.nanoTime() < deadline || n % env.inputs.size != 0) {
      calls += call(env, n, digests)
      heap = math.max(heap, heapUsedAfterGc())
      n += 1
    }
    (calls.result(), heap)
  }

  private def untraced(w: Workload, seed: Long, seconds: Double, work: Path,
      recorded: Digests.Table): Int = {
    val digests = new Digests.Expect(recorded.get((w.name, seed)))
    val failures = new Failures
    var env: Env = null
    try {
      val setups = (1 to SetupRounds).map { _ =>
        if (env != null) env.close()
        env = null
        val (e, s) = setup(w, seed, work, digests, failures)
        env = e
        s
      }
      ready(env, digests, failures)
      val (calls, heap) = loop(env, seconds, Stats.TailBeyond + 1, digests)
      val endProblems = failures.toSeq ++ finish(env)
      val times = calls.map(_.seconds)
      val (tail, pct) = Stats.tail(times).get
      val failed = calls.count(_.problems.nonEmpty)
      report(calls, endProblems)
      System.err.println(s"sumbench: set-ups ${setups.map(x => f"$x%.2f").mkString(" ")} s; " +
        s"calls ${times.map(x => f"$x%.2f").mkString(" ")} s")
      println(f"sumbench: ${w.name} seed $seed: transcript_s_tail is p$pct%.1f of n=${times.size}; " +
        s"digest ${calls.headOption.map(_.digest).getOrElse("-")}" +
        digests.note)
      emit(failed == 0 && endProblems.isEmpty, calls.size, failed, Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("transcript_s_p50", Stats.median(times), "s"),
        ("transcript_s_tail", tail, "s"),
        ("transcripts_per_s", calls.size / times.sum, "1/s"),
        ("llm_calls_per_transcript", calls.map(_.llmCalls).sum.toDouble / calls.size, "count"),
        ("llm_tokens_per_transcript", calls.map(_.llmTokens).sum.toDouble / calls.size, "count"),
        ("heap_mb_peak", heap, "MiB")
      ))
      0
    } finally if (env != null) env.close()
  }

  /** End-of-run checks: nothing left persisted once every returned chunk
    * set is unpersisted, and the stub stayed inside its thread budget. */
  private def finish(env: Env): Seq[String] = {
    val persisted = Ckpt.settledPersistentCount(env.spark.sparkContext)
    val threads = env.stub.ownThreads
    Seq(
      (persisted != 0) -> s"$persisted RDDs still persisted after the run",
      (threads > stubThreads) -> s"stub runs $threads threads"
    ).collect { case (true, msg) => msg }
  }

  private def report(calls: Seq[Call], endProblems: Seq[String]): Unit = {
    calls.filter(_.problems.nonEmpty).foreach(c =>
      System.err.println(s"sumbench: call on input ${c.index} failed: ${c.problems.mkString("; ")}"))
    endProblems.foreach(p => System.err.println(s"sumbench: check failed: $p"))
  }

  private def emit(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): Unit = {
    val m = metrics
      .map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$m}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  // ---------------------------------------------------------------------
  // Traced run: per-layer metrics
  // ---------------------------------------------------------------------

  final case class Recomposed(tid: Int, index: Int, digest: String, rows: Long, rowsOut: Long,
      tokenCounts: Seq[Int])

  /** The pipeline `summarizePath` runs, rebuilt from the same public calls,
    * with every layer boundary materialized inside a span. */
  private def recompose(env: Env, tr: Tracer, tid: Int, i: Int): Recomposed = {
    import org.apache.spark.sql.functions._
    val spark = env.spark
    val cfg = env.cfg
    val idx = i % env.inputs.size
    val in = env.inputs(idx)
    var cached = List.empty[Dataset[_]]
    def keep[T](ds: Dataset[T]): Dataset[T] = { ds.cache(); cached ::= ds; ds }
    try {
      var rows, rowsOut = 0L
      var tokenCounts = Seq.empty[Int]
      val t0 = System.nanoTime()
      val (result, mapped) = tr.span(tid, "app") {
        val raw = tr.span(tid, "load") {
          val r = keep(Preprocess.loadTranscript(spark, in.path))
          rows = r.count()
          r
        }
        val nSegments = cfg.prep.limitSegments.fold(rows)(l => math.min(rows, l.toLong))
        val processed = tr.span(tid, "prep") {
          val p = keep(Preprocess.run(spark, raw, cfg.prep))
          rowsOut = p.count()
          p
        }
        val chunks = tr.span(tid, "chunk") {
          val c = keep(Chunker.run(spark, processed, cfg.chunk))
          c.count()
          c
        }
        tokenCounts = chunks.select("tokenCount").collect().map(_.getInt(0)).toSeq
        val mapped = tr.span(tid, "map") {
          val m = keep(SummarizeMap.run(spark, chunks, cfg.llm, cfg.map))
          m.count()
          m
        }
        val nChunks = tokenCounts.size.toLong
        val metadata = tr.span(tid, "meta") {
          val (durSec, _) = Preprocess.transcriptDuration(processed)
          val speakers = Preprocess.extractSpeakers(processed)
          cfg.agg.metadata ++ Seq(
            "Transcript Duration" -> TextFunctions.formatDurationWords(durSec),
            "Number of Speakers" -> speakers.size.toString,
            "Speakers" -> speakers.mkString(", "),
            "Number of Segments" -> nSegments.toString,
            "Number of Chunks" -> nChunks.toString)
        }
        val agg = tr.span(tid, "reduce") {
          SummaryReduce.aggregate(spark, mapped, cfg.llm, cfg.agg.copy(metadata = metadata))
        }
        val usage = tr.span(tid, "usage") {
          mapped.agg(sum(col("tokensUsed").cast("long")), sum(col("cost"))).head()
        }
        val mapTokens = if (usage.isNullAt(0)) 0L else usage.getLong(0)
        val mapCost = if (usage.isNullAt(1)) 0.0 else usage.getDouble(1)
        (SummaryResult(agg.summary, (System.nanoTime() - t0) / 1e9,
          mapTokens + agg.tokensUsed, mapCost + agg.cost, nSegments, nChunks,
          cfg.llm.provider, cfg.llm.model), mapped)
      }
      // The sinks are timed on every workload; they count towards the
      // traced total only where the untraced loop writes them too.
      tr.span(tid, "sink") {
        writeSinks(mapped, result, env.sinkDir.resolve("traced"))
      }
      Recomposed(tid, idx, digestOf(result.summary), rows, rowsOut, tokenCounts)
    } finally cached.foreach(_.unpersist(blocking = true))
  }

  private def traced(w: Workload, seed: Long, seconds: Double, work: Path,
      recorded: Digests.Table): Int = {
    val digests = new Digests.Expect(recorded.get((w.name, seed)))
    val failures = new Failures
    val (env, _) = setup(w, seed, work, digests, failures)
    try {
      ready(env, digests, failures)
      val probe = new Probe(env.spark.sparkContext)
      val tracer = new Tracer(probe)
      val origin = System.nanoTime()
      // Pairs on one input, back to back: a plain call counted by the
      // listener, then the traced recomposition of the same pipeline.
      val deadline = origin + (seconds * 1e9).toLong
      val pairs = Vector.newBuilder[(Call, Recomposed)]
      var k = 0
      while (k < TracedCalls || System.nanoTime() < deadline) {
        val plain = call(env, k, digests, Some(probe))
        pairs += ((plain, recompose(env, tracer, k, k)))
        k += 1
      }
      probe.stop()
      val (plains, recs) = pairs.result().unzip
      val endProblems = failures.toSeq ++ finish(env)
      val recProblems = recs.map(r => digests.check(r.index, r.digest))
      val traceProblems = recs.zip(recProblems).flatMap { case (r, ps) =>
        ps.map(p => s"traced transcript ${r.tid}: $p")
      }
      val log = env.stub.entries
      val spans = tracer.spans
      Files.createDirectories(work.resolve("traces"))
      Files.writeString(work.resolve("traces").resolve(s"${w.name}-seed$seed.json"),
        tracer.toJson(origin))

      def sp(tid: Int, name: String) = spans.find(s => s.tid == tid && s.name == name).get
      def within(s: Tracer.Span) = log.filter(e => e.arrivalNs >= s.startNs && e.arrivalNs <= s.endNs)
      def med(f: Recomposed => Double): Double = Stats.median(recs.map(f))

      val appWork = plains.flatMap(_.work)
      def appMed(f: Probe.Counts => Double) = Stats.median(appWork.map(f))
      val metrics = Seq(
        ("app.jobs", appMed(_.jobs.toDouble), "count"),
        ("app.stages", appMed(_.stages.toDouble), "count"),
        ("app.task_s", appMed(_.taskSeconds), "s"),
        ("load.s", med(r => sp(r.tid, "load").seconds), "s"),
        ("load.rows", med(_.rows.toDouble), "count"),
        ("prep.s", med(r => sp(r.tid, "prep").seconds), "s"),
        ("prep.rows_out", med(_.rowsOut.toDouble), "count"),
        ("prep.jobs", med(r => sp(r.tid, "prep").work.jobs.toDouble), "count"),
        ("prep.task_s", med(r => sp(r.tid, "prep").work.taskSeconds), "s"),
        ("prep.shuffle_mb", med(r => sp(r.tid, "prep").work.shuffleBytes / 1048576.0), "MiB"),
        ("chunk.s", med(r => sp(r.tid, "chunk").seconds), "s"),
        ("chunk.chunks", med(_.tokenCounts.size.toDouble), "count"),
        ("chunk.fill", med(r => r.tokenCounts.sum.toDouble / r.tokenCounts.size /
          env.cfg.chunk.effectiveMax), "ratio"),
        ("chunk.jobs", med(r => sp(r.tid, "chunk").work.jobs.toDouble), "count"),
        ("chunk.task_s", med(r => sp(r.tid, "chunk").work.taskSeconds), "s"),
        ("map.s", med(r => sp(r.tid, "map").seconds), "s"),
        ("map.calls", med(r => within(sp(r.tid, "map")).size.toDouble), "count"),
        ("map.distinct_prompts",
          med(r => within(sp(r.tid, "map")).map(_.promptDigest).distinct.size.toDouble), "count"),
        ("map.paid_ratio", med { r =>
          val m = within(sp(r.tid, "map"))
          m.map(_.promptDigest).distinct.size.toDouble / m.size
        }, "ratio"),
        ("map.inflight_mean", med { r =>
          val s = sp(r.tid, "map"); Stub.inflight(log, s.startNs, s.endNs)._1
        }, "count"),
        ("map.inflight_max", med { r =>
          val s = sp(r.tid, "map"); Stub.inflight(log, s.startNs, s.endNs)._2.toDouble
        }, "count"),
        ("map.jobs", med(r => sp(r.tid, "map").work.jobs.toDouble), "count"),
        ("reduce.s", med(r => sp(r.tid, "reduce").seconds), "s"),
        ("reduce.calls", med(r => within(sp(r.tid, "reduce")).size.toDouble), "count"),
        ("reduce.levels", med { r =>
          within(sp(r.tid, "reduce")).map(_.kind).distinct.size.toDouble
        }, "count"),
        ("reduce.batches",
          med(r => within(sp(r.tid, "reduce")).count(_.kind == Stub.KindBatch).toDouble), "count"),
        ("reduce.jobs", med(r => sp(r.tid, "reduce").work.jobs.toDouble), "count"),
        ("sink.s", med(r => sp(r.tid, "sink").seconds), "s"),
        ("trace.overhead_s", Stats.median(plains.zip(recs).map { case (c, r) =>
          sp(r.tid, "app").seconds + (if (w.sinks) sp(r.tid, "sink").seconds else 0.0) -
            c.seconds
        }), "s")
      )
      report(plains, endProblems ++ traceProblems)
      println(s"sumbench: ${w.name} seed $seed: ${recs.size} plain calls and traced " +
        s"recompositions, ${spans.size} spans written" + digests.note)
      val failed = plains.count(_.problems.nonEmpty) + recProblems.count(_.nonEmpty)
      val attempted = plains.size + recs.size
      emit(failed == 0 && endProblems.isEmpty, attempted, failed, metrics)
      0
    } finally env.close()
  }

  // ---------------------------------------------------------------------
  // Recording digests
  // ---------------------------------------------------------------------

  private def record(w: Workload, seeds: Seq[Long], work: Path, file: Path): Unit = {
    val spark = session(work)
    val stub = new Stub(stubThreads, w.replyTokens)
    try {
      seeds.foreach { seed =>
        val inputs = generate(w, seed, work.resolve("inputs").resolve(s"${w.name}-seed$seed"))
        val env = new Env(w, spark, stub, inputs, work)
        val lines = inputs.indices.map { i =>
          val c = call(env, i, new Digests.Expect(None))
          if (c.problems.nonEmpty)
            throw new IllegalStateException(s"seed $seed input $i: ${c.problems.mkString("; ")}")
          s"${w.name} $seed $i ${c.digest}\n"
        }
        Files.writeString(file, lines.mkString, java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
        System.err.println(s"sumbench: recorded ${w.name} seed $seed")
      }
    } finally {
      try spark.stop() finally stub.stop()
    }
  }
}

/** Summary digests: the recorded table and the per-run expectation. */
object Digests {
  import scala.jdk.CollectionConverters._

  type Table = Map[(String, Long), Map[Int, String]]

  /** Lines of `workload seed input digest`. */
  def load(file: Path): Table =
    if (!Files.exists(file)) Map.empty
    else
      Files.readAllLines(file).asScala
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+"))
        .toSeq
        .groupBy(a => (a(0), a(1).toLong))
        .map { case (k, rows) => k -> rows.map(a => a(2).toInt -> a(3)).toMap }

  /** Within one run, each input must summarize to the same digest on every
    * call, and to the recorded digest when the seed has one. */
  final class Expect(recorded: Option[Map[Int, String]]) {
    private val seen = scala.collection.mutable.Map.empty[Int, String]

    def check(idx: Int, digest: String): Seq[String] = {
      val first = seen.getOrElseUpdate(idx, digest)
      (Some(first).filter(_ != digest).map(f => s"summary digest $digest differs from this run's first $f") ++
        recorded.flatMap(_.get(idx)).filter(_ != digest)
          .map(r => s"summary digest $digest differs from the recorded $r")).toSeq
    }

    def note: String =
      if (recorded.isEmpty) " (no recorded digest for this seed)" else " (checked against recorded digests)"
  }
}
