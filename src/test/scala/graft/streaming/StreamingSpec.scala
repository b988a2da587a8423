package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Streaming variants vs their batch twins: the static events parquet is
  * replayed through each streaming query into a memory sink, then compared
  * against the batch aggregation of the same data. */
class StreamingSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** The file-stream source needs a directory holding only events files —
    * stage one with a symlink to the read-only test parquet. */
  private lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.createSymbolicLink(
      d.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    d.toString
  }

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String) = {
    val q = df.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("streaming tumbling window matches the batch aggregation") {
    val stream = StreamingOps.readEvents(spark, streamDir)
    // Append mode only emits windows the watermark has passed; the last
    // window stays open, so compare on the emitted prefix.
    val got = runToMemory(StreamingOps.tumblingCounts(stream), "tumbling")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3)))
      .toMap
    val batch = graft.queries.Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("vc"))
      .select(col("window.start"), col("event_type"), col("n"), col("vc"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.nonEmpty, "watermark should have closed most windows")
    got.foreach { case (k, v) =>
      assert(batch(k) == v, s"window $k: stream=$v batch=${batch(k)}")
    }
  }

  test("streaming session window produces per-user sessions") {
    val stream = StreamingOps.readEvents(spark, streamDir)
    val got = runToMemory(StreamingOps.sessionCounts(stream), "sessions")
    assert(got.count() > 0)
    // Every user's emitted session event total ≤ its batch event total.
    val perUser = got.groupBy("user_id").agg(sum("n_events").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchTotals = graft.queries.Tables.events(spark, dir)
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    perUser.foreach { case (u, n) => assert(n <= batchTotals(u)) }
  }

  test("stream-static join enriches streaming events with a dimension") {
    import org.apache.spark.sql.functions._
    val stream = StreamingOps.readEvents(spark, streamDir)
    // Static dimension: per-type weighting table (broadcast into each
    // micro-batch — the standard stream-static enrichment shape).
    import spark.implicits._
    val dim = Seq(("click", 3.0), ("view", 1.0), ("purchase", 10.0))
      .toDF("event_type", "weight")
    val joined = stream
      .join(broadcast(dim), Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        (col("value") * col("weight")).as("weighted"))
    val got = runToMemory(joined, "enriched")
    val n = got.count()
    val batchN = graft.queries.Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view", "purchase")).count()
    assert(n == batchN)
    assert(got.filter(col("weighted").isNull).count() == 0)
  }

  test("streaming dedup emits exactly one row per key") {
    val stream = StreamingOps.readEvents(spark, streamDir)
    val got = runToMemory(StreamingOps.dedupStream(stream), "deduped")
    val batchDistinct = graft.queries.Tables.events(spark, dir)
      .select("user_id", "event_type").distinct().count()
    assert(got.count() == batchDistinct)
    // No key appears twice in the output.
    assert(
      got.groupBy("user_id", "event_type").count()
        .filter(col("count") > 1).count() == 0)
  }

  test("stream-stream interval join matches the batch join") {
    val stream = StreamingOps.readEvents(spark, streamDir)
    val got = runToMemory(StreamingOps.clickViewJoin(stream), "ssjoin")
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .toSet
    val ev = graft.queries.Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_event_id"),
        col("user_id").as("vu"), col("ts").as("view_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_event_id"),
        col("user_id").as("cu"), col("ts").as("click_ts"))
    val batch = clicks.join(views,
      col("cu") === col("vu") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR"))
      .select("click_event_id", "view_event_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got.nonEmpty)
    // Append-mode emission is watermark-gated, so the stream output is a
    // subset; on a single replayed file it should be the full set.
    assert(got.subsetOf(batch))
    assert(got.size >= batch.size / 2, s"stream=${got.size} batch=${batch.size}")
  }

  test("gap sessions are invariant to micro-batch boundaries") {
    import spark.implicits._
    // Split events into 4 time-ordered files and force one file per
    // micro-batch: sessions spanning a batch boundary must carry through
    // state and come out identical to the single-batch run.
    val split = java.nio.file.Files.createTempDirectory("events_split")
    val stage = java.nio.file.Files.createTempDirectory("events_stage")
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts")
    val ev = graft.queries.Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
    val n = ev.count()
    val parts = 4
    (0 until parts).foreach { i =>
      val lo = i * n / parts
      val hi = (i + 1) * n / parts
      ev.filter(col("rn") > lo && col("rn") <= hi)
        .select(col("event_id"), unix_micros(col("ts")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/p$i")
      // Move the part file into the (clean) source dir in time order —
      // the file source processes files oldest-mtime-first.
      val part = new java.io.File(s"$stage/p$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$split/events_$i.parquet"))
    }
    def read(dirPath: String, oneFilePerBatch: Boolean) = {
      val base = spark.readStream
        .schema(StreamingOps.eventsRawSchema)
      val withOpt =
        if (oneFilePerBatch) base.option("maxFilesPerTrigger", "1") else base
      // The split files carry micros (written by a µs-precision Spark
      // frame), not the raw nanos of the original parquet.
      withOpt.parquet(dirPath)
        .withColumn("ts", timestamp_micros(col("ts")))
    }
    val multi = runToMemory(
      StreamingOps.gapSessions(spark, read(split.toString, true)).toDF,
      "sess_multi").collect().map(_.toSeq).toSet
    val single = runToMemory(
      StreamingOps.gapSessions(spark, read(split.toString, false)).toDF,
      "sess_single").collect().map(_.toSeq).toSet
    assert(multi.nonEmpty)
    assert(multi == single)
  }

  test("gap sessions run identically on the RocksDB state store") {
    // The 100 TB state story: HDFS-backed in-memory state stores cap at
    // executor heap; RocksDB spills keyed state to local disk and is the
    // production choice for large/long-lived state. Same query, same
    // answer — only the provider differs.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val got = runToMemory(
        StreamingOps.gapSessions(
          spark, StreamingOps.readEvents(spark, streamDir)).toDF,
        "sess_rocks").collect().map(_.toSeq).toSet
      spark.conf.unset(key) // default (HDFS-backed) provider
      val base = runToMemory(
        StreamingOps.gapSessions(
          spark, StreamingOps.readEvents(spark, streamDir)).toDF,
        "sess_hdfsstore").collect().map(_.toSeq).toSet
      assert(got.nonEmpty)
      assert(got == base)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("buffered gap sessions run identically on the RocksDB state store") {
    // The buffered variant carries the richest state (a Seq[Long]
    // pending buffer + open session + next index) and registers
    // event-time timeouts — all of it must round-trip through RocksDB's
    // serialized store byte-identically to the HDFS-backed default.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val got = runToMemory(
        StreamingOps.gapSessionsBuffered(
          spark, StreamingOps.readEvents(spark, streamDir)).toDF,
        "sess_buf_rocks").collect().map(_.toSeq).toSet
      spark.conf.unset(key) // default (HDFS-backed) provider
      val base = runToMemory(
        StreamingOps.gapSessionsBuffered(
          spark, StreamingOps.readEvents(spark, streamDir)).toDF,
        "sess_buf_hdfsstore").collect().map(_.toSeq).toSet
      assert(got.nonEmpty)
      assert(got == base)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("gap sessions recover from a checkpoint across a stop/restart") {
    import spark.implicits._
    // The durability half of streaming correctness: run half the input,
    // STOP the query, restart from the same checkpoint with the rest of
    // the input, and require the union of sink output to equal an
    // uninterrupted run exactly once — flatMapGroupsWithState state
    // (open sessions spanning the stop boundary) must come back from the
    // state store, and the file sink's commit log must neither drop nor
    // duplicate batches.
    val stage = java.nio.file.Files.createTempDirectory("ckpt_stage")
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts")
    val ev = graft.queries.Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
    val n = ev.count()
    val parts = 4
    val partFiles = (0 until parts).map { i =>
      val lo = i * n / parts
      val hi = (i + 1) * n / parts
      val pdir = s"$stage/p$i"
      ev.filter(col("rn") > lo && col("rn") <= hi)
        .select(col("event_id"), unix_micros(col("ts")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("overwrite").parquet(pdir)
      new java.io.File(pdir).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
    }
    def read(srcDir: java.nio.file.Path) = spark.readStream
      .schema(StreamingOps.eventsRawSchema)
      .parquet(srcDir.toString)
      .withColumn("ts", timestamp_micros(col("ts")))
    def runTo(srcDir: java.nio.file.Path, outDir: String, ckptDir: String)
        : Unit = {
      val q = StreamingOps.gapSessions(spark, read(srcDir)).toDF
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .outputMode("append")
        .start()
      q.processAllAvailable()
      q.stop()
    }
    def copyIn(srcDir: java.nio.file.Path, idx: Range): Unit =
      idx.foreach { i =>
        java.nio.file.Files.copy(partFiles(i),
          srcDir.resolve(s"events_$i.parquet"))
      }
    // Interrupted run: files 0-1, stop, add 2-3, restart same checkpoint.
    val srcA = java.nio.file.Files.createTempDirectory("ckpt_srcA")
    val outA = java.nio.file.Files.createTempDirectory("ckpt_outA").toString
    val ckptA = java.nio.file.Files.createTempDirectory("ckpt_ckptA").toString
    copyIn(srcA, 0 until 2)
    runTo(srcA, outA, ckptA)
    val phase1Rows = spark.read.parquet(outA).count()
    copyIn(srcA, 2 until 4)
    runTo(srcA, outA, ckptA)
    // Uninterrupted reference: all 4 files, fresh checkpoint.
    val srcB = java.nio.file.Files.createTempDirectory("ckpt_srcB")
    val outB = java.nio.file.Files.createTempDirectory("ckpt_outB").toString
    val ckptB = java.nio.file.Files.createTempDirectory("ckpt_ckptB").toString
    copyIn(srcB, 0 until 4)
    runTo(srcB, outB, ckptB)
    def multiset(path: String) = spark.read.parquet(path)
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val recovered = multiset(outA)
    val single = multiset(outB)
    assert(phase1Rows > 0, "phase 1 should already emit closed sessions")
    assert(recovered.values.sum > phase1Rows,
      "restart should emit additional sessions")
    assert(recovered == single,
      "restarted-run output must equal the uninterrupted run exactly once")
  }

  test("buffered gap sessions recover from a checkpoint across a stop/restart") {
    import spark.implicits._
    // Same durability contract as the ordered sessionizer's recovery
    // test, for the operator with the most state to lose: the pending
    // out-of-order buffer, the open session, and the next session index
    // must all come back from the state store so the restarted run's
    // union equals an uninterrupted run exactly once — including the
    // emitted idx values, which would shift on any nextIdx reset. Rows
    // are shuffled WITHIN each time-quartile part (the disorder the
    // buffered variant exists for); parts stay time-ordered so the
    // watermark never drops rows and both runs see the same event set.
    val stage = java.nio.file.Files.createTempDirectory("bckpt_stage")
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts")
    val ev = graft.queries.Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
    val n = ev.count()
    val parts = 4
    val partFiles = (0 until parts).map { i =>
      val lo = i * n / parts
      val hi = (i + 1) * n / parts
      val pdir = s"$stage/p$i"
      ev.filter(col("rn") > lo && col("rn") <= hi)
        .orderBy(md5(col("event_id").cast("string"))) // in-part shuffle
        .select(col("event_id"), unix_micros(col("ts")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("overwrite").parquet(pdir)
      new java.io.File(pdir).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
    }
    def read(srcDir: java.nio.file.Path) = spark.readStream
      .schema(StreamingOps.eventsRawSchema)
      .parquet(srcDir.toString)
      .withColumn("ts", timestamp_micros(col("ts")))
    def runTo(srcDir: java.nio.file.Path, outDir: String, ckptDir: String)
        : Unit = {
      val q = StreamingOps.gapSessionsBuffered(spark, read(srcDir)).toDF
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .outputMode("append")
        .start()
      q.processAllAvailable()
      q.stop()
    }
    def copyIn(srcDir: java.nio.file.Path, idx: Range): Unit =
      idx.foreach { i =>
        java.nio.file.Files.copy(partFiles(i),
          srcDir.resolve(s"events_$i.parquet"))
      }
    val srcA = java.nio.file.Files.createTempDirectory("bckpt_srcA")
    val outA = java.nio.file.Files.createTempDirectory("bckpt_outA").toString
    val ckptA = java.nio.file.Files.createTempDirectory("bckpt_ckptA").toString
    copyIn(srcA, 0 until 2)
    runTo(srcA, outA, ckptA)
    val phase1Rows = spark.read.parquet(outA).count()
    copyIn(srcA, 2 until 4)
    runTo(srcA, outA, ckptA)
    val srcB = java.nio.file.Files.createTempDirectory("bckpt_srcB")
    val outB = java.nio.file.Files.createTempDirectory("bckpt_outB").toString
    val ckptB = java.nio.file.Files.createTempDirectory("bckpt_ckptB").toString
    copyIn(srcB, 0 until 4)
    runTo(srcB, outB, ckptB)
    def multiset(path: String) = spark.read.parquet(path)
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val recovered = multiset(outA)
    val single = multiset(outB)
    assert(phase1Rows > 0, "phase 1 should already emit certified sessions")
    assert(recovered.values.sum > phase1Rows,
      "restart should emit additional sessions")
    assert(recovered == single,
      "restarted-run output must equal the uninterrupted run exactly once")
  }

  test("run detection recovers from a checkpoint across a stop/restart") {
    import spark.implicits._
    // Completes the recovery matrix (ordered sessionizer ✓, buffered
    // sessionizer ✓ + randomized fuzz, run detection ✗ → ✓): the
    // mapGroupsWithState run state (last type, run count, last ms) must
    // come back from the state store so the restarted run continues
    // counting runs where it stopped — a state reset would both re-emit
    // run 1 per user and renumber every later run. Parts are
    // time-ordered quartiles (the operator's documented cross-batch
    // ordering contract).
    val stage = java.nio.file.Files.createTempDirectory("rckpt_stage")
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts")
    val ev = graft.queries.Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
    val n = ev.count()
    val parts = 4
    val partFiles = (0 until parts).map { i =>
      val lo = i * n / parts
      val hi = (i + 1) * n / parts
      val pdir = s"$stage/p$i"
      ev.filter(col("rn") > lo && col("rn") <= hi)
        .select(col("event_id"), unix_micros(col("ts")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("overwrite").parquet(pdir)
      new java.io.File(pdir).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
    }
    def read(srcDir: java.nio.file.Path) = spark.readStream
      .schema(StreamingOps.eventsRawSchema)
      .parquet(srcDir.toString)
      .withColumn("ts", timestamp_micros(col("ts")))
    def runTo(srcDir: java.nio.file.Path, outDir: String, ckptDir: String)
        : Unit = {
      val q = StreamingOps.runDetection(spark, read(srcDir)).toDF
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .outputMode("append")
        .start()
      q.processAllAvailable()
      q.stop()
    }
    def copyIn(srcDir: java.nio.file.Path, idx: Range): Unit =
      idx.foreach { i =>
        java.nio.file.Files.copy(partFiles(i),
          srcDir.resolve(s"events_$i.parquet"))
      }
    val srcA = java.nio.file.Files.createTempDirectory("rckpt_srcA")
    val outA = java.nio.file.Files.createTempDirectory("rckpt_outA").toString
    val ckptA = java.nio.file.Files.createTempDirectory("rckpt_ckptA").toString
    copyIn(srcA, 0 until 2)
    runTo(srcA, outA, ckptA)
    val phase1Rows = spark.read.parquet(outA).count()
    copyIn(srcA, 2 until 4)
    runTo(srcA, outA, ckptA)
    val srcB = java.nio.file.Files.createTempDirectory("rckpt_srcB")
    val outB = java.nio.file.Files.createTempDirectory("rckpt_outB").toString
    val ckptB = java.nio.file.Files.createTempDirectory("rckpt_ckptB").toString
    copyIn(srcB, 0 until 4)
    runTo(srcB, outB, ckptB)
    def multiset(path: String) = spark.read.parquet(path)
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val recovered = multiset(outA)
    val single = multiset(outB)
    assert(phase1Rows > 0, "phase 1 should already emit run changes")
    assert(recovered.values.sum > phase1Rows,
      "restart should emit additional run changes")
    assert(recovered == single,
      "restarted-run output must equal the uninterrupted run exactly once")
  }

  test("run detection fails loudly on a cross-batch time regression") {
    import spark.implicits._
    // Same contract as gapSessions: a later batch carrying earlier
    // events for a user could belong to the middle of an already-emitted
    // run — refuse instead of silently renumbering.
    val d = java.nio.file.Files.createTempDirectory("events_run_ooo")
    def writeFile(name: String, rows: Seq[(Long, Long)]): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("runooo_stage")
      rows.toDF("event_id", "h")
        .select(col("event_id"),
          (col("h") * 3600L * 1000000L).as("ts"),
          lit(7L).as("user_id"), lit("view").as("event_type"),
          lit(1.0).as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, d.resolve(name))
    }
    writeFile("events_0.parquet", Seq((1L, 10L), (2L, 11L)))
    writeFile("events_1.parquet", Seq((3L, 5L))) // back in time
    val stream = spark.readStream
      .schema(StreamingOps.eventsRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(d.toString)
      .withColumn("ts", timestamp_micros(col("ts")))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runToMemory(StreamingOps.runDetection(spark, stream).toDF, "run_ooo")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      c.getMessage != null && c.getMessage.contains("time-ordered")),
      s"expected the time-ordered precondition failure, got: $ex")
  }

  test("gap sessions fail loudly on a cross-batch time regression") {
    import spark.implicits._
    // Two files, LATER file carries EARLIER events for the same user —
    // delivered one per batch this violates gapSessions' documented
    // time-ordered-source precondition, which must abort the query, not
    // silently emit sessions that diverge from the batch twin.
    val d = java.nio.file.Files.createTempDirectory("events_ooo")
    def writeFile(name: String, rows: Seq[(Long, Long)]): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("ooo_stage")
      rows.toDF("event_id", "h")
        .select(col("event_id"),
          (col("h") * 3600L * 1000000L).as("ts"),
          lit(7L).as("user_id"), lit("view").as("event_type"),
          lit(1.0).as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, d.resolve(name))
    }
    writeFile("events_0.parquet", Seq((1L, 10L), (2L, 11L)))
    writeFile("events_1.parquet", Seq((3L, 5L))) // back in time
    val stream = spark.readStream
      .schema(StreamingOps.eventsRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(d.toString)
      .withColumn("ts", timestamp_micros(col("ts")))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runToMemory(StreamingOps.gapSessions(spark, stream).toDF, "sess_ooo")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      c.getMessage != null && c.getMessage.contains("time-ordered")),
      s"expected the time-ordered precondition failure, got: $ex")
  }

  test("buffered gap sessions: shuffled file order equals the batch sessionizer") {
    import spark.implicits._
    // The input shape gapSessions REFUSES: later files carry earlier
    // events. The watermark-buffered variant must absorb it and emit
    // exactly the batch gap/cumsum sessionization. Times in minutes;
    // gap 30 min. Expected sessions —
    //   u1: [0,10,20] [120,130] [600]   u2: [5] [50,60]
    val mm = 60000L
    // Times sit a day up from epoch 0: the watermark clamps at 0, and an
    // event AT the clamp would be filtered as late before the state op.
    val base = 24 * 60L
    def ev(id: Long, user: Long, min: Long) = (id, user, (base + min) * mm)
    val all = Seq(
      ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 20), ev(4, 1, 120),
      ev(5, 1, 130), ev(6, 1, 600),
      ev(7, 2, 5), ev(8, 2, 50), ev(9, 2, 60))
    // Shuffle across files: file 0 holds LATE-session events, earlier
    // ones arrive in later files; a sentinel file pushes the final
    // watermark past every session's certainty point (wm is global, so
    // one sentinel row is enough): maxTs + delay + gap + margin.
    val delayMin = 12 * 60L
    val sentinel = ev(99, 999999L, 600 + delayMin + 30 + 10)
    val files = Seq(
      Seq(all(3), all(8)),            // u1@120, u2@60
      Seq(all(0), all(1), all(6)),    // u1@0, u1@10, u2@5
      Seq(all(4), all(2), all(7)),    // u1@130, u1@20, u2@50
      Seq(all(5)),                    // u1@600
      Seq(sentinel))
    val d = java.nio.file.Files.createTempDirectory("events_buf")
    files.zipWithIndex.foreach { case (rows, i) =>
      val stage = java.nio.file.Files.createTempDirectory("buf_stage")
      rows.toDF("event_id", "user_id", "ms")
        .select(col("event_id"), (col("ms") * 1000L).as("ts"),
          col("user_id"), lit("view").as("event_type"),
          lit(1.0).as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, d.resolve(s"events_$i.parquet"))
    }
    val stream = spark.readStream
      .schema(StreamingOps.eventsRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(d.toString)
      .withColumn("ts", timestamp_micros(col("ts")))
    val got = runToMemory(
      StreamingOps.gapSessionsBuffered(
        spark, stream, watermarkDelay = s"$delayMin minutes").toDF,
      "sess_buffered")
      .collect()
      .filter(_.getLong(0) != 999999L) // sentinel user never certifies
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .toSet
    val expected = Set(
      (1L, 1L, 3L, (base + 0L) * mm, (base + 20L) * mm),
      (1L, 2L, 2L, (base + 120L) * mm, (base + 130L) * mm),
      (1L, 3L, 1L, (base + 600L) * mm, (base + 600L) * mm),
      (2L, 1L, 1L, (base + 5L) * mm, (base + 5L) * mm),
      (2L, 2L, 2L, (base + 50L) * mm, (base + 60L) * mm))
    assert(got == expected, s"got $got")
  }

  test("buffered gap sessions equal the certified batch sessions on the real corpus") {
    // Exact contract on the real events table: buffered output ==
    // the batch gap/cumsum sessionization restricted to sessions the
    // FINAL watermark certifies (end + gap < wm_final). A session closed
    // by a later event t' has end + gap < t' < wm_final, so fold-closed
    // sessions are certified too — the restriction captures both
    // emission paths exactly.
    import spark.implicits._
    val gapMs = 1800000L
    val buffered = runToMemory(
      StreamingOps.gapSessionsBuffered(
        spark, StreamingOps.readEvents(spark, streamDir)).toDF,
      "sess_buf_twin")
      .collect().map(_.toSeq).toSet
    val ev = graft.queries.Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
    val wmFinal = ev.agg(max("ms")).head().getLong(0) - 1800000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ms")
    val batch = ev
      .withColumn("prev", lag("ms", 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("ms") - col("prev") > gapMs, 1L)
          .otherwise(0L))
      .withColumn("idx", sum("new_s").over(
        w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "idx")
      .agg(count(lit(1)).as("n"), min("ms").as("lo"), max("ms").as("hi"))
      .filter(col("hi") + gapMs < wmFinal)
      .select("user_id", "idx", "n", "lo", "hi")
      .collect().map(_.toSeq).toSet
    assert(buffered.nonEmpty)
    assert(buffered == batch,
      s"only-buffered=${buffered -- batch} only-batch=${batch -- buffered}")
  }

  test("gap sessions match the batch sessionizer minus final open sessions") {
    import spark.implicits._
    val got = runToMemory(
      StreamingOps.gapSessions(
        spark, StreamingOps.readEvents(spark, streamDir)).toDF,
      "sess_batchtwin")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ms")
    val agg = graft.queries.Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
      .withColumn("prev", lag("ms", 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("ms") - col("prev") > 1800000L, 1L)
          .otherwise(0L))
      .withColumn("idx", sum("new_s").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "idx")
      .agg(count(lit(1)).as("n"), min("ms").as("lo"), max("ms").as("hi"))
    val maxIdx = agg.groupBy("user_id").agg(max("idx").as("mx"))
    val batch = agg.join(maxIdx, Seq("user_id"))
      .filter(col("idx") < col("mx"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got == batch)
  }

  test("stateful run detection matches batch lag-based runs per user") {
    import spark.implicits._
    val stream = StreamingOps.readEvents(spark, streamDir)
    val got = runToMemory(
      StreamingOps.runDetection(spark, stream).toDF, "runs")
    // Batch twin: per-user type-change count via lag.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val batchRuns = graft.queries.Tables.events(spark, dir)
      .withColumn("chg",
        when(col("event_type") === lag("event_type", 1).over(w), 0)
          .otherwise(1))
      .groupBy("user_id").agg(sum("chg").as("n_runs"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotRuns = got.groupBy("userId").agg(max("runIndex").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotRuns.nonEmpty)
    gotRuns.foreach { case (u, n) =>
      assert(n == batchRuns(u), s"user $u: stream=$n batch=${batchRuns(u)}")
    }
  }

  test("sliding windows match the batch hopping aggregation exactly") {
    val stream = StreamingOps.readEvents(spark, streamDir)
    // Complete mode: the final table is the full-history hopping
    // aggregation regardless of micro-batch boundaries.
    val q = StreamingOps.slidingCounts(stream).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("sliding")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt_sliding").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))
    val got = spark.table("sliding").collect().map(key).toMap
    val batch = graft.queries.Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("vc"))
      .select(col("window.start"), col("event_type"), col("n"), col("vc"))
      .collect().map(key).toMap
    assert(got == batch)
    // Sanity of the hop expansion itself: every event is counted in
    // exactly len/hop = 2 windows.
    val nEvents = graft.queries.Tables.events(spark, dir).count()
    assert(got.values.map(_._1).sum == 2 * nEvents)
  }

  test("readEvents starts against an empty drop directory and picks up late files") {
    // The drop-dir contract: a stream may start BEFORE its producer has
    // written anything. The schema probe cannot infer from zero files, so
    // readEvents falls back to the declared eventsRawSchema (nanos-long
    // ts) — and files dropped later in that layout flow through with
    // correct timestamps.
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("events_empty_drop")
    val stream = StreamingOps.readEvents(spark, d.toString)
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val q = stream.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("empty_drop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt_empty_drop").toString)
      .start()
    q.processAllAvailable()
    assert(spark.table("empty_drop").count() == 0)
    // Producer arrives: one file in the declared nanos-long layout.
    val ms = 1700000000000L
    Seq((1L, ms * 1000000L, 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(d.toString)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("empty_drop").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[java.sql.Timestamp]("ts").getTime == ms,
      s"nanos-long ts decoded to ${rows.head.getAs[java.sql.Timestamp]("ts")}")
  }

  test("update-mode sliding windows through an idempotent foreachBatch sink are batching-invariant") {
    // The PRODUCTION shape of slidingCounts: update mode (fresh rates as
    // soon as a window updates, not only when it closes) into a
    // foreachBatch upsert sink keyed by (window_start, event_type) —
    // idempotent by construction, so a redelivered micro-batch must not
    // change the final table. Complete mode (the oracle-checkable shape,
    // test above) re-emits the whole table every batch; this variant
    // ships only the updated keys.
    import org.apache.spark.sql.Row
    // Multi-file drop dir, time-ordered across files, so
    // maxFilesPerTrigger=1 yields several real micro-batches and the
    // watermark advances between them.
    val d = java.nio.file.Files.createTempDirectory("events_sliding_files")
    val ev = graft.queries.Tables.events(spark, dir)
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")
    val bucketed = ev.withColumn("bucket", ntile(4).over(w))
    (1 to 4).foreach { b =>
      val stage = java.nio.file.Files.createTempDirectory("sliding_stage")
      bucketed.filter(col("bucket") === b).drop("bucket")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = d.resolve(f"events_$b%03d.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      // Batch order = file order: the source lists by modification time,
      // so pin strictly increasing mtimes — a same-millisecond tie would
      // let a later time bucket process first and the watermark drop the
      // earlier bucket's rows (the GapSessionsPropertySpec discipline).
      dest.toFile.setLastModified(1700000000000L + b * 2000L)
    }
    val probed = spark.read.parquet(d.toString).schema
    val stream = graft.queries.Tables.normalizeEventTs(
      spark.readStream
        .schema(probed)
        .option("maxFilesPerTrigger", "1")
        .parquet(d.toString))
    val once = new java.util.concurrent.ConcurrentHashMap[
      (java.sql.Timestamp, String), (Long, Long)]()
    val twice = new java.util.concurrent.ConcurrentHashMap[
      (java.sql.Timestamp, String), (Long, Long)]()
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = StreamingOps.slidingCounts(stream).writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect()
        if (rows.nonEmpty) nBatches.incrementAndGet()
        def upsert(m: java.util.concurrent.ConcurrentHashMap[
          (java.sql.Timestamp, String), (Long, Long)]): Unit =
          rows.foreach { r: Row =>
            m.put((r.getTimestamp(0), r.getString(1)),
              (r.getLong(2), r.getLong(3)))
          }
        upsert(once)
        // Simulated redelivery: the same batch applied again — the sink
        // key makes the write idempotent.
        upsert(twice); upsert(twice)
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt_sliding_upd").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    assert(nBatches.get() >= 3,
      s"expected several micro-batches, got ${nBatches.get()}")
    import scala.jdk.CollectionConverters._
    val got = once.asScala.toMap
    // Redelivery changes nothing.
    assert(twice.asScala.toMap == got)
    // Batching-invariance: the accumulated upserts equal the one-shot
    // batch hopping aggregation, key for key.
    val batchAgg = graft.queries.Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("vc"))
      .select(col("window.start"), col("event_type"), col("n"), col("vc"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == batchAgg,
      s"only-stream=${got.keySet -- batchAgg.keySet} " +
        s"only-batch=${batchAgg.keySet -- got.keySet}")
  }

  test("left-outer stream join null-extends exactly the unmatched resolved clicks") {
    val got = graft.queries.StreamingQueries.streamJoinOuter(spark, dir)
      .collect()
    // Batch twin of the wrapper's resolved-horizon projection.
    val ev = graft.queries.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ms"), col("event_type"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_event_id"),
        col("user_id").as("vu"), col("ms").as("view_ms"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_event_id"),
        col("user_id").as("click_user_id"), col("ms").as("click_ms"))
    val mm = ev.groupBy().agg(
      max(when(col("event_type") === "click", col("ms"))).as("mc"),
      max(when(col("event_type") === "view", col("ms"))).as("mv")).head()
    val horizon = math.min(mm.getLong(0), mm.getLong(1)) - 5400000L
    val twin = c
      .join(v,
        col("click_user_id") === col("vu") &&
          col("view_ms") <= col("click_ms") &&
          col("view_ms") >= col("click_ms") - 3600000L,
        "left")
      .filter(col("click_ms") < horizon)
      .select(col("click_event_id"), col("click_user_id"),
        coalesce(col("view_event_id"), lit(-1L)).as("view_event_id"),
        col("click_ms"),
        coalesce(col("view_ms"), lit(-1L)).as("view_ms"))
      .collect()
    assert(got.map(_.toSeq).toSet == twin.map(_.toSeq).toSet)
    // The outer path is genuinely exercised: unmatched clicks exist and
    // carry the -1 sentinel.
    assert(got.exists(_.getAs[Long]("view_event_id") == -1L))
  }

  test("readDocuments starts against an empty drop directory via the declared schema") {
    val d = java.nio.file.Files.createTempDirectory("docs_empty_drop")
    val stream = StreamingOps.readDocuments(spark, d.toString)
    assert(stream.isStreaming)
    assert(stream.schema.fieldNames.toSeq ==
      Seq("doc_id", "text", "lang", "source", "n_chars"))
  }

  test("streaming corpus dedup is batching-invariant and matches the expected verdicts") {
    import spark.implicits._
    // Three drop files → three micro-batches under maxFilesPerTrigger=1;
    // arrivals split a corpus-dup fingerprint ACROSS batches (100 and
    // 104) and an intra-stream dup across batches (101 and 102), so the
    // complete-mode aggregate must merge state across micro-batches.
    val d = java.nio.file.Files.createTempDirectory("docs_drop")
    val files = Seq(
      Seq((100L, "shared corpus text"), (101L, "stream only alpha")),
      Seq((102L, "stream only alpha"), (103L, "unique bravo")),
      Seq((104L, "shared corpus text")))
    files.zipWithIndex.foreach { case (rows, i) =>
      val stage = java.nio.file.Files.createTempDirectory("docs_stage")
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = d.resolve(f"docs_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(1700000000000L + i * 2000L)
    }
    val corpus = Seq((1L, "shared corpus text"), (2L, "corpus only"))
      .toDF("doc_id", "text")
    val corpusFps = corpus
      .select(md5(col("text")).as("fingerprint"))
      .distinct()
      .withColumn("in_corpus", lit(1))
    def run(oneFilePerBatch: Boolean, name: String): Map[String, (Long, Long, String)] = {
      val probed = spark.read.parquet(d.toString).schema
      val base = spark.readStream.schema(probed)
      val src =
        (if (oneFilePerBatch) base.option("maxFilesPerTrigger", "1") else base)
          .parquet(d.toString)
      val arrivals = src
        .select(col("doc_id"), md5(col("text")).as("fingerprint"))
      val q = StreamingOps.corpusDedupStream(arrivals, corpusFps)
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString)
        .start()
      q.processAllAvailable()
      q.stop()
      spark.table(name).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getString(3)))
        .toMap
    }
    val multi = run(oneFilePerBatch = true, "corpus_dedup_multi")
    val single = run(oneFilePerBatch = false, "corpus_dedup_single")
    assert(multi == single, "micro-batch boundaries changed the verdicts")
    def fp(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(multi == Map(
      fp("shared corpus text") -> ((2L, 100L, "dup_corpus")),
      fp("stream only alpha") -> ((2L, 101L, "new")),
      fp("unique bravo") -> ((1L, 103L, "new"))))
  }

  test("streaming quality gate equals the batch battery row-for-row across micro-batches") {
    import spark.implicits._
    // Stateless per-row map in append mode: two drop files → two
    // micro-batches under maxFilesPerTrigger=1; the appended union must
    // equal the batch gopherFilters verdicts verbatim (one doc passes
    // the battery, one fails the word-count rule, one fails stopwords).
    val pass = ((1 to 60).map(i => f"word$i%02d") ++
      Seq("the", "and", "of", "to", "in")).mkString(" ")
    val shortDoc = "too short"
    val noStops = (1 to 60).map(i => f"xenon$i%02d").mkString(" ")
    val d = java.nio.file.Files.createTempDirectory("docs_quality_drop")
    val files = Seq(Seq((0L, pass), (1L, shortDoc)), Seq((2L, noStops)))
    files.zipWithIndex.foreach { case (rows, i) =>
      val stage = java.nio.file.Files.createTempDirectory("docs_qstage")
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(
        part.toPath, d.resolve(f"docs_$i%03d.parquet"))
    }
    val probed = spark.read.parquet(d.toString).schema
    val src = spark.readStream.schema(probed)
      .option("maxFilesPerTrigger", "1").parquet(d.toString)
    def battery(df: org.apache.spark.sql.DataFrame) =
      graft.textanalysis.TextAnalysis
        .gopherFilters(df, "doc_id", "text",
          extra = Seq(graft.textanalysis.TextAnalysis
            .qualityScore(col("text")).as("quality")))
        .withColumn("keep", col("pass_gopher") && col("quality") >= 0.7)
    val q = battery(src)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_quality_spec")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt_quality").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stream_quality_spec")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val want = battery(spark.read.parquet(d.toString))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got == want)
    val keeps = spark.table("stream_quality_spec")
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(keeps == Map(0L -> true, 1L -> false, 2L -> false))
  }

  test("streaming decontamination gate equals the batch flags through the real runtime") {
    // The stateless literal-artifact gate must reproduce the batch
    // operator's flag set verbatim on the real fixture (same frozen
    // centroids, same holdout assignments, same probe arithmetic).
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamDecontam(spark, d)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.PipelineQueries.semanticDecontam(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty, "fixture must flag at least one arriving doc")
    assert(got == want)
  }

  test("streaming near-dup gate equals the batch incremental operator on the real fixture") {
    // The frozen-artifact gate (band table + shingle-set arrays) must
    // reproduce Dedup.minhashIncremental's verified pair set verbatim —
    // same shingles, signatures, band hashes and exact-Jaccard verify.
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamNearDup(spark, d)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.PipelineQueries.minhashIncrementalQ(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty, "fixture must flag at least one arriving near-dup")
    assert(got == want)
  }

  test("streaming near-dup gate is invariant to micro-batch boundaries") {
    import spark.implicits._
    import graft.dedup.Dedup
    // Corpus of two docs; arrivals split across two drop files (one
    // near-dup of corpus doc 1, one unrelated, one too short to shingle).
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val corpus = Seq(
      (100L, base + " juliet kilo"),
      (101L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val cBands = Dedup.bandTable(corpus, "doc_id", "text", 8, 4)
    val cSets = Dedup.shingleSetTable(corpus, "doc_id", "text")
    val d = java.nio.file.Files.createTempDirectory("docs_neardup_drop")
    val files = Seq(
      Seq((200L, base + " juliet lima")),
      Seq((201L, "totally unrelated words here nothing shared at all"),
        (202L, "two words")))
    files.zipWithIndex.foreach { case (rows, i) =>
      val stage = java.nio.file.Files.createTempDirectory("docs_ndstage")
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(
        part.toPath, d.resolve(f"docs_$i%03d.parquet"))
    }
    val probed = spark.read.parquet(d.toString).schema
    def run(oneFilePerBatch: Boolean, name: String) = {
      val reader = spark.readStream.schema(probed)
      val src = (if (oneFilePerBatch) reader.option("maxFilesPerTrigger", "1")
                 else reader).parquet(d.toString)
      val q = StreamingOps.nearDupGateStream(src, cBands, cSets, 8, 4, 0.2)
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString)
        .start()
      q.processAllAvailable()
      q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val multi = run(oneFilePerBatch = true, "neardup_multi")
    val single = run(oneFilePerBatch = false, "neardup_single")
    assert(multi == single, "micro-batch boundaries changed the verdicts")
    val want = Dedup.minhashIncremental(
      corpus, spark.read.parquet(d.toString), "doc_id", "text", 8, 4, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(multi == want, "stream gate must equal the batch incremental")
    assert(multi.map(_._1) == Set(200L),
      "only the near-dup arrival should be flagged")
  }

  test("streaming ngram gate equals the batch incremental on the real fixture") {
    // The exact-candidate shingle gate: on a fixture where no delivery
    // exceeds the df cap, the stream face provably coincides with the
    // batch face — pin both the equality and the cap precondition.
    val d = "/root/testdata/sf0.001"
    import graft.queries.PipelineQueries.{NgramIncMod, NgramDfCap}
    val docs = graft.queries.Tables.documents(spark, d)
    val maxBatchDf = graft.dedup.Dedup
      .shingleRows(
        docs.filter(col("doc_id") % NgramIncMod === 0), "doc_id", "text")
      .groupBy("shingle").count()
      .agg(org.apache.spark.sql.functions.max("count"))
      .collect().head.getLong(0)
    assert(maxBatchDf <= NgramDfCap,
      "fixture precondition: the batch side must never exceed the cap")
    val got = graft.queries.StreamingQueries.streamNgram(spark, d)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.PipelineQueries
      .ngramJaccardIncrementalQ(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty, "fixture must flag at least one arriving near-dup")
    assert(got == want)
  }

  test("streaming sentence commit equals the batch commit readout") {
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries
      .streamSentenceCommit(spark, d).collect().map(_.toSeq).toSeq
    val want = graft.queries.PipelineQueries
      .sentenceCommit(spark, d).collect().map(_.toSeq).toSeq
    assert(got == want)
    assert(got.head(2).asInstanceOf[Long] > got.head(0).asInstanceOf[Long],
      "arrivals must commit new sentences on the fixture")
  }

  test("streaming SFT pack equals the batch pack row-for-row") {
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamSftPack(spark, d)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.EventQueries.sftPack(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("streaming dialogue pairs equal the batch window row-for-row") {
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamDialogue(spark, d)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.EventQueries.dialoguePairs(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("streaming sentence-clean gate equals the batch incremental row-for-row") {
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamSentence(spark, d)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.PipelineQueries.sentenceDedupIncQ(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == want)
    // the planted footer guarantees every arrival dropped something
    assert(got.forall(r => r(2).asInstanceOf[Long] < r(1).asInstanceOf[Long]))
  }

  test("streaming novelty scoring equals the batch novelty row-for-row") {
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamNovelty(spark, d)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.PipelineQueries.ngramNovelty(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty, "fixture must score at least one arrival")
    assert(got == want)
  }

  test("streaming ngram gate: hot shingles are capped from candidates but verified") {
    import spark.implicits._
    import graft.dedup.Dedup
    // A "hot" shingle shared by both corpus docs AND the arrival (cap 1
    // excludes it from candidate generation) plus a rare shared shingle
    // (generates the candidate). The verified Jaccard must count BOTH
    // shared shingles — the cap affects recall, never the score.
    val corpus = Seq(
      (100L, "en", "hot shingle words alpha bravo charlie delta"),
      (101L, "en", "hot shingle words echo foxtrot golf hotel"))
      .toDF("doc_id", "lang", "text")
    val arrival = Seq(
      (200L, "en", "hot shingle words alpha bravo charlie kilo"))
      .toDF("doc_id", "lang", "text")
    val postings = Dedup.ngramPostingTable(
      corpus, "doc_id", "text", col("lang"), 3, maxShingleDf = 1)
    // 'hot_shingle_words' appears in both corpus docs -> df 2 > cap 1.
    val sets = Dedup.shingleSetTable(corpus, "doc_id", "text")
    val out = StreamingOps
      .ngramGateStream(arrival, postings, sets, col("lang"), 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // Candidate only vs doc 100 (rare shared shingles); its jaccard must
    // include the hot shingle in the intersection.
    assert(out.map(t => (t._1, t._2)).toSet == Set((200L, 100L)))
    val batch = Dedup.ngramJaccardIncremental(
      corpus, arrival, "doc_id", "text", col("lang"), 0.1,
      n = 3, maxShingleDf = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSet == batch.toSet,
      "single-arrival stream must equal the batch incremental verbatim")
  }

  test("streaming simhash gate equals the batch incremental on the real fixture") {
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamSimhash(spark, d)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.PipelineQueries.simhashIncrementalQ(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty, "fixture must flag at least one arriving near-dup")
    assert(got == want)
  }

  test("streaming simhash gate is invariant to micro-batch boundaries") {
    import spark.implicits._
    import graft.dedup.Dedup
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val corpus = Seq(
      (100L, base + " juliet kilo"),
      (101L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val cBands = Dedup.simhashBandTable(corpus, "doc_id", "text", 4)
    val d = java.nio.file.Files.createTempDirectory("docs_simhash_drop")
    val files = Seq(
      Seq((200L, base + " juliet lima")),
      Seq((201L, "totally unrelated words here nothing shared at all")))
    files.zipWithIndex.foreach { case (rows, i) =>
      val stage = java.nio.file.Files.createTempDirectory("docs_shstage")
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(
        part.toPath, d.resolve(f"docs_$i%03d.parquet"))
    }
    val probed = spark.read.parquet(d.toString).schema
    def run(oneFilePerBatch: Boolean, name: String) = {
      val reader = spark.readStream.schema(probed)
      val src = (if (oneFilePerBatch) reader.option("maxFilesPerTrigger", "1")
                 else reader).parquet(d.toString)
      val q = StreamingOps.simhashGateStream(src, cBands, 3, 4)
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString)
        .start()
      q.processAllAvailable()
      q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val multi = run(oneFilePerBatch = true, "simhash_multi")
    val single = run(oneFilePerBatch = false, "simhash_single")
    assert(multi == single, "micro-batch boundaries changed the verdicts")
    val want = Dedup.simhashIncremental(
      corpus, spark.read.parquet(d.toString), "doc_id", "text", 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(multi == want, "stream gate must equal the batch incremental")
  }

  test("hamming gate keeps a re-delivered pair suppressed when its content changed") {
    // The gate's state is pair-keyed and first-delivery-only: id 1
    // re-arrives in a later micro-batch with a changed hash, still
    // inside corpus id 10's hamming ball, and must not re-emit. A NEW
    // pair in that same batch does emit, so the gate is live.
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val x = 0x1234L
    val corpus = graft.dedup.Dedup.simhashBanded(
      Seq((10L, x)).toDF("id", "simhash"), 16, 4)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = StreamingOps
      .hammingGateStream(in.toDF().toDF("id", "simhash"), corpus, 16, 3, 4)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("hamming_redelivery")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt_hamming").toString)
      .start()
    try {
      in.addData((1L, x))
      q.processAllAvailable()
      in.addData((1L, x ^ 1L), (2L, x ^ 3L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("hamming_redelivery").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 10L, 0L), (2L, 10L, 2L)))
  }

  test("streaming alignment gate equals the batch scores through the real runtime") {
    // The stateless blob-map + frozen-projection gate must reproduce the
    // batch CLIP-filter verdicts verbatim (shared feature, projection
    // and scoring code paths).
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamAlign(spark, d)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.PipelineQueries.imgtextAlign(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("readEmbeddings starts against an empty drop directory via the declared schema") {
    val d = java.nio.file.Files.createTempDirectory("emb_empty_drop")
    val stream = StreamingOps.readEmbeddings(spark, d.toString)
    assert(stream.isStreaming)
    assert(stream.schema.fieldNames.toSeq ==
      Seq("vec_id", "embedding", "label"))
  }

  test("streaming cell occupancy is batching-invariant and assigns like the batch argmin") {
    import spark.implicits._
    // Two well-separated 4-dim cells; arrivals split across three drop
    // files so complete-mode counts must merge across micro-batches.
    def v(x: Double): Array[Float] =
      Array.fill(4)(0f).updated(0, x.toFloat)
    val cents: Seq[(Long, Seq[Long])] = Seq(
      0L -> Seq(1000000L, 0L, 0L, 0L),
      1L -> Seq(-1000000L, 0L, 0L, 0L))
    val d = java.nio.file.Files.createTempDirectory("emb_drop")
    val files = Seq(
      Seq((10L, v(0.9)), (11L, v(-0.8))),
      Seq((12L, v(1.1))),
      Seq((13L, v(-1.2)), (14L, v(0.99))))
    files.zipWithIndex.foreach { case (rows, i) =>
      val stage = java.nio.file.Files.createTempDirectory("emb_stage")
      rows.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = d.resolve(f"emb_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(1700000000000L + i * 2000L)
    }
    def run(oneFilePerBatch: Boolean, name: String): Map[Long, Long] = {
      val probed = spark.read.parquet(d.toString).schema
      val base = spark.readStream.schema(probed)
      val src =
        (if (oneFilePerBatch) base.option("maxFilesPerTrigger", "1") else base)
          .parquet(d.toString)
      val q = StreamingOps.cellOccupancyStream(src, cents)
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString)
        .start()
      q.processAllAvailable()
      q.stop()
      spark.table(name).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val multi = run(oneFilePerBatch = true, "cell_occ_multi")
    val single = run(oneFilePerBatch = false, "cell_occ_single")
    assert(multi == single, "micro-batch boundaries changed the counts")
    assert(multi == Map(0L -> 3L, 1L -> 2L))
  }

  test("streaming audio gate equals the batch incremental on the real fixture") {
    // Arriving WAVs decode + window-fingerprint row-local; the banded
    // stream-static join must reproduce the audio family's batch
    // incremental pair set verbatim — the gate engine is modality-blind.
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamAudio(spark, d)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.PipelineQueries.audioPhashInc(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty, "fixture must flag at least one arriving re-encode")
    assert(got == want)
  }

  test("streaming ANN serving equals the batch IVF search row-for-row") {
    // Arriving query vectors search the frozen checkpointed index
    // artifacts per micro-batch; ranking is request-local, so the
    // accumulated result set must be the batch fixedTopK output exactly.
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamAnn(spark, d)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.PipelineQueries.ivfTopK(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty, "fixture must rank at least one arriving query")
    assert(got == want)
  }

  test("streaming index commit equals the batch PQ commit row-for-row") {
    // Arriving vectors encode against the frozen codebooks per
    // micro-batch and fold into the stored postings; frozen-codebook
    // encoding is per-vector deterministic, so the committed table must
    // equal the one-shot batch commit exactly, whatever the batching.
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamIndexCommit(spark, d)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.PipelineQueries.indexCommit(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("streaming semantic commit equals the batch cell-table commit row-for-row") {
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamSemanticCommit(spark, d)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.PipelineQueries.semanticCommit(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("streaming fertility drift equals the batch monitor row-for-row") {
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamFertilityDrift(spark, d)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.TextQueries.fertilityDrift(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("streaming video gate flags each planted re-encode exactly once, frame-aligned") {
    // The clip-level verdict at ingest: every arriving brightness twin
    // must produce ONE verdict, against its own source video, fully
    // frame-aligned — and nothing else survives the matched-fraction
    // floor (the batch rollup's surgical-verdict property, on the
    // incremental split).
    val d = "/root/testdata/sf0.001"
    import graft.queries.PipelineQueries.PhashTwinOffset
    val out = graft.queries.StreamingQueries.streamVideo(spark, d).collect()
    assert(out.nonEmpty, "fixture must flag arriving re-encodes")
    val expected = spark.read.parquet(s"$d/documents.parquet")
      .filter(col("doc_id") % 3 === 0)
      .select("doc_id").collect().map(_.getLong(0) + PhashTwinOffset).toSet
    val byA = out.groupBy(_.getLong(0))
    assert(byA.keySet == expected, "every planted re-encode flagged")
    assert(byA.values.forall(_.length == 1), "one verdict per clip pair")
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) - PhashTwinOffset,
        "verdict must point at the clip's own source video")
      assert(r.getDouble(7) == 1.0, "re-encode must match fully")
      assert(r.getLong(5) == r.getLong(4), "matches must be frame-aligned")
    }
  }

  test("streaming media phash gate equals the batch incremental on the real fixture") {
    // Arriving blobs decode + dHash row-local; the banded stream-static
    // join must reproduce Dedup.hammingPairsIncremental's pair set
    // verbatim (same hashes, same pigeonhole bands, same verify).
    val d = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQueries.streamPhash(spark, d)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.PipelineQueries.imagePhashInc(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty, "fixture must flag at least one arriving re-upload")
    assert(got == want)
  }

  test("streaming media phash gate is invariant to micro-batch boundaries") {
    import spark.implicits._
    import graft.dedup.Dedup
    import graft.multimodal.Multimodal
    // Corpus of three synthetic PNGs; arrivals split across two drop
    // files (two brightness-shifted re-uploads, one unrelated doc).
    val corpusDocs = Seq(
      (100L, "alpha bravo charlie delta echo foxtrot"),
      (101L, "golf hotel india juliet kilo lima"),
      (102L, "mike november oscar papa quebec romeo"))
      .toDF("doc_id", "text")
    val corpusHashes = Multimodal
      .imageDHash(Multimodal.syntheticPngCorpus(corpusDocs, "doc_id", "text"))
      .toDF().filter(col("ok"))
      .select(col("mediaId").as("id"), col("phash").as("simhash"))
    val cBands = Dedup.simhashBanded(corpusHashes, 56, 7).localCheckpoint(true)
    val d = java.nio.file.Files.createTempDirectory("docs_phash_drop")
    // Re-uploads carry the SAME doc_id (the fabrication derives the same
    // pixel chain) under a +1000 id offset applied after hashing below.
    val files = Seq(
      Seq((100L, "alpha bravo charlie delta echo foxtrot")),
      Seq((102L, "mike november oscar papa quebec romeo"),
        (900L, "totally unrelated content nothing shared")))
    files.zipWithIndex.foreach { case (rows, i) =>
      val stage = java.nio.file.Files.createTempDirectory("docs_phstage")
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(
        part.toPath, d.resolve(f"docs_$i%03d.parquet"))
    }
    val probed = spark.read.parquet(d.toString).schema
    def hashesOf(docs: org.apache.spark.sql.DataFrame) = Multimodal
      .imageDHash(
        Multimodal.syntheticPngCorpus(docs, "doc_id", "text",
          brightnessDelta = 4)
          .map(m => m.copy(mediaId = m.mediaId + 1000L)))
      .toDF().filter(col("ok"))
      .select(col("mediaId").as("id"), col("phash").as("simhash"))
    def run(oneFilePerBatch: Boolean, name: String) = {
      val reader = spark.readStream.schema(probed)
      val src = (if (oneFilePerBatch) reader.option("maxFilesPerTrigger", "1")
                 else reader).parquet(d.toString)
      val q = StreamingOps.hammingGateStream(hashesOf(src), cBands, 56, 6, 7)
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString)
        .start()
      q.processAllAvailable()
      q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val multi = run(oneFilePerBatch = true, "phash_multi")
    val single = run(oneFilePerBatch = false, "phash_single")
    assert(multi == single, "micro-batch boundaries changed the verdicts")
    val want = Dedup.hammingPairsIncremental(
      corpusHashes, hashesOf(spark.read.parquet(d.toString)), 56, 6, 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(multi == want, "stream gate must equal the batch incremental")
    // Both re-uploads flagged against their corpus originals; the
    // unrelated arrival must not pair with anything at hamming <= 6
    // unless the batch face agrees (it computes the identical set).
    assert(multi.map(_._1).intersect(Set(1100L, 1102L)) == Set(1100L, 1102L))
  }

  test("ingest ledger per-gate flags equal the batch incremental operators") {
    import graft.dedup.Dedup
    import graft.queries.PipelineQueries._
    val d = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables.documents(spark, d)
    val corpus = docs.filter(col("doc_id") % IncrementalMod =!= 0)
    val batch = docs.filter(col("doc_id") % IncrementalMod === 0)
      .localCheckpoint(true)
    // The same frozen artifacts the streaming query builds.
    val fps = corpus
      .select(graft.text.TextFunctions.fingerprintCol(col("text"))
        .as("fingerprint"))
      .filter(col("fingerprint").isNotNull).distinct().localCheckpoint(true)
    val mBands = Dedup
      .bandTable(corpus, "doc_id", "text", MinhashHashes, MinhashBands)
      .localCheckpoint(true)
    val (p0, sets0) =
      Dedup.ngramArtifacts(corpus, "doc_id", "text", lit(0L), 3, NgramDfCap)
    val postings = p0.localCheckpoint(true)
    val sets = sets0.localCheckpoint(true)
    val sBands = Dedup
      .simhashBandTable(corpus, "doc_id", "text", SimhashBlocks)
      .localCheckpoint(true)
    val benchDocs = corpus.filter(col("doc_id") % DecontamMod === 0)
    val bench = Dedup.shingleRows(benchDocs, "doc_id", "text")
      .select("shingle").distinct().localCheckpoint(true)
    val ledger = StreamingOps.ingestLedger(
      batch.select("doc_id", "text"), fps, mBands, sets, sBands, postings,
      bench, MinhashHashes, MinhashBands, MinhashThreshold,
      SimhashMaxHamming, SimhashBlocks, lit(0L), JaccardThreshold)
      .collect()
    def flagged(i: Int) =
      ledger.filter(_.getBoolean(i)).map(_.getLong(0)).toSet
    // Each flag column must equal the BATCH incremental operator's
    // flagged-id set on the identical (corpus, delivery) split — the
    // independent implementations, not the gate ops the ledger composes.
    val exactIds = Dedup
      .incrementalExact(corpus, batch, "doc_id", "text")
      .filter(col("verdict") === "dup_corpus")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(flagged(2) == exactIds, "dup_exact vs incrementalExact")
    val contamIds = Dedup
      .contamination(batch, benchDocs, "doc_id", "text")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(flagged(3) == contamIds, "contaminated vs contamination")
    val ndIds = Dedup
      .minhashIncremental(corpus, batch, "doc_id", "text",
        MinhashHashes, MinhashBands, MinhashThreshold)
      .select("id_a").collect().map(_.getLong(0)).toSet
    assert(flagged(4) == ndIds, "near_dup vs minhashIncremental")
    val sdIds = Dedup
      .simhashIncremental(corpus, batch, "doc_id", "text",
        SimhashMaxHamming, SimhashBlocks)
      .select("id_a").collect().map(_.getLong(0)).toSet
    assert(flagged(5) == sdIds, "simhash_dup vs simhashIncremental")
    // Two-sided-cap precondition (the ngram gate caps the corpus side
    // only; equality needs the batch side under the cap too).
    val maxBatchDf = Dedup.shingleRows(batch, "doc_id", "text")
      .groupBy("shingle").count()
      .agg(org.apache.spark.sql.functions.max("count"))
      .collect().head.getLong(0)
    assert(maxBatchDf <= NgramDfCap, "fixture precondition: batch under cap")
    val ngIds = Dedup
      .ngramJaccardIncremental(corpus, batch, "doc_id", "text", lit(0L),
        JaccardThreshold, n = 3, maxShingleDf = NgramDfCap)
      .select("id_a").collect().map(_.getLong(0)).toSet
    assert(flagged(6) == ngIds, "ngram_dup vs ngramJaccardIncremental")
    // The ledger is live on the fixture: the contamination, MinHash,
    // SimHash and n-gram gates each flag at least one arrival. (No
    // arrival is `admitted` here — every fixture doc is under Gopher's
    // 50-word floor, so pass_quality is uniformly false; the quality
    // column's arithmetic is pinned by the shared q_quality oracle.)
    assert(flagged(3).nonEmpty && flagged(4).nonEmpty &&
      flagged(5).nonEmpty && flagged(6).nonEmpty,
      "expected every artifact gate to flag at least one arrival")
    assert(ledger.length == batch.count())
  }

  test("stateTtl retirement mode leaves the dialogue/pack output unchanged within the TTL") {
    // The opt-in ProcessingTimeTimeout branch (round-12 ADVICE): with a
    // TTL far above the run's wall-clock no conversation retires, so
    // the output must equal the default NoTimeout path row-for-row —
    // exercising the timeout registration and the hasTimedOut removal
    // plumbing without depending on processing-time wall-clock.
    // Processing-time timers make the engine schedule no-data batches
    // forever (lastExecutionRequiresAnotherBatch stays true), so both
    // processAllAvailable and AvailableNow spin — the TTL'd runs here
    // use StreamConfig(noDataMicroBatches = false): timeout evaluation
    // then happens on data batches only, which is all the TTL contract
    // promises anyway (retirement is best-effort housekeeping, not a
    // semantic event). The plain runs keep the default-true setting, so
    // BOTH knob positions are exercised — and withStreamConfig must
    // restore the session flag either way.
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val ndBefore = spark.conf.get(ndKey)
    def drainNow(df: org.apache.spark.sql.DataFrame, name: String) = {
      val q = df.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name)
    }
    val E = graft.queries.EventQueries
    def cfgOf(ttl: Option[String]) = StreamingOps.StreamConfig(
      stateTtl = ttl, noDataMicroBatches = ttl.isEmpty)
    def rows(ttl: Option[String], name: String) =
      StreamingOps.withStreamConfig(spark, cfgOf(ttl)) { cfg =>
        drainNow(
          StreamingOps.dialoguePairsStream(
            spark, StreamingOps.readEvents(spark, streamDir),
            E.DialogueContextTurns, stateTtl = cfg.stateTtl).toDF,
          name).collect().map(_.toString).sorted.toSeq
      }
    assert(rows(Some("2 hours"), "dlg_ttl") == rows(None, "dlg_plain"))
    def packRows(ttl: Option[String], name: String) =
      StreamingOps.withStreamConfig(spark, cfgOf(ttl)) { cfg =>
        drainNow(
          StreamingOps.sftPackStream(
            spark, StreamingOps.readEvents(spark, streamDir),
            E.DialogueContextTurns, E.SftPackBudget,
            stateTtl = cfg.stateTtl).toDF,
          name).collect().map(_.toString).sorted.toSeq
      }
    assert(packRows(Some("2 hours"), "pack_ttl") ==
      packRows(None, "pack_plain"))
    assert(spark.conf.get(ndKey) == ndBefore,
      "withStreamConfig must restore the session flag")
  }
}
