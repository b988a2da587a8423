package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TABLE-BACKED streaming corpus commit/retract — the production shape
  * of [[StreamingCommit]] (which stays as the in-memory verification
  * twin): the committed artifact set lives in STORED parquet tables and
  * every fold appends BATCH-SIZED deltas, so per-delivery cost is flat
  * in corpus size — never the full-state `unionByName().distinct()
  * .localCheckpoint()` re-materialization the in-memory harness pays
  * per micro-batch.
  *
  * Storage model (all delta layers append-only between compactions):
  *
  *   - CONTENT-keyed sets (fingerprint set, span-window fp set, the
  *     n-gram df sidecar) are SIGNED MULTISETS: a commit appends +1
  *     rows, a retraction appends −1 rows, and membership at read time
  *     is `sum(w) > 0` (df: `sum(df) > 0`). Multiset counts make
  *     retraction exact WITHOUT the batch face's corpus-wide retention
  *     scan: a fingerprint leaves the set exactly when its last
  *     remaining document's −1 lands, because every add was per-doc.
  *   - ID-keyed tables (minhash bands, simhash bands, shingle sets, raw
  *     postings, accepted docs) append rows on commit; retraction
  *     appends the doc id to ONE tombstone table and every read face
  *     anti-joins it (delete-sized). Retracted ids may not be
  *     recommitted — the id-disjointness law extends to tombstones.
  *   - The df-capped POSTINGS are stored RAW (uncapped) and the cap is
  *     applied AT READ against the summed df sidecar. This is the lazy
  *     compaction VERDICT r11 asked for, and it is exact in both
  *     directions: a shingle crossing the cap on commit simply stops
  *     qualifying at read (the fold face's re-compaction), and one
  *     falling back under it on retraction re-qualifies with no repair
  *     pass (the batch face's crosser repair exists only because it
  *     physically dropped rows).
  *   - The raw-text ingest LEDGER is append-only and never shrinks —
  *     replay safety survives takedown (re-delivered taken-down content
  *     stays rejected, the right-to-be-forgotten reading).
  *   - The deploy-time span set also persists UNCHANGED as its own
  *     `span0` table that compaction never merges deltas into — the
  *     span-clean gate's frozen baseline (batching invariance) survives
  *     both compaction and crash recovery (round-12 ADVICE: folding the
  *     span deltas into the gate's baseline would deterministically
  *     shift the span-clean baseline from deploy-time to
  *     compaction-time).
  *
  * DURABILITY — every mutation is journaled and atomic:
  *
  *   - Each fold/retract writes its (up to 9) per-table deltas to
  *     private `b_<uuid>` directories and then commits them with ONE
  *     atomic rename of a marker file (`_batches/g<gen>/<uuid>.commit`,
  *     content = the op kind + delivery id, then the table names
  *     written). Reads union ONLY marked batches, so a crash mid-fold
  *     leaves invisible garbage and re-delivery folds cleanly — replay
  *     protection and crash-atomicity from the same mechanism
  *     (round-12 ADVICE: the old per-table appends could commit a
  *     retraction's tombstone without its decrements, leaving state
  *     that replay never heals). Delivery-id replay protection is
  *     DURABLE (the marker records the id; compaction baselines the
  *     sets into the generation marker) and the id is recorded only on
  *     SUCCESS — a delivery that fails mid-fold retries under the same
  *     id instead of being silently swallowed.
  *   - [[compact]] folds the marked deltas and tombstones into a fresh
  *     GENERATION of corpus layers (`<table>/corpus-g<N+1>`) and
  *     commits the whole generation with ONE atomic rename of a
  *     generation marker (`_gens/g-<N+1>.commit`). Reads are
  *     generation-scoped, so a crash before the marker leaves the old
  *     generation fully intact (corpus AND deltas — the new dirs are
  *     unreferenced garbage), and a crash after it leaves a complete
  *     new generation (the old dirs are unreferenced garbage). The
  *     non-atomic overwrite-then-delete window VERDICT r12 named is
  *     gone. Compaction GCs with ONE-generation retention
  *     ([[graft.StoreJournal.gcAged]]): lazy frames handed out before
  *     the LAST compaction keep resolving against the retained
  *     predecessor, anything older is deleted — a long-running
  *     auto-compacting store's footprint is bounded at one superseded
  *     corpus copy, and [[vacuum]] remains the aggressive manual sweep.
  *     Tombstones persist across compactions as their own compacted
  *     baseline, so the no-id-reuse law outlives the physical drop of
  *     the tombstoned rows. Markers rename-commit via the filesystem's
  *     atomic same-directory rename (local POSIX and HDFS; an object
  *     store without atomic rename needs a manifest service instead —
  *     documented limit).
  *   - All path probing and listing goes through the session's Hadoop
  *     `FileSystem` (never `java.nio`), so a non-local base URI
  *     resolves correctly instead of silently reading empty frames.
  *
  * AUTOMATIC COMPACTION — `autoCompact = true` makes the store watch
  * the two costs that compound across deliveries and compact itself on
  * the maintenance thresholds: the delta:corpus SIZE ratio
  * (`compactDeltaRatio`, bytes — the read-amplification bound: every
  * gate read unions the marked deltas) and the delta FILE count
  * (`compactMaxDeltaFiles` — each fold adds one file per table, so file
  * count is the per-delivery listing/open cost). Both are driver-side
  * filesystem metadata (no jobs). The fold-count stress stage
  * (ScaleStress r13) measures per-delivery cost vs delivery index with
  * and without the trigger; TableCommitSpec pins trigger-fired ==
  * manual == no-op on the committed faces.
  *
  * Per-delivery gate reads are kept SUB-corpus two ways: a driver-held
  * Bloom filter over committed fingerprints ∪ ledger (no false
  * negatives — Bloom-negative arrivals are accepted without touching
  * the store; positives are exactly verified) and hive-partitioned
  * corpus layers (`part = pmod(hash(key), parts)`) so the verify read
  * prunes to the candidate keys' partitions (`PartitionFilters` in
  * explain; delta batches carry `part` as a data column — they are
  * batch-sized, so a data filter is already cheap). Span-cleaning gates
  * against the FROZEN `span0` set through a broadcast Bloom evaluated
  * per batch row in `mapPartitions` — only Bloom-hit window fps reach
  * the pruned exact verify.
  *
  * Batch-sized driver collects (distinct batch fingerprints/ids, ≤
  * `parts` partition values) are the micro-batch-bounded kind the repo
  * allows; at 100 TB the same Bloom checks run distributed against the
  * broadcast filter exactly like the span path.
  *
  * Fold laws (TableCommitSpec pins them against [[Dedup.commitArtifacts]],
  * [[Dedup.retractArtifacts]] and the in-memory [[StreamingCommit]]):
  * stream == one-shot batch, batching invariance, replay safety by
  * batch id and by content, and retract ∘ commit == identity on the
  * seven artifact tables. */
class TableCommit(
    spark: SparkSession,
    base: String,
    numHashes: Int,
    bands: Int,
    w: Int,
    simhashBlocks: Int = 4,
    ngramBlockCol: Column = lit(0L),
    ngramN: Int = 3,
    maxShingleDf: Int = Dedup.DefaultShingleDfCap,
    parts: Int = 16,
    /** When set, the IMMUTABLE corpus layers are read from this shared
      * root (written once by [[TableCommit.sharedDeploy]]'s memo) while
      * deltas/tombstones/ledger stay per-instance — independent stores
      * over one deploy. */
    corpusRoot: Option[String] = None,
    /** Self-compact on the thresholds below after a fold/retract. */
    autoCompact: Boolean = false,
    /** Compact when delta bytes exceed this fraction of corpus bytes. */
    compactDeltaRatio: Double = 0.5,
    /** Compact when the marked delta layers hold more files than this. */
    compactMaxDeltaFiles: Long = 512L,
    /** Post-compaction GC retention window — see
      * [[graft.StoreJournal.gcAged]]. */
    gcRetainMs: Long = 0L,
    /** Read-only open: never touches the writer lease; state-changing
      * faces fail loudly. See [[graft.StoreJournal]]. */
    readOnly: Boolean = false,
    /** Polite-takeover window — see [[graft.StoreJournal]]. */
    takeoverAfterMs: Long = 0L) {

  import spark.implicits._

  private val fpc = graft.text.TextFunctions.fingerprintCol _
  private def partOf(c: Column): Column = pmod(hash(c), lit(parts))

  private val cRoot = corpusRoot.getOrElse(base)
  private[dedup] def storeBase: String = base
  private[dedup] def sharedRoot: Option[String] = corpusRoot

  // ---- journal (two-phase commit discipline: graft.StoreJournal) ----
  private val journal =
    new graft.StoreJournal(spark, base, readOnly, takeoverAfterMs)
  // A sharing store's shared-layer reads resolve through the OWNER's
  // manifest in caslog mode (no-op under the rename protocol).
  corpusRoot.foreach(journal.registerForeignRoot)

  /** The shared corpus layer is IMMUTABLE (a sharing store never
    * rewrites it), so its generation is pinned at deploy time; a
    * sharing store's compactions fold its deltas into an OWN baseline
    * under ITS base at its own generation instead. */
  private def corpusGen: Int = if (corpusRoot.isDefined) 0 else journal.gen

  private def corpusPath(t: String) = s"$cRoot/$t/corpus-g$corpusGen"
  /** The sharing store's own compacted baseline (shared stores only —
    * for a plain store this path IS the corpus path). */
  private def ownPath(t: String) = s"$base/$t/corpus-g${journal.gen}"
  private def span0Path = s"$cRoot/span0"

  // ---- maintenance counters (driver-side FS metadata only; the delta
  // charge counters live on the journal — shared store plumbing) -------
  private var corpusBytes: Long = 0L
  private def tables = Seq("docs", "fp", "span", "bands", "simhash",
    "ngramdf", "postings", "sets", "ledger", "tomb")
  private def refreshCorpusBytes(): Unit = {
    corpusBytes = tables.map(t => journal.du(corpusPath(t))._1).sum
    if (corpusRoot.isDefined)
      corpusBytes += tables.map(t => journal.du(ownPath(t))._1).sum
  }

  // ---- schemas (for reading a layer that has no rows yet) ------------
  private val docSchema = new StructType()
    .add("id", LongType).add("text", StringType).add("part", IntegerType)
  private val fpSchema = new StructType()
    .add("fingerprint", StringType).add("w", LongType).add("part", IntegerType)
  private val ledgerSchema = new StructType()
    .add("fingerprint", StringType).add("part", IntegerType)
  private val spanSchema = new StructType()
    .add("fp", LongType).add("w", LongType).add("part", IntegerType)
  private val span0Schema = new StructType()
    .add("fp", LongType).add("part", IntegerType)
  private val bandSchema = new StructType()
    .add("id", LongType).add("band", IntegerType).add("bh", StringType)
  private val simSchema = new StructType()
    .add("id", LongType).add("simhash", LongType)
    .add("band", IntegerType).add("bv", LongType)
  private val dfSchema = new StructType()
    .add("blk", LongType).add("shingle", LongType).add("df", LongType)
  private val postSchema = new StructType()
    .add("blk", LongType).add("shingle", LongType).add("id", LongType)
  private val setSchema = new StructType()
    .add("id", LongType).add("shingles", ArrayType(LongType))
  private val tombSchema = new StructType().add("id", LongType)

  private def readOr(path: String, schema: StructType): DataFrame =
    journal.readOr(path, schema)
  private def readDelta(t: String, schema: StructType): DataFrame =
    journal.readDelta(t, schema)

  /** All layers of a table: baseline corpus (+ the sharing store's own
    * compacted baseline) + marked deltas. */
  private def readAll(t: String, schema: StructType): DataFrame = {
    val baseline =
      if (corpusRoot.isDefined)
        readOr(corpusPath(t), schema)
          .unionByName(readOr(ownPath(t), schema))
      else readOr(corpusPath(t), schema)
    baseline.unionByName(readDelta(t, schema))
  }

  /** Corpus/baseline-layer write: one shuffle onto the part key so
    * each partition dir gets exactly one file. Writes under the
    * journal's writer-scoped STAGING name; the caller publishes all of
    * a generation's dirs with ONE lease-checked
    * [[graft.StoreJournal.publishStaged]] right before the marker, so
    * a stale writer's in-flight generation never shadows the current
    * lease holder's. */
  private def writeCorpus(
      df: DataFrame, t: String, partitioned: Boolean, g: Int,
      root: String = cRoot): Unit = {
    val dst = s"$root/$t/corpus-g$g"
    val shaped =
      if (partitioned) df.repartition(parts, col("part")) else df
    val wtr = shaped.write.mode("overwrite")
    (if (partitioned) wtr.partitionBy("part") else wtr)
      .parquet(journal.staged(dst))
  }

  /** Per-fold delta write: ONE plain parquet file (`part` stays a data
    * column — delta scans are batch-sized, so data filters suffice and
    * the file count stays one per table per fold). Invisible to reads
    * until the fold's marker commits. */
  private def writeBatch(df: DataFrame, t: String, uuid: String): Unit =
    journal.writeBatch(df, t, uuid)

  // ---- per-doc artifact builders (shared by deploy and the folds) ----
  private def fpRows(docs: DataFrame, sign: Long): DataFrame = docs
    .select(fpc(col("text")).as("fingerprint"))
    .filter(col("fingerprint").isNotNull)
    .select(col("fingerprint"), lit(sign).as("w"),
      partOf(col("fingerprint")).as("part"))

  /** Per-doc DISTINCT window fps — one ±1 per (doc, fp), the multiset
    * grain at which retraction is exact. */
  private def spanRows(docs: DataFrame, sign: Long): DataFrame = docs
    .select(col("id"), Dedup.words(col("text")).as("wd"))
    .select(col("id"), explode(Dedup.posShingles(col("wd"), w)).as("ps"))
    .select(col("id"), Dedup.hash60(col("ps.s")).as("fp"))
    .distinct()
    .select(col("fp"), lit(sign).as("w"), partOf(col("fp")).as("part"))

  private def ngramRows(
      docs: DataFrame, spread: Boolean = true): DataFrame =
    Dedup.ngramShingleRows(docs, "id", "text", ngramBlockCol, ngramN,
      spread = spread)

  private def dfRows(rows: DataFrame, sign: Long): DataFrame = rows
    .groupBy("blk", "shingle")
    .agg((lit(sign) * count(lit(1))).as("df"))

  // ---- driver-held state ---------------------------------------------
  private var fpBloom: org.apache.spark.util.sketch.BloomFilter = _
  private var idBloom: org.apache.spark.util.sketch.BloomFilter = _
  private var spanBloomBc: org.apache.spark.broadcast.Broadcast[
    org.apache.spark.util.sketch.BloomFilter] = _

  /** Crash-injection hook for the recovery specs — see
    * [[graft.StoreJournal.crashPoint]]. */
  private[dedup] def crashAt: Option[String] = journal.crashAt
  private[dedup] def crashAt_=(v: Option[String]): Unit =
    journal.crashAt = v
  private def crashPoint(name: String): Unit = journal.crashPoint(name)

  private[dedup] def initBlooms(
      fp: org.apache.spark.util.sketch.BloomFilter,
      id: org.apache.spark.util.sketch.BloomFilter,
      span: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]): TableCommit = {
    fpBloom = fp; idBloom = id; spanBloomBc = span
    refreshCorpusBytes()
    this
  }
  private[dedup] def blooms = (fpBloom, idBloom, spanBloomBc)

  /** Rebuild the driver-held journal and gate Blooms from the STORED
    * tables — the crash-recovery path ([[TableCommit.reopen]]). The fp
    * Bloom seeds from every add row plus the ledger (a retracted fp's
    * stale bit is a false positive only — the exact verify still
    * decides), the id Bloom from all doc ids plus tombstones (no id
    * reuse), the span Bloom from the FROZEN `span0` table — never the
    * compacted span layer, so the span-clean baseline stays the
    * deploy-time one across any compact/crash history. */
  private[dedup] def rebuild(): TableCommit = {
    journal.reload()
    validateMeta()
    // A SHARED store's deploy marker lives at the layer root (its own
    // base holds only deltas/_batches and may legitimately have no
    // generation marker until its first compaction) — gate on the root
    // that actually ran the deploy.
    val sharedDeployed = corpusRoot.exists(r =>
      journal.exists(s"$r/_gens/g-00000.commit"))
    require(journal.deployed || sharedDeployed,
      s"TableCommit.reopen: store at $cRoot has meta but no committed " +
        "generation marker (deploy crashed before its atomic point) — " +
        "refusing to serve a partially-deployed store")
    refreshCorpusBytes()
    journal.rechargeDeltas()
    val fpRowsAll = readAll("fp", fpSchema).select("fingerprint")
      .unionByName(readAll("ledger", ledgerSchema).select("fingerprint"))
    fpBloom = fpRowsAll.stat.bloomFilter(
      "fingerprint", math.max(1L, fpRowsAll.count()), 0.01)
    val idRows = readAll("docs", docSchema).select("id")
      .unionByName(tomb.select("id"))
    idBloom = idRows.stat.bloomFilter("id", math.max(1L, idRows.count()), 0.01)
    val spanT = readOr(span0Path, span0Schema)
    spanBloomBc = spark.sparkContext.broadcast(
      spanT.stat.bloomFilter("fp", math.max(1L, spanT.count()), 0.01))
    this
  }

  /** The deploy-time geometry persisted next to the tables so
    * [[TableCommit.reopen]] can VALIDATE the requested parameters: a
    * silently different `parts` would mis-prune every partition-pruned
    * gate and takedown read (the takedown would no-op instead of
    * deleting), and different hash geometry (numHashes/bands/w/
    * simhashBlocks/ngramN) would break every artifact's fold/decrement
    * symmetry. `maxShingleDf` is stored for information but NOT
    * validated — the cap is applied at read time against the summed df
    * sidecar, so it is a legitimate reopen-time knob. `ngramBlockCol`
    * is a Column and cannot be persisted; a reopen must pass the same
    * expression (documented, like the batch faces). */
  private def metaPath = s"$cRoot/meta"
  private def writeMeta(): Unit = {
    import spark.implicits._
    Seq((numHashes, bands, w, simhashBlocks, ngramN, parts, maxShingleDf))
      .toDF("numHashes", "bands", "w", "simhashBlocks", "ngramN", "parts",
        "maxShingleDf")
      .coalesce(1).write.mode("overwrite")
      .parquet(journal.staged(metaPath))
  }
  private def validateMeta(): Unit = {
    require(journal.exists(metaPath),
      s"TableCommit.reopen: no store at $cRoot (missing meta)")
    val mt = spark.read.parquet(journal.resolve(metaPath)).head()
    val stored = (mt.getAs[Int]("numHashes"), mt.getAs[Int]("bands"),
      mt.getAs[Int]("w"), mt.getAs[Int]("simhashBlocks"),
      mt.getAs[Int]("ngramN"), mt.getAs[Int]("parts"))
    val requested = (numHashes, bands, w, simhashBlocks, ngramN, parts)
    require(stored == requested,
      s"TableCommit.reopen: stored geometry (numHashes, bands, w, " +
        s"simhashBlocks, ngramN, parts) = $stored != requested " +
        s"$requested — a mismatched parts would silently mis-prune " +
        "every partition-pruned read; mismatched hash geometry would " +
        "break fold/decrement symmetry")
  }

  /** One-time corpus load: write every corpus-layer table (generation
    * 0) plus the frozen `span0` gate baseline and the geometry meta,
    * commit the generation marker, and build the gate Blooms. A
    * production deployment runs this once (or inherits the tables from
    * the batch pipeline); per-delivery cost never includes it. */
  def deploy(corpus: DataFrame, idCol: String, textCol: String): TableCommit = {
    journal.requireWritable()
    val docs = corpus
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .localCheckpoint(true)
    val span = spanRows(docs, 1L)
    val rows = ngramRows(docs).localCheckpoint(true)
    // The nine corpus-layer writes (plus the 1-row geometry meta) share
    // no dependency once docs and the shingle rows are checkpointed —
    // submit them concurrently (graft.Par): sequential, each is one
    // small job leaving most of the cluster idle plus a full scheduler
    // round-trip in series. All land in writer-scoped staging dirs,
    // published together (lease-checked renames) right before the
    // deploy marker.
    graft.Par.all(
      () => writeMeta(),
      () => writeCorpus(docs.withColumn("part", partOf(col("id"))),
        "docs", partitioned = true, 0),
      () => writeCorpus(fpRows(docs, 1L), "fp", partitioned = true, 0),
      () => writeCorpus(span, "span", partitioned = true, 0),
      () => span.select("fp", "part").distinct()
        .repartition(parts, col("part"))
        .write.mode("overwrite").partitionBy("part")
        .parquet(journal.staged(span0Path)),
      () => writeCorpus(Dedup.bandTable(docs, "id", "text", numHashes, bands),
        "bands", partitioned = false, 0),
      () => writeCorpus(
        Dedup.simhashBandTable(docs, "id", "text", simhashBlocks),
        "simhash", partitioned = false, 0),
      () => writeCorpus(dfRows(rows, 1L), "ngramdf", partitioned = false, 0),
      () => writeCorpus(rows.select("blk", "shingle", "id"), "postings",
        partitioned = false, 0),
      () => writeCorpus(Dedup.shingleSetsOfRows(rows), "sets",
        partitioned = false, 0))
    journal.publishStaged(
      Seq("docs", "fp", "span", "bands", "simhash", "ngramdf",
        "postings", "sets").map(t => s"$cRoot/$t/corpus-g0")
        :+ span0Path :+ metaPath)
    journal.markDeploy()
    refreshCorpusBytes()
    // Gate Blooms built from the READ-BACK stored tables (columnar
    // scans; counts are parquet-metadata-fast). No distinct anywhere —
    // duplicate inserts only re-set bits, and the row count is a safe
    // over-estimate of the distinct count for sizing. Independent
    // scans — concurrent like the writes.
    var fpB: org.apache.spark.util.sketch.BloomFilter = null
    var idB: org.apache.spark.util.sketch.BloomFilter = null
    var spB: org.apache.spark.util.sketch.BloomFilter = null
    graft.Par.all(
      () => {
        val fpT = readOr(corpusPath("fp"), fpSchema)
        fpB = fpT.stat.bloomFilter(
          "fingerprint", math.max(1L, fpT.count()), 0.01)
      },
      () => idB =
        docs.stat.bloomFilter("id", math.max(1L, docs.count()), 0.01),
      () => {
        val spanT = readOr(span0Path, span0Schema)
        spB = spanT.stat.bloomFilter("fp", math.max(1L, spanT.count()), 0.01)
      })
    fpBloom = fpB
    idBloom = idB
    spanBloomBc = spark.sparkContext.broadcast(spB)
    // Tables and Blooms are built — the deploy-time checkpoint blocks
    // (full corpus docs + shingle rows) are dead; release them now.
    graft.Ckpt.release(docs, rows)
    this
  }

  // ---- the commit fold ------------------------------------------------
  /** Fold one gate-accepted delivery into the stored artifacts.
    * Thread-safe; replay-safe by batch id (DURABLY — the marker records
    * it, so a re-delivered epoch after a crash is skipped by id) and by
    * content; ATOMIC — the per-table delta writes are invisible until
    * the single marker rename commits them, so a crash anywhere inside
    * leaves no trace and re-delivery folds cleanly. The batch id is
    * recorded only on SUCCESS: a delivery that fails mid-fold (task
    * failure, id-clash violation) stays unrecorded, so a retry under
    * the same id re-runs instead of being silently swallowed. Every job
    * in here is batch-sized or a Bloom/partition-pruned store read. */
  def foldBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
    if (journal.seen("fold", batchId)) return
    val bf = batch
      .select(col("id"), col("text"))
      .withColumn("fingerprint", fpc(col("text")))
      .filter(col("fingerprint").isNotNull)
      .localCheckpoint(true)
    // GATE — content-keyed, Bloom-prefiltered exact verify.
    val batchFps = bf.select("fingerprint").distinct().as[String].collect()
    val candFps = batchFps.filter(fpBloom.mightContainString)
    var candRel: DataFrame = null // released once acceptedRaw materializes
    val novel =
      if (candFps.isEmpty) bf
      else {
        val cand = candFps.toSeq.toDF("fingerprint")
          .withColumn("part", partOf(col("fingerprint")))
          .localCheckpoint(true)
        candRel = cand
        val candParts = cand.select("part").distinct().as[Int].collect().toSeq
        def pruned(t: String, schema: StructType) =
          readAll(t, schema).filter(col("part").isin(candParts: _*))
        val present = pruned("fp", fpSchema)
          .join(broadcast(cand.select("fingerprint")),
            Seq("fingerprint"), "left_semi")
          .groupBy("fingerprint").agg(sum(col("w")).as("n"))
          .filter(col("n") > 0).select("fingerprint")
          .unionByName(
            pruned("ledger", ledgerSchema)
              .join(broadcast(cand.select("fingerprint")),
                Seq("fingerprint"), "left_semi")
              .select("fingerprint"))
          .distinct()
        bf.join(broadcast(present), Seq("fingerprint"), "left_anti")
      }
    val acceptedRaw = novel
      .withColumn("mn", min(col("id")).over(Window.partitionBy("fingerprint")))
      .filter(col("id") === col("mn"))
      .select("id", "text", "fingerprint")
      .localCheckpoint(true)
    graft.Ckpt.release(candRel)
    if (acceptedRaw.isEmpty) {
      journal.noteSeen("fold", batchId)
      graft.Ckpt.release(bf, acceptedRaw); return
    }
    // Id-disjointness law (includes tombstoned ids: no id reuse).
    val batchIds = acceptedRaw.select("id").distinct().as[Long].collect()
    val candIds = batchIds.filter(idBloom.mightContainLong)
    val idClashes =
      if (candIds.isEmpty) 0L
      else {
        val candI = candIds.toSeq.toDF("id")
          .withColumn("part", partOf(col("id"))).localCheckpoint(true)
        val iParts = candI.select("part").distinct().as[Int].collect().toSeq
        val n = readAll("docs", docSchema).filter(col("part").isin(iParts: _*))
          .select("id")
          .unionByName(tomb.select("id"))
          .join(broadcast(candI.select("id")), Seq("id"), "left_semi")
          .count()
        graft.Ckpt.release(candI)
        n
      }
    require(idClashes == 0L,
      s"TableCommit: $idClashes accepted id(s) already committed or " +
        "tombstoned — ids must be disjoint")
    // CLEAN — span-excise against the FROZEN span0 set: Bloom per-row
    // (batch-sized mapPartitions), then a partition-pruned exact
    // verify of the hits only.
    // (cleanAgainstCorpusSpans returns an eager checkpoint and releases
    // its internal token/hit frames itself.)
    val accepted = cleanAgainstCorpusSpans(acceptedRaw.select("id", "text"))
    // COMMIT — batch-sized delta writes into this fold's private batch
    // dirs, then the one atomic marker.
    val uuid = journal.newUuid()
    val rows = ngramRows(accepted, spread = false).localCheckpoint(true)
    // Nine batch-sized delta writes with no mutual dependency —
    // concurrent (graft.Par); the marker rename below still happens
    // strictly after ALL of them. The Bloom-growth fingerprint collect
    // rides the same barrier (it depends only on the checkpointed
    // `accepted`): it was a serial post-marker job; the bloom itself
    // still grows only AFTER the marker commits below.
    var newFps: Array[String] = Array.empty
    graft.Par.all(
      () => newFps = accepted.select(fpc(col("text")).as("f"))
        .filter(col("f").isNotNull)
        .distinct().as[String].collect(),
      () => writeBatch(accepted.withColumn("part", partOf(col("id"))),
        "docs", uuid),
      () => writeBatch(
        acceptedRaw.select(col("fingerprint"),
          partOf(col("fingerprint")).as("part")),
        "ledger", uuid),
      () => writeBatch(fpRows(accepted, 1L), "fp", uuid),
      () => writeBatch(spanRows(accepted, 1L), "span", uuid),
      () => writeBatch(
        Dedup.bandTable(accepted, "id", "text", numHashes, bands),
        "bands", uuid),
      () => writeBatch(
        Dedup.simhashBandTable(accepted, "id", "text", simhashBlocks),
        "simhash", uuid),
      () => writeBatch(dfRows(rows, 1L), "ngramdf", uuid),
      () => writeBatch(rows.select("blk", "shingle", "id"), "postings", uuid),
      () => writeBatch(Dedup.shingleSetsOfRows(rows), "sets", uuid))
    val wrote = Set("docs", "ledger", "fp", "span", "bands", "simhash",
      "ngramdf", "postings", "sets")
    crashPoint("fold-before-marker")
    journal.markBatch(uuid, wrote, "fold", batchId)
    // Grow the gate Blooms: committed (cleaned) fps, raw-ledger fps, ids.
    newFps.foreach(fpBloom.putString)
    batchFps.foreach(fpBloom.putString)
    batchIds.foreach(idBloom.putLong)
    // The delivery is committed and the Blooms grown — release the
    // fold's checkpoint blocks NOW (GC + ContextCleaner lag across a
    // long stream is real executor-memory pressure; round-14 VERDICT).
    graft.Ckpt.release(bf, acceptedRaw, accepted, rows)
    maybeAutoCompact()
  }

  private def cleanAgainstCorpusSpans(batchDocs: DataFrame): DataFrame = {
    val toks = batchDocs
      .select(col("id"), Dedup.words(col("text")).as("wd"))
      .localCheckpoint(true)
    val bSpans = toks
      .select(col("id"), explode(Dedup.posShingles(col("wd"), w)).as("ps"))
      .select(col("id"), col("ps.pos").cast("long").as("pos"),
        Dedup.hash60(col("ps.s")).as("fp"))
    val bloom = spanBloomBc
    val hits = bSpans.as[(Long, Long, Long)]
      .mapPartitions { it =>
        val b = bloom.value
        it.filter { case (_, _, fp) => b.mightContainLong(fp) }
      }
      .toDF("id", "pos", "fp")
      .localCheckpoint(true)
    val removable =
      if (hits.isEmpty) hits.select("id", "pos")
      else {
        val hitParts = hits.select(partOf(col("fp")).as("part"))
          .distinct().as[Int].collect().toSeq
        val present = readOr(span0Path, span0Schema)
          .filter(col("part").isin(hitParts: _*))
          .join(broadcast(hits.select("fp").distinct()), Seq("fp"),
            "left_semi")
          .select("fp").distinct()
        hits.join(broadcast(present), Seq("fp"), "left_semi")
          .select("id", "pos")
      }
    val cleaned = Dedup.exciseIntervals(toks, removable, w)
      .select(col("id"), col("clean_text").as("text"))
      .localCheckpoint(true)
    // The cleaned frame is its own checkpoint now — the token and
    // Bloom-hit frames it was derived from are dead.
    graft.Ckpt.release(toks, hits)
    cleaned
  }

  // ---- the retract fold -----------------------------------------------
  /** Fold one takedown delivery (a frame with an `id` column) into the
    * stored artifacts: tombstone the ids, append the signed decrements.
    * Replay-safe by batch id and by content (an already-tombstoned or
    * never-committed id is a no-op), and ATOMIC like the commit fold —
    * tombstone and decrements become visible together with the marker,
    * so the crash window round-12 ADVICE named (tombstone committed,
    * decrements lost, replay a permanent no-op) cannot occur.
    * Per-delivery work is delete-sized plus one partition-pruned docs
    * read. */
  def retractBatch(deleteIds: DataFrame, batchId: Long): Unit = synchronized {
    if (journal.seen("retract", batchId)) return
    val del = deleteIds.select(col("id")).distinct().localCheckpoint(true)
    val fresh = del
      .join(tomb, Seq("id"), "left_anti")
      .withColumn("part", partOf(col("id")))
      .localCheckpoint(true)
    if (fresh.isEmpty) {
      journal.markNoop("retract", batchId)
      graft.Ckpt.release(del, fresh); return
    }
    val iParts = fresh.select("part").distinct().as[Int].collect().toSeq
    // The stored texts of the deleted docs — the exact rows whose
    // artifact contributions must be inverted.
    val deleted = readAll("docs", docSchema)
      .filter(col("part").isin(iParts: _*))
      .join(broadcast(fresh.select("id")), Seq("id"), "left_semi")
      .select("id", "text")
      .localCheckpoint(true)
    if (deleted.isEmpty) {
      journal.markNoop("retract", batchId)
      graft.Ckpt.release(del, fresh, deleted); return
    }
    val uuid = journal.newUuid()
    graft.Par.all(
      () => writeBatch(deleted.select("id"), "tomb", uuid),
      () => writeBatch(fpRows(deleted, -1L), "fp", uuid),
      () => writeBatch(spanRows(deleted, -1L), "span", uuid),
      () => writeBatch(dfRows(ngramRows(deleted, spread = false), -1L), "ngramdf", uuid))
    // Bands / simhash / sets / postings / accepted: the tombstone
    // anti-join IS the retraction. The ledger keeps the raw fps —
    // re-delivered taken-down content stays rejected.
    val wrote = Set("tomb", "fp", "span", "ngramdf")
    crashPoint("retract-before-marker")
    journal.markBatch(uuid, wrote, "retract", batchId)
    graft.Ckpt.release(del, fresh, deleted)
    maybeAutoCompact()
  }

  // ---- read faces -------------------------------------------------------
  private def present(rows: DataFrame, key: Seq[String]): DataFrame = rows
    .groupBy(key.map(col): _*)
    .agg(sum(col("w")).as("n"))
    .filter(col("n") > 0)
    .select(key.map(col): _*)

  private def tomb: DataFrame =
    // Tombstones PERSIST across EVERY compaction as their own compacted
    // baseline: a sharing store's target rows in the immutable shared
    // corpus, and for a plain store the no-id-reuse law ("retracted ids
    // may not be recommitted") must survive the physical drop of the
    // tombstoned rows — without the baseline, the first compaction
    // would silently re-admit a retracted id. Delete-sized.
    readOr(ownPath("tomb"), tombSchema)
      .unionByName(readDelta("tomb", tombSchema))

  private def antiTomb(df: DataFrame): DataFrame =
    df.join(tomb, Seq("id"), "left_anti")

  def committedFingerprints: DataFrame =
    present(readAll("fp", fpSchema), Seq("fingerprint"))

  /** TIME TRAVEL — the committed fingerprint set AS OF the end of
    * generation `g` (Delta's `versionAsOf` shape over the journal's
    * generations): `baseline(g) + g's marked deltas` is exactly the
    * live face at `g`'s last commit, immutable once superseded. This
    * is the read face that makes the retention windows (`gcRetainMs`,
    * `vacuum(retainMs)`) USEFUL rather than incidental — a reader can
    * pin a superseded generation for as long as it stays retained, and
    * an aged-out generation fails loudly instead of serving an empty
    * frame. Plain stores only: a sharing store's baseline lives in the
    * immutable shared layer and is not generation-addressable. */
  def committedFingerprintsAt(g: Int): DataFrame = {
    require(corpusRoot.isEmpty,
      "TableCommit.committedFingerprintsAt: time travel is not " +
        "supported on a sharing store (its baseline lives in the " +
        "shared layer)")
    val dir = s"$base/fp/corpus-g$g"
    require(journal.existsAt(dir, g),
      s"TableCommit.committedFingerprintsAt($g): generation $g is not " +
        "retained (GC'd or vacuumed) — raise gcRetainMs / vacuum " +
        "retainMs to pin it")
    present(journal.readAllAt(dir, "fp", g, fpSchema), Seq("fingerprint"))
  }
  def committedSpanFps: DataFrame =
    present(readAll("span", spanSchema), Seq("fp"))
  def committedBands: DataFrame =
    antiTomb(readAll("bands", bandSchema)).select("id", "band", "bh")
  def committedSimhashBands: DataFrame =
    antiTomb(readAll("simhash", simSchema))
      .select("id", "simhash", "band", "bv")
  def committedNgramDf: DataFrame = readAll("ngramdf", dfSchema)
    .groupBy("blk", "shingle").agg(sum(col("df")).as("df"))
    .filter(col("df") > 0)
  /** Raw postings → read-time df cap: the lazy compaction. */
  def committedNgramPostings: DataFrame =
    antiTomb(readAll("postings", postSchema))
      .join(committedNgramDf.filter(col("df") <= maxShingleDf)
        .select("blk", "shingle"), Seq("blk", "shingle"))
      .select("blk", "shingle", "id")
  def committedShingleSets: DataFrame =
    antiTomb(readAll("sets", setSchema)).select("id", "shingles")
  /** The stream-accepted documents — the rows this store's folds
    * added on top of its corpus layer. For a SHARING store (the
    * streaming queries' shape) the face is stable across compactions:
    * own baseline + deltas, anti-tombstoned. For a PLAIN store the
    * face means "accepted since the last compaction" — compactPlain
    * merges the folded docs into the corpus layer, where deploy-time
    * and folded rows are indistinguishable by design (the committed
    * faces, not this readout, are the compaction-invariant surface). */
  def accepted: DataFrame = {
    val d = readDelta("docs", docSchema)
    val all =
      if (corpusRoot.isDefined)
        readOr(ownPath("docs"), docSchema).unionByName(d)
      else d
    antiTomb(all).select("id", "text")
  }

  // Baseline-layer faces — the readouts' n_corpus column (the current
  // generation's corpus layer: the deploy until the first compaction).
  def corpusFingerprints: DataFrame =
    readOr(corpusPath("fp"), fpSchema).select("fingerprint").distinct()
  def corpusSpanFps: DataFrame =
    readOr(corpusPath("span"), spanSchema).select("fp").distinct()
  def corpusBands: DataFrame =
    readOr(corpusPath("bands"), bandSchema).select("id", "band", "bh")
  def corpusSimhashBands: DataFrame =
    readOr(corpusPath("simhash"), simSchema)
      .select("id", "simhash", "band", "bv")
  def corpusNgramDf: DataFrame = readOr(corpusPath("ngramdf"), dfSchema)
    .select("blk", "shingle", "df")
  def corpusNgramPostings: DataFrame =
    readOr(corpusPath("postings"), postSchema)
      .join(corpusNgramDf.filter(col("df") <= maxShingleDf)
        .select("blk", "shingle"), Seq("blk", "shingle"))
      .select("blk", "shingle", "id")
  def corpusShingleSets: DataFrame =
    readOr(corpusPath("sets"), setSchema).select("id", "shingles")

  // Delta faces — the readouts' n_delta column (positive adds only).
  def deltaFingerprints: DataFrame = readDelta("fp", fpSchema)
    .filter(col("w") > 0).select("fingerprint").distinct()
  def deltaSpanFps: DataFrame = readDelta("span", spanSchema)
    .filter(col("w") > 0).select("fp").distinct()
  def deltaBands: DataFrame =
    readDelta("bands", bandSchema).select("id", "band", "bh")
  def deltaSimhashBands: DataFrame =
    readDelta("simhash", simSchema).select("id", "simhash", "band", "bv")
  def deltaNgramRows: DataFrame =
    readDelta("postings", postSchema).select("blk", "shingle", "id")
  def deltaShingleSets: DataFrame =
    readDelta("sets", setSchema).select("id", "shingles")

  /** The seven committed artifacts in [[Dedup.GateArtifacts]] shape. */
  def gateArtifacts: Dedup.GateArtifacts = Dedup.GateArtifacts(
    fingerprints = committedFingerprints,
    bandTable = committedBands,
    spanFps = committedSpanFps,
    simhashBands = committedSimhashBands,
    ngramPostings = committedNgramPostings,
    ngramDf = committedNgramDf,
    shingleSets = committedShingleSets)

  /** GC of journal garbage (crashed-op batch dirs, superseded
    * generations) — [[graft.StoreJournal.vacuum]]; committed-face
    * no-op, returns directories removed. */
  def vacuum(retainMs: Long = 0L): Long =
    synchronized { journal.vacuum(tables, retainMs) }

  /** The gate's pruned fingerprint read, exposed for the plan-shape
    * spec: the corpus layer must show PartitionFilters (hive `part=`
    * dirs prune under the user-specified schema), the batch-sized
    * deltas take the same predicate as a data filter. */
  private[graft] def prunedFpRead(candParts: Seq[Int]): DataFrame =
    readAll("fp", fpSchema).filter(col("part").isin(candParts: _*))

  /** Maintenance readout for the stress harness and the trigger:
    * (corpus bytes, delta bytes, delta files, committed folds since
    * the last compaction, current generation). */
  def maintenanceStats: (Long, Long, Long, Int, Int) =
    (corpusBytes, journal.deltaBytes, journal.deltaFiles,
      journal.committed.size, journal.gen)

  private def maybeAutoCompact(): Unit =
    if (autoCompact &&
        (journal.deltaBytes > compactDeltaRatio * math.max(1L, corpusBytes) ||
          journal.deltaFiles > compactMaxDeltaFiles)) compact()

  /** COMPACTION — the deliberate corpus-scale lifecycle op the
    * delta-append design defers to: fold every marked delta and
    * tombstone into a FRESH GENERATION of corpus baselines, so read
    * amplification (delta unions, tombstone anti-joins, multiset
    * aggregation, file listings) resets to zero. Semantically a NO-OP
    * on the committed faces (spec-pinned row-for-row): signed multisets
    * compact to one summed row per surviving key — PRESERVING the
    * count, so later retractions still decrement exactly — id-keyed
    * tables compact to their tombstone-surviving rows, the tombstones
    * THEMSELVES persist as a compacted baseline (the no-id-reuse law
    * outlives the physical drop), and the raw ingest ledger compacts
    * to its distinct rows but is never dropped (replay/takedown safety
    * survives compaction). The frozen `span0` gate baseline is NEVER
    * touched. CRASH-ATOMIC: the new generation becomes visible only
    * with the single `_gens` marker rename; a crash on either side of
    * it leaves one complete, consistent generation (see class doc).
    * GCs with one-generation retention ([[graft.StoreJournal.gcAged]])
    * — lazy frames handed out before this compaction keep resolving,
    * older generations are deleted, footprint stays bounded. Runs on
    * the maintenance thresholds (`autoCompact`) or an explicit call,
    * never per delivery. */
  def compact(): Unit = synchronized {
    journal.checkLease() // fence stale writers before the deterministic-dir writes
    if (corpusRoot.isEmpty) compactPlain() else compactShared()
  }

  private def compactPlain(): Unit = {
    val g2 = journal.gen + 1
    // Each compacted frame feeds exactly ONE write into the fresh
    // generation's dirs (reads stay on the current generation — no
    // self-overwrite), so no checkpoint: the write IS the single
    // evaluation, and the ten independent writes run concurrently
    // (graft.Par) — the marker rename still follows all of them.
    // Tombstones survive as their own compacted baseline (delete-sized)
    // — the no-id-reuse law must outlive the physical drop of the
    // tombstoned rows, else the first compaction silently re-admits a
    // retracted id. Checkpointed once: five survivor frames anti-join
    // it (reading the raw tomb union five times would multiply the
    // delete-layer I/O with takedown volume).
    val tombAll = tomb.distinct().localCheckpoint(true)
    def surv(df: DataFrame) = df.join(tombAll, Seq("id"), "left_anti")
    val fp = readAll("fp", fpSchema)
      .groupBy("fingerprint", "part").agg(sum(col("w")).as("w"))
      .filter(col("w") > 0)
      .select("fingerprint", "w", "part")
    val span = readAll("span", spanSchema)
      .groupBy("fp", "part").agg(sum(col("w")).as("w"))
      .filter(col("w") > 0)
      .select("fp", "w", "part")
    val ndf = readAll("ngramdf", dfSchema)
      .groupBy("blk", "shingle").agg(sum(col("df")).as("df"))
      .filter(col("df") > 0)
    val docs = surv(readAll("docs", docSchema))
      .select("id", "text", "part")
    val bandsT = surv(readAll("bands", bandSchema))
      .select("id", "band", "bh")
    val sim = surv(readAll("simhash", simSchema))
      .select("id", "simhash", "band", "bv")
    val posts = surv(readAll("postings", postSchema))
      .select("blk", "shingle", "id")
    val sets = surv(readAll("sets", setSchema))
      .select("id", "shingles")
    val ledger = readAll("ledger", ledgerSchema)
      .select("fingerprint", "part").distinct()
    graft.Par.all(
      () => writeCorpus(fp, "fp", partitioned = true, g2),
      () => writeCorpus(span, "span", partitioned = true, g2),
      () => writeCorpus(ndf, "ngramdf", partitioned = false, g2),
      () => writeCorpus(docs, "docs", partitioned = true, g2),
      () => writeCorpus(bandsT, "bands", partitioned = false, g2),
      () => writeCorpus(sim, "simhash", partitioned = false, g2),
      () => writeCorpus(posts, "postings", partitioned = false, g2),
      () => writeCorpus(sets, "sets", partitioned = false, g2),
      () => writeCorpus(ledger, "ledger", partitioned = true, g2),
      () => writeCorpus(tombAll, "tomb", partitioned = false, g2))
    crashPoint("compact-before-publish")
    journal.publishStaged(tables.map(t => s"$cRoot/$t/corpus-g$g2"))
    crashPoint("compact-before-marker")
    journal.markGeneration(g2)
    crashPoint("compact-after-marker")
    // The new generation is committed; the driver state flips to it.
    // GC runs with ONE-generation retention (gcAged): lazy frames
    // handed out before THIS compaction keep resolving against the
    // retained predecessor, while anything older is deleted — bounding
    // a long-running auto-compacting store's footprint at one
    // superseded corpus copy. [[vacuum]] remains the aggressive sweep.
    journal.advance(g2)
    refreshCorpusBytes()
    journal.gcAged(tables, gcRetainMs)
    graft.Ckpt.release(tombAll)
  }

  /** A SHARING store's compaction: the memoized corpus layer is
    * immutable (other stores read it), so the marked deltas fold into
    * the store's OWN baseline under its base instead — same journal
    * discipline, one generation marker, crash-atomic. Two semantic
    * twists the shared shape forces: the signed multisets keep their
    * NET rows under `!= 0` (a net-negative row cancels a +1 in the
    * immutable corpus — the `> 0` filter would resurrect retracted
    * content), and the tombstones PERSIST as their own compacted
    * baseline (they target corpus rows no compaction may rewrite);
    * only the store's own id-keyed rows drop physically. Committed
    * faces are unchanged row-for-row (spec-pinned), and read
    * amplification (delta unions, file count) resets exactly like the
    * plain compaction. */
  private def compactShared(): Unit = {
    val g2 = journal.gen + 1
    def ownAndDelta(t: String, schema: StructType) =
      readOr(ownPath(t), schema).unionByName(readDelta(t, schema))
    // Single-consumer frames write directly (no checkpoint — the write
    // is the one evaluation; reads stay on the current generation);
    // the ten independent writes run concurrently (graft.Par).
    val fp = ownAndDelta("fp", fpSchema)
      .groupBy("fingerprint", "part").agg(sum(col("w")).as("w"))
      .filter(col("w") =!= 0)
      .select("fingerprint", "w", "part")
    val span = ownAndDelta("span", spanSchema)
      .groupBy("fp", "part").agg(sum(col("w")).as("w"))
      .filter(col("w") =!= 0)
      .select("fp", "w", "part")
    val ndf = ownAndDelta("ngramdf", dfSchema)
      .groupBy("blk", "shingle").agg(sum(col("df")).as("df"))
      .filter(col("df") =!= 0)
    val tombAll = tomb.distinct().localCheckpoint(true)
    def survivors(df: DataFrame) = df.join(tombAll, Seq("id"), "left_anti")
    val docs = survivors(ownAndDelta("docs", docSchema))
      .select("id", "text", "part")
    val bandsT = survivors(ownAndDelta("bands", bandSchema))
      .select("id", "band", "bh")
    val sim = survivors(ownAndDelta("simhash", simSchema))
      .select("id", "simhash", "band", "bv")
    val posts = survivors(ownAndDelta("postings", postSchema))
      .select("blk", "shingle", "id")
    val sets = survivors(ownAndDelta("sets", setSchema))
      .select("id", "shingles")
    val ledger = ownAndDelta("ledger", ledgerSchema)
      .select("fingerprint", "part").distinct()
    graft.Par.all(
      () => writeCorpus(fp, "fp", partitioned = true, g2, base),
      () => writeCorpus(span, "span", partitioned = true, g2, base),
      () => writeCorpus(ndf, "ngramdf", partitioned = false, g2, base),
      () => writeCorpus(docs, "docs", partitioned = true, g2, base),
      () => writeCorpus(bandsT, "bands", partitioned = false, g2, base),
      () => writeCorpus(sim, "simhash", partitioned = false, g2, base),
      () => writeCorpus(posts, "postings", partitioned = false, g2, base),
      () => writeCorpus(sets, "sets", partitioned = false, g2, base),
      () => writeCorpus(ledger, "ledger", partitioned = true, g2, base),
      () => writeCorpus(tombAll, "tomb", partitioned = false, g2, base))
    crashPoint("compact-before-publish")
    journal.publishStaged(tables.map(t => s"$base/$t/corpus-g$g2"))
    crashPoint("compact-before-marker")
    journal.markGeneration(g2)
    crashPoint("compact-after-marker")
    // One-generation retention GC, as in compactPlain.
    journal.advance(g2)
    refreshCorpusBytes()
    journal.gcAged(tables, gcRetainMs)
    graft.Ckpt.release(tombAll)
  }
}

object TableCommit {

  private case class Layer(
      root: String,
      fpBloom: Array[Byte],
      idBloom: Array[Byte],
      spanBloom: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter])

  /** The commit family's shared-deploy memo, declared once with its
    * consumers and its release. The release unpersists the layer's
    * span-Bloom broadcast and deletes the corpus temp dir, so it is safe
    * only once every store handed out under the key is DONE: the fp/id
    * Blooms are per-store deserialized copies, but the span Bloom
    * broadcast and the corpus parquet dirs are SHARED — a retained
    * handle would re-broadcast the span Bloom on its next fold
    * (unpersist, not destroy, exactly so that is a slow path rather
    * than a crash) but its corpus-layer reads would hit deleted dirs. A
    * later [[sharedDeploy]] call just redeploys. A query that adopts
    * sharedDeploy under the data dir as its key joins the consumer set
    * here, which moves the runners' release point after it. */
  private val SharedCorpusMemo = graft.Memo.family[Layer]("commit_corpus",
    Set("q_stream_commit", "q_stream_lifecycle")) { layer =>
    try layer.spanBloom.unpersist(blocking = false)
    catch { case scala.util.control.NonFatal(_) => () }
    try org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(layer.root))
    catch { case scala.util.control.NonFatal(_) => () }
  }

  private def ser(b: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos)
    bos.toByteArray
  }
  private def deser(bytes: Array[Byte]) =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))

  /** CRASH RECOVERY: reopen a store over existing tables — a NEW
    * process resumes folding exactly where the last COMMITTED fold
    * stopped: the journal (generation marker + per-fold batch markers)
    * scopes reads to complete, atomically-committed state, so a crash
    * ANYWHERE — mid-fold, mid-retract, either side of a compaction
    * marker — reopens to the pre-op or post-op state, never a torn one.
    * Everything semantic lives in the tables; the driver-held state is
    * rebuilt from them: journal + gate Blooms from one scan each, and
    * the seen-delivery-id sets from the batch markers (each records its
    * op kind + delivery id) plus the generation marker (a compaction
    * baselines the sets there) — so a re-delivered epoch after a crash
    * is skipped BY ID, with the content gate as the second, stronger
    * layer beneath it (a re-delivered document is a content-keyed no-op
    * regardless of its batch id). Ids of no-op deliveries (which write
    * no marker) are the one in-memory-only piece — their replay re-runs
    * the gate and no-ops again. The requested geometry VALIDATES
    * against the persisted deploy-time meta. Spec-pinned: fold → crash
    * (drop the instance, or inject one mid-op) → reopen → re-deliver
    * pre-crash content under fresh batch ids → fold new batches lands
    * on a never-crashed twin row-for-row. */
  def reopen(
      spark: SparkSession,
      base: String,
      numHashes: Int,
      bands: Int,
      w: Int,
      simhashBlocks: Int = 4,
      ngramN: Int = 3,
      maxShingleDf: Int = Dedup.DefaultShingleDfCap,
      parts: Int = 16,
      corpusRoot: Option[String] = None,
      autoCompact: Boolean = false,
      compactDeltaRatio: Double = 0.5,
      compactMaxDeltaFiles: Long = 512L,
      gcRetainMs: Long = 0L,
      readOnly: Boolean = false,
      takeoverAfterMs: Long = 0L): TableCommit =
    new TableCommit(spark, base, numHashes, bands, w,
      simhashBlocks = simhashBlocks, ngramN = ngramN,
      maxShingleDf = maxShingleDf, parts = parts,
      corpusRoot = corpusRoot, autoCompact = autoCompact,
      compactDeltaRatio = compactDeltaRatio,
      compactMaxDeltaFiles = compactMaxDeltaFiles,
      gcRetainMs = gcRetainMs, readOnly = readOnly,
      takeoverAfterMs = takeoverAfterMs).rebuild()

  /** A store whose IMMUTABLE corpus layer is the memoized deploy for
    * `(session, key)` in [[SharedCorpusMemo]]: the first caller writes
    * the corpus tables and builds the Blooms once; later callers reuse
    * the tables (read-only after deploy) and receive their OWN
    * deserialized copies of the growable fp/id Blooms (folds mutate them
    * per store), plus the frozen span Bloom broadcast. Deltas, tombstones
    * and the ledger are per-instance — stores stay independent. */
  def sharedDeploy(
      spark: SparkSession,
      key: String,
      corpus: => DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      w: Int,
      simhashBlocks: Int = 4,
      maxShingleDf: Int = Dedup.DefaultShingleDfCap,
      autoCompact: Boolean = false,
      compactDeltaRatio: Double = 0.5,
      compactMaxDeltaFiles: Long = 512L,
      gcRetainMs: Long = 0L): TableCommit = {
    val layer = graft.Memo.get(SharedCorpusMemo, spark, key) {
      val root = java.nio.file.Files
        .createTempDirectory("graft_corpus_layer_").toString
      val tc = new TableCommit(spark, root, numHashes, bands, w,
        simhashBlocks = simhashBlocks, maxShingleDf = maxShingleDf)
        .deploy(corpus, idCol, textCol)
      val (fp, id, span) = tc.blooms
      Layer(root, ser(fp), ser(id), span)
    }
    new TableCommit(
      spark,
      java.nio.file.Files.createTempDirectory("graft_store_").toString,
      numHashes, bands, w, simhashBlocks = simhashBlocks,
      maxShingleDf = maxShingleDf, corpusRoot = Some(layer.root),
      autoCompact = autoCompact, compactDeltaRatio = compactDeltaRatio,
      compactMaxDeltaFiles = compactMaxDeltaFiles,
      gcRetainMs = gcRetainMs)
      .initBlooms(deser(layer.fpBloom), deser(layer.idBloom),
        layer.spanBloom)
  }
}
