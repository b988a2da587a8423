package graft.similarity

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The laws of the TABLE-BACKED kNN index store ([[KnnStore]]):
  * chained folded deliveries read back EXACTLY the from-scratch graph
  * of corpus ∪ all arrivals (the top-k merge law: arrivals only add
  * candidates, so merged top-k == recomputed top-k), which pins it
  * equal to both the oracle-checked [[Ivf.mutualKnnEdges]] rebuild and
  * the in-memory [[Ivf.knnIndexFold]] twin; plus replay safety by
  * batch id and empty-delivery no-op. */
class KnnStoreSpec extends SparkSuite {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private val centroidIds = (0 until 8).map(_ * 37L)
  private val k = 4

  private def edges(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def mk(corpus: org.apache.spark.sql.DataFrame) =
    new KnnStore(
      spark,
      java.nio.file.Files.createTempDirectory("graft_knnstore_").toString,
      nProbe = 2, k = k)
      .deploy(corpus, centroidIds)

  test("deploy alone reads back the from-scratch graph of the corpus") {
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    assert(edges(mk(corpus).mutualGraph) ==
      edges(Ivf.mutualKnnEdges(corpus, centroidIds, nProbe = 2, k = k)))
  }

  test("three chained deliveries read back the from-scratch graph of the union") {
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    val batch = emb.filter(col("vec_id") % 9 === 8)
    val store = mk(corpus)
    Seq(0, 1, 2).foreach(r =>
      store.foldBatch(batch.filter(expr(s"(vec_id div 9) % 3 = $r")), r.toLong))
    assert(edges(store.mutualGraph) ==
      edges(Ivf.mutualKnnEdges(emb, centroidIds, nProbe = 2, k = k)))
  }

  test("directed edges equal the in-memory fold twin after one delivery") {
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    val batch = emb.filter(col("vec_id") % 9 === 8)
    val store = mk(corpus)
    store.foldBatch(batch, 0L)
    val twin = Ivf.knnIndexFold(
      Ivf.knnIndexArtifacts(corpus, centroidIds, nProbe = 2, k = k), batch)
    assert(edges(store.directedEdges) == edges(
      twin.edges.select("q_vec_id", "vec_id", "score")))
  }

  test("edge compaction is a graph no-op and later folds land on the twin") {
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    val batch = emb.filter(col("vec_id") % 9 === 8)
    val plain = mk(corpus)
    val compacted = mk(corpus)
    for (s <- Seq(plain, compacted))
      s.foldBatch(batch.filter(expr("(vec_id div 9) % 3 = 0")), 0L)
    compacted.compact()
    assert(edges(compacted.mutualGraph) == edges(plain.mutualGraph))
    for (s <- Seq(plain, compacted))
      s.foldBatch(batch.filter(expr("(vec_id div 9) % 3 <> 0")), 1L)
    assert(edges(compacted.mutualGraph) == edges(plain.mutualGraph))
    assert(edges(plain.mutualGraph) ==
      edges(Ivf.mutualKnnEdges(emb, centroidIds, nProbe = 2, k = k)))
  }

  test("crash recovery: reopen resumes folding on the stored index exactly") {
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    val batch = emb.filter(col("vec_id") % 9 === 8)
    val plain = mk(corpus)
    val crashBase = java.nio.file.Files
      .createTempDirectory("graft_knn_crash_").toString
    val before = new KnnStore(spark, crashBase, nProbe = 2, k = k)
      .deploy(corpus, centroidIds)
    plain.foldBatch(batch.filter(expr("(vec_id div 9) % 3 = 0")), 0L)
    before.foldBatch(batch.filter(expr("(vec_id div 9) % 3 = 0")), 0L)
    val reopened = KnnStore.reopen(spark, crashBase, nProbe = 2, k = k)
    plain.foldBatch(batch.filter(expr("(vec_id div 9) % 3 <> 0")), 1L)
    reopened.foldBatch(batch.filter(expr("(vec_id div 9) % 3 <> 0")), 1L)
    assert(edges(reopened.mutualGraph) == edges(plain.mutualGraph))
    assert(edges(reopened.mutualGraph) ==
      edges(Ivf.mutualKnnEdges(emb, centroidIds, nProbe = 2, k = k)))
  }

  test("vector takedown: fold/retract interleavings read back the from-scratch graph of the survivors") {
    // The merge law does NOT invert — removing a vector can ADMIT
    // candidates ranked below it — so the store re-scores affected
    // queries. Pinned three ways: against the from-scratch build on
    // the survivors, against the in-memory fold∘retract twin chain,
    // and with a later fold landing on both.
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    val batch = emb.filter(col("vec_id") % 9 === 8)
    val f1 = batch.filter(expr("(vec_id div 9) % 3 = 0"))
    val f2 = batch.filter(expr("(vec_id div 9) % 3 <> 0") &&
      col("vec_id") % 10 =!= 3)
    val del = emb.filter(col("vec_id") % 10 === 3).select("vec_id")
    val store = mk(corpus)
    store.foldBatch(f1, 0L)
    store.retractBatch(del, 1L)
    store.foldBatch(f2, 2L)
    val survivors = corpus.unionByName(f1)
      .filter(col("vec_id") % 10 =!= 3)
      .unionByName(f2)
    assert(edges(store.mutualGraph) ==
      edges(Ivf.mutualKnnEdges(survivors, centroidIds, nProbe = 2, k = k)),
      "store vs from-scratch on survivors")
    val twin = Ivf.knnIndexFold(
      Ivf.knnIndexRetract(
        Ivf.knnIndexFold(
          Ivf.knnIndexArtifacts(corpus, centroidIds, nProbe = 2, k = k),
          f1),
        del),
      f2)
    assert(edges(store.directedEdges) ==
      edges(twin.edges.select("q_vec_id", "vec_id", "score")),
      "store vs in-memory fold∘retract∘fold twin")
  }

  test("takedown replays and never-stored ids are no-ops; tombstoned arrivals are rejected") {
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    val batch = emb.filter(col("vec_id") % 9 === 8)
    val del = emb.filter(col("vec_id") % 10 === 3).select("vec_id")
    val store = mk(corpus)
    store.foldBatch(batch.filter(col("vec_id") % 10 =!= 3), 0L)
    store.retractBatch(del, 1L)
    val before = edges(store.mutualGraph)
    store.retractBatch(del, 1L) // replayed batch id: skipped outright
    store.retractBatch(del, 2L) // content replay: every id tombstoned
    import spark.implicits._
    store.retractBatch(Seq(99999991L, 99999992L).toDF("vec_id"), 3L)
    assert(edges(store.mutualGraph) == before)
    // Retraction is permanent: a tombstoned id may not re-arrive.
    intercept[IllegalArgumentException](
      store.foldBatch(emb.filter(col("vec_id") % 10 === 3).limit(1), 4L))
  }

  test("mid-op crashes are atomic: unmarked folds/retracts leave no trace and replay heals") {
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    val batch = emb.filter(col("vec_id") % 9 === 8)
    val del = emb.filter(col("vec_id") % 10 === 3).select("vec_id")
    val plain = mk(corpus)
    val crashBase = java.nio.file.Files
      .createTempDirectory("graft_knn_midcrash_").toString
    val victim = new KnnStore(spark, crashBase, nProbe = 2, k = k)
      .deploy(corpus, centroidIds)
    // Crash inside a fold, after the three delta writes, before the marker.
    victim.crashAt = Some("fold-before-marker")
    intercept[IllegalStateException](victim.foldBatch(batch, 0L))
    val r1 = KnnStore.reopen(spark, crashBase, nProbe = 2, k = k)
    assert(edges(r1.mutualGraph) == edges(plain.mutualGraph),
      "unmarked fold visible after crash")
    r1.foldBatch(batch, 1L) // re-delivery lands exactly
    plain.foldBatch(batch, 1L)
    assert(edges(r1.directedEdges) == edges(plain.directedEdges),
      "fold replay after crash")
    // Crash inside a retract: tombstone and re-scored edges stay
    // invisible TOGETHER (a visible tombstone without the re-score
    // would erase rows the re-score was meant to replace).
    r1.crashAt = Some("retract-before-marker")
    intercept[IllegalStateException](r1.retractBatch(del, 2L))
    val r2 = KnnStore.reopen(spark, crashBase, nProbe = 2, k = k)
    assert(edges(r2.directedEdges) == edges(plain.directedEdges),
      "crashed retract leaked partial state")
    r2.retractBatch(del, 3L)
    plain.retractBatch(del, 3L)
    assert(edges(r2.directedEdges) == edges(plain.directedEdges),
      "retract replay after crash")
    assert(edges(r2.mutualGraph) ==
      edges(Ivf.mutualKnnEdges(
        emb.filter(col("vec_id") % 10 =!= 3), centroidIds,
        nProbe = 2, k = k)),
      "post-recovery graph vs from-scratch survivors")
  }

  test("a crash on either side of the compaction marker reopens to one consistent generation") {
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    val batch = emb.filter(col("vec_id") % 9 === 8)
    val del = emb.filter(col("vec_id") % 10 === 3).select("vec_id")
    def prep(tag: String) = {
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_knn_cc_$tag").toString
      val s = new KnnStore(spark, base, nProbe = 2, k = k)
        .deploy(corpus, centroidIds)
      s.foldBatch(batch.filter(col("vec_id") % 10 =!= 3), 0L)
      s.retractBatch(del, 1L)
      (base, s)
    }
    val (_, plain) = prep("plain")
    val (b1, v1) = prep("pre")
    v1.crashAt = Some("compact-before-marker")
    intercept[IllegalStateException](v1.compact())
    val r1 = KnnStore.reopen(spark, b1, nProbe = 2, k = k)
    assert(edges(r1.directedEdges) == edges(plain.directedEdges),
      "pre-marker crash must leave the old generation intact")
    val (b2, v2) = prep("post")
    v2.crashAt = Some("compact-after-marker")
    intercept[IllegalStateException](v2.compact())
    val r2 = KnnStore.reopen(spark, b2, nProbe = 2, k = k)
    assert(edges(r2.directedEdges) == edges(plain.directedEdges),
      "post-marker crash must expose the complete new generation")
    // Genuinely NOVEL ids (the batch's own ids are already stored, and
    // the %10==3 ones tombstoned — the stored-id gate rejects both).
    val more = batch.filter(col("vec_id") % 10 === 7)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    for (s <- Seq(plain, r1, r2)) s.foldBatch(more, 9L)
    assert(edges(r1.directedEdges) == edges(plain.directedEdges))
    assert(edges(r2.directedEdges) == edges(plain.directedEdges))
  }

  test("the auto-compaction trigger bounds the version count and is a graph no-op") {
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    val batch = emb.filter(col("vec_id") % 9 === 8)
    val plain = mk(corpus)
    val auto = new KnnStore(
      spark,
      java.nio.file.Files.createTempDirectory("graft_knn_auto_").toString,
      nProbe = 2, k = k, autoCompact = true, compactMaxVersions = 2L)
      .deploy(corpus, centroidIds)
    for ((r, i) <- Seq(0, 1, 2).zipWithIndex) {
      val b = batch.filter(expr(s"(vec_id div 9) % 3 = $r"))
      plain.foldBatch(b, i.toLong)
      auto.foldBatch(b, i.toLong)
    }
    val (verNow, _, _, genNow) = auto.maintenanceStats
    assert(genNow > 0, "trigger never fired")
    assert(verNow < 2L || auto.maintenanceStats._4 > 0,
      "version count not reset by the trigger")
    assert(edges(auto.directedEdges) == edges(plain.directedEdges))
    val del = emb.filter(col("vec_id") % 10 === 3).select("vec_id")
    plain.retractBatch(del, 9L)
    auto.retractBatch(del, 9L)
    assert(edges(auto.directedEdges) == edges(plain.directedEdges),
      "takedown across trigger-fired compactions")
  }

  test("reopen validates the stored geometry and guards the edgeless store") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_knn_geom_").toString
    new KnnStore(spark, base, nProbe = 2, k = k)
      .deploy(emb.filter(col("vec_id") % 9 =!= 8), centroidIds)
    // A silently different `parts` would mis-prune every stored
    // partition — reopen must fail loudly instead.
    intercept[IllegalArgumentException](
      KnnStore.reopen(spark, base, nProbe = 2, k = k, parts = 8))
    intercept[IllegalArgumentException](
      KnnStore.reopen(spark, base, nProbe = 3, k = k))
    // An edgeless store (one-vector corpus: no candidate pairs) must
    // reopen without the null-max NPE and accept a first fold.
    val base1 = java.nio.file.Files
      .createTempDirectory("graft_knn_edgeless_").toString
    val one = emb.filter(col("vec_id") === 0L)
    new KnnStore(spark, base1, nProbe = 1, k = k).deploy(one, Seq(0L))
    val r = KnnStore.reopen(spark, base1, nProbe = 1, k = k)
    assert(r.directedEdges.count() == 0L)
    r.foldBatch(emb.filter(col("vec_id") === 1L), 0L)
    assert(r.directedEdges.count() == 2L,
      "two vectors give one directed edge each way")
  }

  test("replayed batch id and empty delivery are no-ops") {
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    val batch = emb.filter(col("vec_id") % 9 === 8)
    val store = mk(corpus)
    store.foldBatch(batch, 0L)
    val before = edges(store.mutualGraph)
    store.foldBatch(batch, 0L) // replayed id: skipped outright
    store.foldBatch(emb.filter(lit(false)), 1L) // empty delivery
    assert(edges(store.mutualGraph) == before)
  }

  test("the stored-id clash gate is CONTENT-INDEPENDENT: a stored id with a different embedding fails loudly") {
    // The round-13 ADVICE hole: pruning the exact verify to the cells
    // the CURRENT batch's embeddings assign to let an already-stored
    // vec_id re-delivered with a DIFFERENT embedding land in a
    // different cell and silently double-insert — exactly the
    // corruption the gate exists to stop. The verify now reads the full
    // asg id column (Bloom-gated), so the clash fails regardless of
    // which cell the corrupt embedding assigns to.
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    val store = mk(corpus)
    // A stored id carrying ANOTHER stored vector's embedding — chosen
    // from a different centroid's seed so the two assign to different
    // cells with near-certainty.
    val corrupt = corpus.filter(col("vec_id") === centroidIds.last)
      .select(lit(1L).as("vec_id"), col("embedding"))
    val e = intercept[IllegalArgumentException](
      store.foldBatch(corrupt, 5L))
    assert(e.getMessage.contains("already stored"))
    // The failed delivery's id was NOT consumed: the same id retries
    // with clean content and lands.
    val clean = emb.filter(col("vec_id") % 9 === 8)
    store.foldBatch(clean, 5L)
    val plain = mk(corpus)
    plain.foldBatch(clean, 5L)
    assert(edges(store.directedEdges) == edges(plain.directedEdges))
  }

  test("time travel: directedEdgesAt pins a superseded generation's exact face until GC ages it out") {
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    val batch = emb.filter(col("vec_id") % 9 === 8)
    val store = mk(corpus)
    store.foldBatch(batch, 0L)
    val f0 = edges(store.directedEdges) // end-of-generation-0 face
    store.compact() // generation 1
    val more = batch.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"))
    store.foldBatch(more, 1L)
    val f1 = edges(store.directedEdges)
    assert(edges(store.directedEdgesAt(0)) == f0,
      "the superseded generation must read back its exact face")
    assert(edges(store.directedEdgesAt(1)) == f1,
      "the current generation's snapshot is the live face")
    store.compact() // generation 2: default GC drops generation 0
    assert(intercept[IllegalArgumentException](store.directedEdgesAt(0))
      .getMessage.contains("not retained"))
    assert(edges(store.directedEdgesAt(1)) == f1,
      "the retained predecessor stays addressable")
  }

  test("refresh retrains the quantizer over survivors and the face equals a from-scratch deploy under the new centroids") {
    // The retrain-and-swap face (round-13 VERDICT missing #2): deploy
    // under ALTERNATE centroids, fold arrivals, then refresh to the
    // canonical centroid set — the whole index re-derives under the new
    // geometry and must equal a from-scratch deploy of the union under
    // those centroids. The store holds its own embeddings, so the
    // retrain is self-contained.
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    val batch = emb.filter(col("vec_id") % 9 === 8)
    val altIds = (0 until 8).map(_ * 19L) // all resolve corpus-side
    val base = java.nio.file.Files
      .createTempDirectory("graft_knn_refresh_").toString
    val store = new KnnStore(spark, base, nProbe = 2, k = k)
      .deploy(corpus, altIds)
    store.foldBatch(batch, 0L)
    store.refresh(centroidIds)
    val plain = mk(emb) // from-scratch under the NEW centroids
    assert(edges(store.directedEdges) == edges(plain.directedEdges),
      "refreshed face must equal the from-scratch deploy under the " +
        "retrained quantizer")
    // Later folds land on the refreshed geometry — across a reopen, so
    // the refreshed generation's quantizer is what restores.
    val more = batch.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"))
    val r = KnnStore.reopen(spark, base, nProbe = 2, k = k)
    r.foldBatch(more, 1L)
    plain.foldBatch(more, 1L)
    assert(edges(r.directedEdges) == edges(plain.directedEdges),
      "post-refresh folds must assign against the retrained centroids")
  }

  test("a crash on either side of the refresh marker reopens to one consistent (quantizer, tables) pair") {
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    val batch = emb.filter(col("vec_id") % 9 === 8)
    val altIds = (0 until 8).map(_ * 19L)
    def prep(tag: String) = {
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_knn_refc_$tag").toString
      val s = new KnnStore(spark, base, nProbe = 2, k = k)
        .deploy(corpus, altIds)
      s.foldBatch(batch, 0L)
      (base, s)
    }
    val (_, oldTwin) = prep("old")
    val refreshedTwin = mk(emb)
    // A crashed refresh releases the rebuild inputs and the new
    // quantizer it checkpointed: no persisted RDD outlives the call.
    def leakedBy(f: => Unit): Set[Int] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      f
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    }
    val (b1, v1) = prep("pre")
    v1.crashAt = Some("refresh-before-marker")
    assert(leakedBy(intercept[IllegalStateException](v1.refresh(centroidIds))).isEmpty,
      "a pre-marker refresh crash must leave no persisted RDD behind")
    val r1 = KnnStore.reopen(spark, b1, nProbe = 2, k = k)
    assert(edges(r1.directedEdges) == edges(oldTwin.directedEdges),
      "pre-marker refresh crash must serve the OLD quantizer and tables")
    val (b2, v2) = prep("post")
    v2.crashAt = Some("refresh-after-marker")
    assert(leakedBy(intercept[IllegalStateException](v2.refresh(centroidIds))).isEmpty,
      "a post-marker refresh crash must leave no persisted RDD behind")
    val r2 = KnnStore.reopen(spark, b2, nProbe = 2, k = k)
    assert(edges(r2.directedEdges) == edges(refreshedTwin.directedEdges),
      "post-marker refresh crash must serve the NEW quantizer and tables")
  }

  test("cell-scoped partial refresh equals a from-scratch deploy under the MIXED centroid set; later folds land exactly") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    val batch = emb.filter(col("vec_id") % 9 === 8)
    val store = mk(corpus)
    store.foldBatch(batch, 0L)
    // Tombstones in the mix: the carried AND re-scored paths must both
    // respect them. (No centroid id and neither replacement id is ≡ 3
    // mod 10, so the quantizer stays resolvable.)
    store.retractBatch(emb.filter(col("vec_id") % 10 === 3)
      .select("vec_id"), 1L)
    // Retrain cells 2 (centroid 74) and 5 (centroid 185) to surviving
    // stored vectors 19 and 41; every other cell carries forward.
    val (nAffected, nMovedCells) =
      store.refreshCells(Map(2L -> 19L, 5L -> 41L))
    assert(nAffected > 0 && nMovedCells > 0,
      "the fixture replacement should move members and affect queries " +
        "— a vacuous run proves nothing")
    // The committed face == a from-scratch deploy of the SURVIVORS
    // under the mixed centroid set (cell renumbering in the twin is a
    // pure relabeling — edges are label-free).
    val mixedIds = Seq(0L, 37L, 19L, 111L, 148L, 41L, 222L, 259L)
    val survivors = emb.filter(col("vec_id") % 10 =!= 3)
    val twin = new KnnStore(
      spark,
      java.nio.file.Files.createTempDirectory("graft_knn_mixed_").toString,
      nProbe = 2, k = k)
      .deploy(survivors, mixedIds)
    assert(edges(store.directedEdges) == edges(twin.directedEdges),
      "partial refresh must equal the from-scratch mixed-quantizer build")
    // Later folds land on the mixed-geometry twin too (re-keyed copies
    // of the tombstoned vectors — fresh ids, stored embeddings).
    val rekeyed = emb.filter(col("vec_id") % 10 === 3)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    store.foldBatch(rekeyed, 2L)
    twin.foldBatch(rekeyed, 2L)
    assert(edges(store.directedEdges) == edges(twin.directedEdges),
      "post-partial-refresh folds must land on the mixed-geometry twin")
  }

  test("the regime guard's full-rebuild fallback commits the SAME face as the partial carry path") {
    // fullRebuildFraction = 0 forces the fallback (any affected count
    // trips it); > 1 forces the carry path regardless of drift. Both
    // must commit the identical mixed-centroid face — the guard is a
    // cost decision, never a semantic one (round-15 VERDICT #2).
    val corpus = emb.filter(col("vec_id") % 9 =!= 8)
    def prepped(tag: String) = {
      val s = new KnnStore(
        spark,
        java.nio.file.Files.createTempDirectory(tag).toString,
        nProbe = 2, k = k)
        .deploy(corpus, centroidIds)
      s.foldBatch(emb.filter(col("vec_id") % 9 === 8), 0L)
      s
    }
    val viaFull = prepped("graft_knn_guard_f_")
    val viaPartial = prepped("graft_knn_guard_p_")
    val repl = Map(2L -> 19L, 5L -> 41L)
    viaFull.refreshCells(repl, fullRebuildFraction = 0.0)
    viaPartial.refreshCells(repl, fullRebuildFraction = 2.0)
    assert(edges(viaFull.directedEdges) == edges(viaPartial.directedEdges),
      "guarded fallback and forced-partial faces diverged")
  }
}
