package graft

import graft.dedup.{SentenceTable, TableCommit}
import graft.similarity.{Ivf, KnnStore, PqStore}
import org.apache.spark.sql.functions._

/** Pins the on-disk directory layout of the four table-backed stores, so
  * a store deployed by an earlier build still reopens under this one.
  * Each store runs deploy → fold → retract → compact on a fixed input
  * (`parts = 4`); the directories under its base are listed relative to
  * it, with batch uuids and writer-id suffixes stripped and the
  * partition directories of one layer folded onto one line. The expected
  * listings were recorded from the build before the stores moved onto
  * the journal's table declarations. */
class StoreLayoutSpec extends SparkSuite {

  private lazy val docs = graft.queries.Tables
    .documents(spark, "/root/testdata/sf0.001")
  private lazy val corpus = docs.filter(col("doc_id") % 10 =!= 0)
  private lazy val batch = docs.filter(col("doc_id") % 10 === 0)
    .select(col("doc_id").as("id"), col("text"))
  private lazy val takedown =
    batch.filter(expr("(id div 10) % 2 = 0")).select("id")
  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val embCorpus = emb.filter(col("vec_id") % 9 =!= 8)
  private lazy val embBatch = emb.filter(col("vec_id") % 9 === 8)
    .select("vec_id", "embedding")
  private lazy val embTakedown =
    emb.filter(col("vec_id") % 10 === 3).select("vec_id")
  private val centroidIds = (0 until 8).map(_ * 37L)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Every directory under `base` but the lease, relative to it, sorted;
    * `b_<uuid>` reads `b_*`, a `.w<hex8>`/`.t<hex8>` suffix is dropped,
    * and a layer's `key=value` children fold onto the layer's line. */
  private def layout(base: String): String = {
    val root = java.nio.file.Paths.get(base)
    val walk = java.nio.file.Files.walk(root)
    val dirs =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => java.nio.file.Files.isDirectory(p) && p != root)
          .map(p => root.relativize(p).toString
            .replaceAll("b_[0-9a-f-]+", "b_*")
            .replaceAll("\\.[wt][0-9a-f]{8}(?=/|$)", ""))
          .filterNot(_.startsWith("_lease"))
          .toVector
      } finally walk.close()
    val (partDirs, layers) = dirs.partition(_.split('/').last.contains("="))
    val parts = partDirs.groupBy(d => d.substring(0, d.lastIndexOf('/')))
    layers.sorted.map { d =>
      parts.get(d).fold(d)(ps =>
        s"$d ${ps.map(_.split('/').last).sorted.mkString(",")}")
    }.mkString("\n")
  }

  test("TableCommit: deploy, fold, retract, compact keep the recorded layout") {
    val base = tmp("graft_layout_tc_")
    val s = new TableCommit(spark, base, 8, 4, 8, parts = 4)
      .deploy(corpus, "doc_id", "text")
    s.foldBatch(batch, 0L)
    s.retractBatch(takedown, 1L)
    s.compact()
    assert(layout(base) == StoreLayoutSpec.TableCommitLayout, layout(base))
  }

  test("SentenceTable: deploy, fold, retract, compact keep the recorded layout") {
    val base = tmp("graft_layout_st_")
    val s = new SentenceTable(spark, base, parts = 4)
      .deploy(corpus, "doc_id", "text")
    s.foldBatch(batch, 0L)
    s.retractBatch(takedown, 1L)
    s.compact()
    assert(layout(base) == StoreLayoutSpec.SentenceTableLayout, layout(base))
  }

  test("KnnStore: deploy, fold, retract, compact keep the recorded layout") {
    val base = tmp("graft_layout_knn_")
    val s = new KnnStore(spark, base, nProbe = 2, k = 4, parts = 4)
      .deploy(embCorpus, centroidIds)
    s.foldBatch(embBatch, 0L)
    s.retractBatch(embTakedown, 1L)
    s.compact()
    assert(layout(base) == StoreLayoutSpec.KnnStoreLayout, layout(base))
  }

  test("PqStore: deploy, fold, retract, compact keep the recorded layout") {
    val base = tmp("graft_layout_pq_")
    val (cb, codes) = Ivf.pqArtifacts(embCorpus, centroidIds, 64, 4, 2)
    val s = new PqStore(spark, base, 64, 4, parts = 4).deploy(codes, cb)
    s.foldBatch(embBatch, 0L)
    s.retractBatch(embTakedown, 1L)
    s.compact()
    assert(layout(base) == StoreLayoutSpec.PqStoreLayout, layout(base))
  }
}

object StoreLayoutSpec {
  val TableCommitLayout: String =
    """_batches
    |_batches/g0
    |_gens
    |bands
    |bands/corpus-g0
    |bands/corpus-g1
    |bands/delta-g0
    |bands/delta-g0/b_*
    |docs
    |docs/corpus-g0 part=0,part=1,part=2,part=3
    |docs/corpus-g1 part=0,part=1,part=2,part=3
    |docs/delta-g0
    |docs/delta-g0/b_*
    |fp
    |fp/corpus-g0 part=0,part=1,part=2,part=3
    |fp/corpus-g1 part=0,part=1,part=2,part=3
    |fp/delta-g0
    |fp/delta-g0/b_*
    |fp/delta-g0/b_*
    |ledger
    |ledger/corpus-g1 part=0,part=1,part=2,part=3
    |ledger/delta-g0
    |ledger/delta-g0/b_*
    |meta
    |ngramdf
    |ngramdf/corpus-g0
    |ngramdf/corpus-g1
    |ngramdf/delta-g0
    |ngramdf/delta-g0/b_*
    |ngramdf/delta-g0/b_*
    |postings
    |postings/corpus-g0
    |postings/corpus-g1
    |postings/delta-g0
    |postings/delta-g0/b_*
    |sets
    |sets/corpus-g0
    |sets/corpus-g1
    |sets/delta-g0
    |sets/delta-g0/b_*
    |simhash
    |simhash/corpus-g0
    |simhash/corpus-g1
    |simhash/delta-g0
    |simhash/delta-g0/b_*
    |span
    |span/corpus-g0 part=0,part=1,part=2,part=3
    |span/corpus-g1 part=0,part=1,part=2,part=3
    |span/delta-g0
    |span/delta-g0/b_*
    |span/delta-g0/b_*
    |span0 part=0,part=1,part=2,part=3
    |tomb
    |tomb/corpus-g1
    |tomb/delta-g0
    |tomb/delta-g0/b_*""".stripMargin
  val SentenceTableLayout: String =
    """_batches
    |_batches/g0
    |_gens
    |docs
    |docs/corpus-g0 part=0,part=1,part=2,part=3
    |docs/corpus-g1 part=0,part=1,part=2,part=3
    |docs/delta-g0
    |docs/delta-g0/b_*
    |meta
    |sh
    |sh/corpus-g0 part=0,part=1,part=2,part=3
    |sh/corpus-g1 part=0,part=1,part=2,part=3
    |sh/delta-g0
    |sh/delta-g0/b_*
    |sh/delta-g0/b_*
    |tomb
    |tomb/corpus-g1
    |tomb/delta-g0
    |tomb/delta-g0/b_*""".stripMargin
  val KnnStoreLayout: String =
    """_batches
    |_batches/g0
    |_gens
    |asg
    |asg/corpus-g0 cell=0,cell=1,cell=2,cell=3,cell=4,cell=5,cell=6,cell=7
    |asg/corpus-g1 cell=0,cell=1,cell=2,cell=3,cell=4,cell=5,cell=6,cell=7
    |asg/delta-g0
    |asg/delta-g0/b_*
    |cent
    |cent/corpus-g0
    |cent/corpus-g1
    |edges
    |edges/corpus-g0 part=0,part=1,part=2,part=3
    |edges/corpus-g1 part=0,part=1,part=2,part=3
    |edges/delta-g0
    |edges/delta-g0/b_*
    |edges/delta-g0/b_*
    |meta
    |probes
    |probes/corpus-g0 cell=0,cell=1,cell=2,cell=3,cell=4,cell=5,cell=6,cell=7
    |probes/corpus-g1 cell=0,cell=1,cell=2,cell=3,cell=4,cell=5,cell=6,cell=7
    |probes/delta-g0
    |probes/delta-g0/b_*
    |tomb
    |tomb/corpus-g1
    |tomb/delta-g0
    |tomb/delta-g0/b_*""".stripMargin
  val PqStoreLayout: String =
    """_batches
    |_batches/g0
    |_gens
    |cb
    |cb/corpus-g0
    |cb/corpus-g1
    |codes
    |codes/corpus-g0 part=0,part=1,part=2,part=3
    |codes/corpus-g1 part=0,part=1,part=2,part=3
    |codes/delta-g0
    |codes/delta-g0/b_*
    |meta
    |tomb
    |tomb/corpus-g1
    |tomb/delta-g0
    |tomb/delta-g0/b_*""".stripMargin
}
