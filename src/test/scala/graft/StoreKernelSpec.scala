package graft

import graft.StoreJournal.{Layout, Table}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The store kernel's laws, run once against [[StoreJournal]] over a
  * minimal two-table store (`rows` by `part`, `tomb` in one file) with
  * no corpus deploy: a crash at each point of [[StoreJournal.commitGeneration]]
  * reopens to the old generation before the marker and to the new one
  * after it; the GC keeps exactly one superseded generation; a
  * committed delivery id is skipped on replay, across compaction and
  * reopen, while a crashed one retries; reopen refuses a mismatched
  * geometry and a deploy that never committed. */
class StoreKernelSpec extends SparkSuite {
  import spark.implicits._

  private val tables = Seq(
    Table("rows", new StructType().add("k", LongType).add("v", LongType)
      .add("part", IntegerType), Layout.ByPart(2)),
    Table("tomb", new StructType().add("k", LongType), Layout.OneFile))
  private val geometry = Seq("parts" -> 2)

  private def open(base: String) =
    new StoreJournal(spark, base, tables = tables)
  private def reopen(base: String, g: Seq[(String, Any)] = geometry) = {
    val j = open(base)
    j.reopen("KernelStore", g)
    j
  }

  private def rows(ks: Range, v: Long): DataFrame =
    ks.map(k => (k.toLong, v, k % 2)).toDF("k", "v", "part")

  /** The committed face: stored rows minus the tombstoned keys. */
  private def face(j: StoreJournal): Set[(Long, Long)] =
    j.readAll("rows").join(j.tomb, Seq("k"), "left_anti")
      .select("k", "v").as[(Long, Long)].collect().toSet

  /** What a store's fold does: skip a seen delivery id, else commit. */
  private def fold(j: StoreJournal, id: Long, df: DataFrame): Unit =
    if (!j.seen("fold", id)) j.commitBatch("fold", id, Seq("rows" -> df))

  /** Deploy k 0..5, fold k 6..7 (delivery 1), tombstone k 0 (delivery 2). */
  private def deployed(): (String, StoreJournal) = {
    val base = java.nio.file.Files.createTempDirectory("graft_kernel_").toString
    val j = open(base)
    j.commitDeploy(geometry, Seq("rows" -> rows(0 until 6, 0L)))
    fold(j, 1L, rows(6 until 8, 0L))
    j.commitBatch("retract", 2L, Seq("tomb" -> Seq(0L).toDF("k")))
    (base, j)
  }

  /** A generation whose rows differ from the current one's (v = gen),
    * so the face tells the generations apart; the tombstones carry
    * forward by the kernel's default. */
  private def swap(j: StoreJournal): Unit =
    j.commitGeneration("compact", Map("rows" ->
      j.readAll("rows").join(j.tomb, Seq("k"), "left_anti")
        .select(col("k"), lit(j.gen + 1L).as("v"), col("part"))), 0L)

  private def layers(base: String, t: String): Set[String] =
    Option(new java.io.File(s"$base/$t").list()).toSeq.flatten
      .filter(_.startsWith("corpus-g")).toSet

  test("a crash at each generation-commit point reopens to one complete generation") {
    for (point <- Seq("compact-before-publish", "compact-before-marker",
        "compact-after-marker")) {
      val (base, j) = deployed()
      val old = face(j)
      assert(old == (1L until 8L).map(k => (k, 0L)).toSet)
      j.crashAt = Some(point)
      intercept[IllegalStateException](swap(j))
      val r = reopen(base)
      if (point == "compact-after-marker") {
        assert(r.gen == 1, point)
        assert(face(r) == old.map { case (k, _) => (k, 1L) }, point)
      } else {
        assert(r.gen == 0, point)
        assert(face(r) == old, point)
      }
      // The reopened store swaps cleanly on top of either outcome.
      swap(r)
      assert(face(r).map(_._1) == old.map(_._1), point)
    }
  }

  test("the generation GC keeps exactly one superseded generation") {
    val (base, j) = deployed()
    val expected = Seq(Set("corpus-g0", "corpus-g1"),
      Set("corpus-g1", "corpus-g2"), Set("corpus-g2", "corpus-g3"))
    for (want <- expected) {
      swap(j)
      assert(layers(base, "rows") == want)
    }
    // The retained predecessor is addressable; an aged-out one is not.
    assert(j.readAt("rows", 2).select("v").distinct().as[Long].collect()
      .toSeq == Seq(2L))
    assert(intercept[IllegalArgumentException](
      j.requireRetained("KernelStore.rowsAt", "rows", 1))
      .getMessage.contains("not retained"))
    // vacuum takes the retained generation too.
    assert(j.vacuum() > 0L)
    assert(layers(base, "rows") == Set("corpus-g3"))
    assert(face(j).map(_._2) == Set(3L))
  }

  test("a committed delivery id is skipped on replay; a crashed one retries") {
    val (base, j) = deployed()
    val before = face(j)
    fold(j, 1L, rows(100 until 101, 0L)) // replay of delivery 1: skipped
    assert(face(j) == before)
    j.crashAt = Some("fold-before-marker")
    intercept[IllegalStateException](fold(j, 3L, rows(8 until 9, 0L)))
    j.crashAt = None
    assert(!j.seen("fold", 3L), "a crashed delivery's id must retry")
    swap(j)
    val r = reopen(base)
    assert(r.seen("fold", 1L) && r.seen("retract", 2L),
      "seen ids survive compaction and reopen")
    fold(r, 1L, rows(200 until 201, 0L))
    assert(face(r).map(_._1) == before.map(_._1))
    fold(r, 3L, rows(8 until 9, 0L))
    assert(face(r).map(_._1) == before.map(_._1) + 8L)
  }

  test("reopen refuses a mismatched geometry and a deploy that never committed") {
    val (base, _) = deployed()
    val e = intercept[IllegalArgumentException](
      reopen(base, Seq("parts" -> 3)))
    assert(e.getMessage.contains("stored geometry (parts=2) != requested " +
      "(parts=3)"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$base/_gens"))
    assert(intercept[IllegalArgumentException](reopen(base))
      .getMessage.contains("no committed generation"))
    val empty =
      java.nio.file.Files.createTempDirectory("graft_kernel_none_").toString
    assert(intercept[IllegalArgumentException](reopen(empty))
      .getMessage.contains("no store at"))
  }
}
