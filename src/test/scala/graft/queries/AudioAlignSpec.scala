package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Audio-text alignment ([[PipelineQueries.audiotextAlign]]): the energy
  * feature is exactly gain-covariant (a non-clamping 2× gain scales
  * every segment energy by exactly 4), so the cosine alignment score is
  * gain-INVARIANT — the property that makes the filter robust to
  * re-encoded uploads; plus the modality-disjointness of the shared
  * projected space and the real-fixture readout. */
class AudioAlignSpec extends SparkSuite {

  import spark.implicits._

  private val mm = graft.multimodal.Multimodal

  /** Two real WAVs: small-amplitude samples and their exact 2× gain
    * (|v| ≤ 8191, so 2× never clamps). */
  private def gainPair() = {
    val pcm = Array.tabulate(96)(j =>
      (((j * 2654435761L) % 16383L) - 8191L).toShort)
    val doubled = pcm.map(v => (v * 2).toShort)
    Seq(
      mm.MediaItem(1L, mm.encodeWav(8000, pcm),
        mm.MediaMeta("audio", 0, 0, 12L, "wav")),
      mm.MediaItem(2L, mm.encodeWav(8000, doubled),
        mm.MediaMeta("audio", 0, 0, 12L, "wav")))
  }

  private def energies(items: Seq[mm.MediaItem]): Map[Long, Seq[Long]] =
    mm.segmentAudio(items.toDS(), PipelineQueries.AudioAlignSegments)
      .collect()
      .groupBy(_.mediaId)
      .map { case (id, segs) =>
        id -> segs.sortBy(_.segmentIdx).map(_.sumSq).toSeq
      }

  test("a non-clamping 2x gain scales every segment energy by exactly 4") {
    val e = energies(gainPair())
    assert(e(1L).size == PipelineQueries.AudioAlignSegments)
    assert(e(2L) == e(1L).map(_ * 4L),
      "energy must be exactly gain^2-covariant — that is what makes " +
        "the cosine score gain-invariant")
  }

  test("the alignment score is bit-identical under gain") {
    val e = energies(gainPair())
    val feat = Seq(
      (10L, e(1L).map(_.toDouble)),
      (20L, e(2L).map(_.toDouble))).toDF("doc_id", "ih")
    val tf = Seq(
      (10L, (1 to 16).map(_.toDouble)),
      (20L, (1 to 16).map(_.toDouble))).toDF("doc_id", "tf")
    val scores = PipelineQueries
      .alignScores(feat, tf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scores(10L) == scores(20L))
  }

  test("modalities are disjoint in the shared space: audio ids never collide with image ids") {
    val d = "/root/testdata/sf0.001"
    val audioIds = PipelineQueries.audioEnergyFrame(spark, d)
      .select("doc_id")
    val imageIds = PipelineQueries
      .imageFeatureFrame(mm.mediaFromDocuments(spark, d))
      .select("doc_id")
    assert(audioIds.join(imageIds, Seq("doc_id"), "left_semi").count() == 0L)
  }

  test("real fixture: every audio doc scores, micros bounded, both verdict columns sane") {
    val d = "/root/testdata/sf0.001"
    val v = PipelineQueries.audiotextAlign(spark, d).localCheckpoint(true)
    val nAudio = spark.read
      .parquet(s"$d/documents.parquet")
      .filter(col("doc_id") % 3 === 1)
      .select("doc_id")
      .join(
        spark.read.parquet(s"$d/embeddings.parquet")
          .select(col("vec_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      .count()
    assert(v.count() == nAudio,
      "every audio-kind document with an embedding must score exactly once")
    assert(v.filter(abs(col("align_micros")) > 1000000L).count() == 0L)
    assert(v.filter(col("keep") =!= (col("align_micros") >= 0L)).count() == 0L)
  }
}
