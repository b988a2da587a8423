package graft.prep

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.chunk.Chunker
import graft.model.{Chunk, ProcessedSegment}

/** The corpus-scale path: a 100 TB transcript corpus is millions of
  * transcripts, each individually small — so the unit of parallelism is
  * the TRANSCRIPT, and every order-dependent fold (merge, interval,
  * greedy chunking) runs independently per transcript key.
  *
  * Implementation is the secondary-sort pattern: one hash repartition on
  * the transcript id, a partition-local sort by (id, rowIdx), then a
  * single `mapPartitions` that walks the sorted stream and applies the
  * SAME local folds the single-transcript path uses — zero extra
  * shuffles, no global ordering anywhere, embarrassingly parallel across
  * executors. Skewed giant transcripts are bounded by transcript length
  * (hours of audio ≈ thousands of rows), not corpus size, so no salting
  * is needed.
  */
object PerTranscript {

  case class KeyedSegment(
      transcriptId: Long,
      segment: ProcessedSegment
  )

  case class KeyedChunk(
      transcriptId: Long,
      chunk: Chunk
  )

  /** Merge + (optional) interval aggregation + greedy chunking, per
    * transcript, in one pass over one shuffle. */
  def preprocessAndChunk(
      spark: SparkSession,
      segments: Dataset[KeyedSegment],
      prep: Preprocess.PrepConfig = Preprocess.PrepConfig(),
      chunk: Chunker.ChunkConfig = Chunker.ChunkConfig()
  ): Dataset[KeyedChunk] = {
    import spark.implicits._
    segments
      .repartition(col("transcriptId"))
      .sortWithinPartitions(col("transcriptId"), col("segment.rowIdx"))
      .mapPartitions { (it: Iterator[KeyedSegment]) =>
        // Walk the sorted stream, cutting at transcript boundaries; each
        // group is one transcript, processed with the exact single-
        // transcript folds.
        val in = it.buffered
        val groups: Iterator[Seq[KeyedChunk]] =
          new Iterator[Seq[KeyedChunk]] {
            override def hasNext: Boolean = in.hasNext
            override def next(): Seq[KeyedChunk] = {
              val tid = in.head.transcriptId
              val group =
                scala.collection.mutable.ArrayBuffer.empty[ProcessedSegment]
              while (in.hasNext && in.head.transcriptId == tid)
                group += in.next().segment
              Chunker.chunkLocal(Preprocess.foldLocal(group.toSeq, prep), chunk)
                .map(c => KeyedChunk(tid, c))
            }
          }
        groups.flatten
      }
  }
}
