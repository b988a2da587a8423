package graft.model

/** Row shapes of the pipeline, mirroring the reference's four dynamic dict
  * schemas (see /root/reference/preprocessor.py:36-54,
  * big_chunkeroosky.py:70-77, llm_executor.py:182-230). The reference
  * accretes optional dict keys; here they are fixed nullable/Option fields so
  * every stage has a stable Spark schema and Encoder.
  */

/** Input unit — contract of the `{"segments": [...]}` transcript JSON
  * (/root/reference/README.md:162-175). */
case class RawSegment(
    start: Double,
    end: Double,
    text: String,
    speaker: String
)

/** One transcript file of the contract: its segments in file order. */
case class Transcript(segments: Seq[RawSegment])

/** One `{start,end,text}` (plus optional speaker) element of a combined
  * segment's provenance list (/root/reference/preprocessor.py:203-213). */
case class SegmentTimestamp(
    start: Double,
    end: Double,
    text: String,
    speaker: Option[String]
)

/** After preprocessing (/root/reference/preprocessor.py:44-54, :203-213,
  * :303-319). `rowIdx` is the engine's explicit ordering key — the reference
  * relies on Python list order, which has no distributed equivalent. */
case class ProcessedSegment(
    start: Double,
    end: Double,
    text: String,
    speaker: String,
    startFormatted: String,
    endFormatted: String,
    rowIdx: Long,
    isCombined: Boolean = false,
    originalSegments: Int = 1,
    isAggregated: Boolean = false,
    intervalIndex: Option[Int] = None,
    segmentTimestamps: Seq[SegmentTimestamp] = Seq.empty
)

/** After chunking (/root/reference/big_chunkeroosky.py:70-77, :164-195). */
case class Chunk(
    segments: Seq[SegmentTimestamp],
    text: String,
    tokenCount: Int,
    startTime: Double,
    endTime: Double,
    speakers: Seq[String],
    chunkIndex: Int,
    totalChunks: Int,
    positionPercentage: Double,
    textWithContext: String
)

/** After the LLM map (/root/reference/llm_executor.py:182-230). */
case class ProcessedChunk(
    chunkIndex: Int,
    startTime: Double,
    endTime: Double,
    text: String,
    textWithContext: String,
    tokenCount: Int,
    speakers: Seq[String],
    totalChunks: Int,
    positionPercentage: Double,
    summary: String,
    tokensUsed: Int,
    cost: Double,
    error: Option[String]
)

/** One transcript through preprocess, chunk and map: the reduce's
  * metadata (segment count after the limit, duration and distinct
  * speakers of the preprocessed rows) and the mapped chunks in
  * `chunkIndex` order. */
case class MappedTranscript(
    segments: Long,
    durationSec: Double,
    speakers: Seq[String],
    chunks: Seq[ProcessedChunk]
)

/** Final result (/root/reference/main.py:248-257). */
case class SummaryResult(
    summary: String,
    processingTimeSec: Double,
    tokensUsed: Long,
    cost: Double,
    segments: Long,
    chunks: Long,
    provider: String,
    model: String
)
