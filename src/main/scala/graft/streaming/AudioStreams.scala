package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming audio operators (SURVEY §2.E9e): continuous
  * envelope-dHash AUDIO near-dup admission over a media stream — the
  * last member of the persistent-index streaming-dedup family (E9
  * exact digests, E9b embedding cosine, E9c image dHash, E9d video),
  * completing the multimodal × streaming × dedup grid.
  *
  * Everything after the 128-bit signature is
  * [[ImageStreams.applyHashedBatch]] — band-index probe with
  * partition-pruned reads, exact-Hamming survivor rule, [[Replay]]
  * protocol — shared verbatim; the only audio-specific code is the
  * front-end ([[graft.ops.Multimodal.audioHashFrameOf]]: RIFF parse,
  * per-window peak envelope, dHash over the envelope). Non-conforming
  * clips (stereo, 8/24-bit, truncated RIFF) are row-locally SKIPPED
  * by the front-end and therefore ADMITTED unconditionally here would
  * be wrong — they simply never enter the hash/admission path, the
  * batch family's posture (an unhashable clip cannot be a near-dup
  * under this fingerprint; a deployment routes it to a byte-digest
  * dedup instead).
  *
  * The survivor rule is the code path the batch oracle pins
  * (`dedup_audio_incremental` → `newImagesAgainstHistory`), so batch
  * and stream cannot drift. At 100 TB the index holds 8 rows of
  * 16-byte signature + band per admitted clip; PCM stays in its
  * arrival batch's tasks and is never re-decoded.
  */
object AudioStreams {

  /** E9e: continuous audio near-dup against the persistent band
    * index. Source rows: (media_id LONG, media BINARY) — one RIFF/WAV
    * payload per row.
    */
  def dedupStream(spark: SparkSession, mediaDir: String, outDir: String,
      indexDir: String, checkpointDir: String,
      maxHamming: Int = 10,
      mediaSchema: Option[StructType] = None): StreamingQuery =
    Replay.tail(spark, mediaDir, mediaSchema, checkpointDir) { (batch, batchId) =>
      applyBatch(spark, batch, batchId, outDir, indexDir, maxHamming)
    }

  private[streaming] def applyBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, outDir: String, indexDir: String,
      maxHamming: Int = 10): Unit = {
    val hashed = graft.ops.Multimodal.audioHashFrameOf(
      batch.withColumn("format", graft.ops.Multimodal.sniffFormat(col("media"))))
    ImageStreams.applyHashedBatch(spark, hashed, batchId, outDir, indexDir,
      maxHamming)
  }
}
