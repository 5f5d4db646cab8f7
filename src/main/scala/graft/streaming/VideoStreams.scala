package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming video operators (SURVEY §2.E9d): continuous
  * perceptual-hash VIDEO near-dup admission over a media stream — the
  * fourth member of the persistent-index streaming-dedup family (E9
  * exact digests, E9b embedding cosine, E9c image dHash).
  *
  * The whole post-signature machinery — Hamming-1 band-index probe,
  * partition-pruned history read, exact-verify survivor rule,
  * exactly-once replay ([[Replay]]) — is
  * [[ImageStreams.applyHashedBatch]], shared verbatim:
  * the only video-specific code is the front-end that turns an AVI
  * byte column into the 128-bit per-clip signature
  * ([[graft.ops.Video.videoHashFrameOf]]: container parse, sampled
  * DIB/MJPEG frame decode, per-frame dHash, strict-majority fold).
  * Lossy (MJPEG) arrivals participate, exactly as jpeg images do in
  * E9c — a transcoded twin of an admitted master must be dropped.
  *
  * The survivor rule is the SAME code path the batch oracle pins
  * (`dedup_video_incremental` → [[graft.ops.Multimodal
  * .newImagesAgainstHistory]]), so batch and stream cannot drift.
  * At 100 TB the index holds 8 rows of 16-byte signature + band per
  * admitted clip; frame bytes stay in their arrival batch's tasks and
  * are never re-decoded.
  */
object VideoStreams {

  /** E9d: continuous video near-dup against the persistent band
    * index. Source rows: (media_id LONG, media BINARY) — an AVI per
    * row, both codecs.
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
    val hashed = graft.ops.Video.videoHashFrameOf(batch, includeLossy = true)
    ImageStreams.applyHashedBatch(spark, hashed, batchId, outDir, indexDir,
      maxHamming)
  }
}
