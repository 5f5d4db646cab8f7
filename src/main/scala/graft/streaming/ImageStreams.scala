package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming multimodal operators (SURVEY §2.E9c): continuous
  * perceptual-hash IMAGE near-dup admission over a media stream — the
  * multimodal member of the persistent-index streaming-dedup family
  * (E9 exact digests, E9b embedding cosine).
  */
object ImageStreams {

  /** E9c: continuous image near-dup against a PERSISTENT dHash band
    * index — the streaming twin of `dedup_image_incremental` (D12e):
    * each micro-batch's images are decoded + thumbnail-normalized +
    * dHashed row-locally (the `dedup_image_all` hashing form, so
    * lossy arrivals participate), the hashes flip-mask-probe the
    * on-disk band index (the history is banded ONCE, at admission —
    * pixels are never re-decoded, the index never rescanned),
    * candidates are exact-Hamming verified, and only history-clean,
    * within-batch-surviving images are admitted: appended to the
    * output and the band index.
    *
    * The survivor rule is
    * [[graft.ops.Multimodal.newImagesAgainstHistory]] — the SAME code
    * path the batch oracle pins, so batch and stream cannot drift.
    *
    * Exactly-once replay and the index/checkpoint lifetime contract:
    * [[Replay]]. The layout follows [[EmbedStreams.dedupStream]]:
    * `indexDir/hashes` sub-partitions by (band, bgrp) — `bgrp` the
    * top [[BandGroupBits]] bits of the 8-bit band value — so each
    * batch's probe READS only the partitions its Hamming-1 ball can
    * touch instead of the whole ever-growing history
    * ([[probedGroups]]). At 100 TB the index is 8 rows of 16-byte
    * hash + band per admitted image; pixels stay in their arrival
    * batch's tasks.
    */
  def dedupStream(spark: SparkSession, mediaDir: String, outDir: String,
      indexDir: String, checkpointDir: String,
      maxHamming: Int = 10,
      mediaSchema: Option[StructType] = None): StreamingQuery =
    Replay.tail(spark, mediaDir, mediaSchema, checkpointDir) { (batch, batchId) =>
      applyBatch(spark, batch, batchId, outDir, indexDir, maxHamming)
    }

  /** Bucket-group dial for the hashes-index layout: partitions on
    * (band, bgrp) where `bgrp` is the TOP `BandGroupBits` bits of the
    * 8-bit band value (16 groups per band, 8 bands → 128 partitions
    * per ingest batch, the E9b geometry). Why the top bits: a
    * Hamming-1 probe flips ONE of the 8 band bits, so it leaves its
    * base group only when the flipped bit is one of the top 4 — a
    * hash probes at most 1 + BandGroupBits of a band's 16 groups.
    */
  private[streaming] val BandGroupBits = 4

  private def bandGroup(bhash: Column): Column =
    shiftrightunsigned(bhash, 8 - BandGroupBits)

  /** The (band, bgrp) partitions the batch's Hamming-1 probe ball can
    * touch — the partition-prune set for the hashes-index read.
    * Bounded driver work by construction: the collect is over
    * distinct (band, group) pairs (≤ 8 · 2^BandGroupBits rows), and
    * the group offsets come from the SAME single-bit masks
    * [[graft.ops.Multimodal.probeRowsOf]] uses (mask >> 4 ∈
    * {0, 1, 2, 4, 8}), so the pruned read can never drop a
    * probe-able row.
    */
  private[streaming] def probedGroups(hashed: DataFrame): Seq[(Int, Long)] = {
    val base = graft.ops.Multimodal.bandRowsOf(
        hashed.select("dhash_hi", "dhash_lo").distinct())
      .select(col("band"), bandGroup(col("bhash")).as("g")).distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val maskGroups = Seq(0L, 1L, 2L, 4L, 8L) // {0,1,2,4,8,16,32,64,128} >> 4
    base.flatMap { case (b, g) => maskGroups.map(m => (b, g ^ m)) }
      .distinct.toSeq
  }

  /** The partition-pruned history-band read (empty before the first
    * committed batch) — one seam so the growth spec can assert actual
    * file pruning on the exact plan the stream runs. Restricting the
    * read to the batch's probed (band, bgrp) partitions is
    * answer-identical (a band row outside the probe ball cannot join)
    * and keeps the per-batch index read O(partitions the batch
    * probes) instead of O(history).
    */
  private[streaming] def historyBandsRead(spark: SparkSession,
      hashesDir: String, batchId: Long, hashed: DataFrame): DataFrame =
    Replay.history(spark, hashesDir, batchId).fold(
      hashed.select(col("dhash_hi"), col("dhash_lo"),
        lit(0).as("band"), lit(0L).as("bhash")).limit(0)) { h =>
      val cond = probedGroups(hashed).groupBy(_._1).map { case (b, pairs) =>
        col("band") === b && col("bgrp").isin(pairs.map(_._2): _*)
      }.reduceOption(_ || _).getOrElse(lit(false))
      h.filter(cond)
        .select(col("dhash_hi"), col("dhash_lo"), col("band"), col("bhash"))
    }

  private[streaming] def applyBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, outDir: String, indexDir: String,
      maxHamming: Int = 10): Unit = {
    val hashed = graft.ops.Multimodal.hashFrameOf(
        batch.withColumn("format",
          graft.ops.Multimodal.sniffFormat(col("media"))),
        includeLossy = true)
    applyHashedBatch(spark, hashed, batchId, outDir, indexDir, maxHamming)
  }

  /** The hash-GENERIC admission core: everything downstream of the
    * 128-bit signature — band-index probe, exact-Hamming survivor
    * rule, [[Replay]] index/output appends — is front-end
    * independent (the same property [[graft.ops.Multimodal
    * .newImagesAgainstHistory]] gives the batch family). Image (E9c)
    * and video (E9d, [[VideoStreams]]) streams differ ONLY in the
    * `hashed` producer handed in here.
    */
  private[streaming] def applyHashedBatch(spark: SparkSession,
      hashed0: DataFrame, batchId: Long, outDir: String, indexDir: String,
      maxHamming: Int = 10): Unit = graft.Caches.scoped(spark) {
    val hashesDir = s"$indexDir/hashes"
    val hashed = hashed0
      .transform(graft.Lineage.cut) // probedGroups collect + survivor rule
    val admitted = graft.ops.Multimodal.newImagesAgainstHistory(hashed,
        historyBandsRead(spark, hashesDir, batchId, hashed), maxHamming)
      .withColumn("ingest_batch", lit(batchId))
      .transform(graft.Lineage.cut) // 2 sinks below; also self-overwrite
    // project media_id away: the history read only ever consumes
    // (dhash_hi, dhash_lo, band, bhash) — 8 hash+band rows per
    // admitted image, nothing else (review finding: carrying the id
    // bloated the index ~a third for a column every read dropped)
    Replay.append(graft.ops.Multimodal.bandRowsOf(
        admitted.select("dhash_hi", "dhash_lo", "ingest_batch"))
      .withColumn("bgrp", bandGroup(col("bhash"))), hashesDir, "band", "bgrp")
    Replay.append(admitted, outDir)
  }
}
