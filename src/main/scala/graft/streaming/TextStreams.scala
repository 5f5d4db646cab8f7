package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming text-analytics operators (SURVEY §2.E) over a document
  * stream with a `text` column.
  */
object TextStreams {

  /** E9: continuous exact dedup against a PERSISTENT digest index —
    * the streaming twin of `dedup_incremental` (D1b), and the shape a
    * continuously-fed corpus needs: E3's
    * `dropDuplicatesWithinWatermark` bounds its state by TIME, but
    * corpus dedup must remember every digest ever admitted, so the
    * index lives as a parquet table that each micro-batch anti-joins
    * and appends to — state store holds NOTHING (the history is the
    * table), and at 100 TB the D1c Bloom prefilter broadcast slots in
    * front of the same anti-join unchanged. The table is laid out by
    * (ingest_batch, kgrp — digest-prefix group), so the per-batch
    * history read partition-prunes to the batch's own prefix groups
    * instead of scanning the ever-growing index (see [[kgrp]]).
    * Exactly-once replay and the checkpoint/index lifetime contract:
    * [[Replay]]. The survivor rule itself is
    * [[graft.ops.Dedup.newAgainstHistory]] — the SAME code path the
    * batch oracle pins.
    *
    * `bloomBits`: when set, each micro-batch probes a broadcast Bloom
    * filter of the history digests BEFORE the exact anti-join
    * ([[graft.ops.Dedup.newAgainstHistoryBloom]] — the D1c batch core,
    * shared code, so the survivor set is byte-identical with the
    * filter on or off). This is the 100 TB shape: the index table is
    * unbroadcastable as keys (~37 GB/10⁹ md5s) but its Bloom summary
    * (~1.2 GB at 1% FP) broadcasts, so a mostly-novel batch becomes a
    * narrow map-side scan and only the maybe slice shuffles into the
    * anti-join. Size as m ≈ −n·ln(p)/(ln 2)²; at real scale a
    * deployment maintains the filter incrementally (BloomBuildAgg
    * buffers are mergeable) instead of re-aggregating the index per
    * batch as this per-batch build does.
    */
  def dedupStream(spark: SparkSession, docsDir: String, outDir: String,
      indexDir: String, checkpointDir: String,
      bloomBits: Option[Int] = None, bloomHashes: Int = 4): StreamingQuery =
    Replay.tail(spark, docsDir, None, checkpointDir) { (batch, batchId) =>
      applyBatch(spark, batch, batchId, outDir, indexDir, bloomBits, bloomHashes)
    }

  /** Digest-prefix groups for the index layout: `kgrp` = the first
    * hex character of the md5 (16 groups, uniform by construction).
    * The anti-join matches EQUAL digests only, so restricting the
    * history read to the batch's own prefix groups is
    * answer-identical, and the prune set is a bounded driver collect
    * (distinct groups, ≤ 16 rows) — a trickle batch reads a sliver
    * of the ever-growing index; a huge batch degrades to the full
    * scan it genuinely needs (where the Bloom prefilter takes over).
    */
  private def kgrp(key: Column): Column = substring(key, 1, 1)

  /** The partition-pruned history-digest read (empty before the first
    * committed batch) — one seam so the growth spec can assert actual
    * file pruning on the exact plan the stream runs.
    */
  private[streaming] def historyRead(spark: SparkSession, indexDir: String,
      batchId: Long, keyed: DataFrame): DataFrame =
    prunedHistory(spark, indexDir, batchId, keyed, "tkey")

  /** [[Replay.history]] restricted to `frame`'s own digest-prefix
    * groups (column `key`), projected to `key`.
    */
  private def prunedHistory(spark: SparkSession, indexDir: String,
      batchId: Long, frame: DataFrame, key: String): DataFrame =
    Replay.history(spark, indexDir, batchId).fold(frame.select(key).limit(0)) { h =>
      val groups = frame.select(kgrp(col(key)).as("g")).distinct()
        .collect().map(_.getString(0)).toSeq
      h.filter(col("kgrp").isin(groups: _*)) // partition-pruned probe
        .select(key)
    }

  private[streaming] def applyBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, outDir: String, indexDir: String,
      bloomBits: Option[Int] = None, bloomHashes: Int = 4): Unit = graft.Caches.scoped(spark) {
    val keyed = batch.withColumn("tkey", md5(col("text").cast("binary")))
    val hist = historyRead(spark, indexDir, batchId, keyed)
    // materialize BEFORE writing: the index write below overwrites a
    // path this plan reads (self-overwrite), and a lazy plan would
    // also recompute the anti-join per sink
    val kept = survivors(keyed, hist, bloomBits, bloomHashes)
      .withColumn("ingest_batch", lit(batchId))
      .transform(graft.Lineage.cut)
    Replay.append(kept.select("tkey", "ingest_batch")
      .withColumn("kgrp", kgrp(col("tkey"))), indexDir, "kgrp")
    Replay.append(kept, outDir)
  }

  /** The per-batch survivor frame — one seam so the spec can assert
    * both the plan shape (broadcast Bloom probe present when enabled)
    * and on/off survivor equality. Dispatches to the SAME two batch
    * cores the batch oracles pin.
    */
  private[streaming] def survivors(keyed: DataFrame, hist: DataFrame,
      bloomBits: Option[Int], bloomHashes: Int): DataFrame =
    bloomBits match {
      case Some(bits) =>
        graft.ops.Dedup.newAgainstHistoryBloom(keyed, hist, bits, bloomHashes)
      case None =>
        graft.ops.Dedup.newAgainstHistory(keyed, hist)
    }

  /** E10: continuous C4 cleaning against a PERSISTENT span index —
    * the streaming twin of `text_c4_clean_incremental` (D29c), and
    * the shape a continuously-crawled corpus needs: the corpus-wide
    * three-sentence-span dedup must remember every span ever seen, so
    * the index lives as a parquet table of distinct span digests
    * (16 bytes/span — page text never rescanned) that each
    * micro-batch probes and appends to. Arriving pages run the same
    * row-local line/page rules as the batch cleaner; a batch span
    * already in history drops all its occurrences (its first
    * occurrence was kept when first seen), history-clean spans keep
    * their first in-batch occurrence. Cleaning rule IS
    * [[graft.ops.TextOps.cleanCore]] — the code path the D29c oracle
    * pins.
    *
    * Index layout follows [[dedupStream]] (E9): the index partitions
    * on (ingest_batch, kgrp — digest prefix) and the per-batch read
    * prunes to the batch's own prefix groups ([[c4HistoryRead]]).
    * Replay protocol: [[Replay]].
    */
  def c4CleanStream(spark: SparkSession, pagesDir: String, outDir: String,
      indexDir: String, checkpointDir: String, minWords: Int = 3,
      minLines: Int = 3): StreamingQuery =
    Replay.tail(spark, pagesDir, None, checkpointDir) { (batch, batchId) =>
      c4ApplyBatch(spark, batch, batchId, outDir, indexDir, minWords, minLines)
    }

  /** The kgrp-pruned history-span read (the [[historyRead]] pattern on
    * the span-digest index).
    */
  private[streaming] def c4HistoryRead(spark: SparkSession, indexDir: String,
      batchId: Long, spans: DataFrame): DataFrame =
    prunedHistory(spark, indexDir, batchId, spans, "h")

  private[streaming] def c4ApplyBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, outDir: String, indexDir: String,
      minWords: Int = 3, minLines: Int = 3): Unit = graft.Caches.scoped(spark) {
    val surv = graft.ops.TextOps.c4Surv(batch, minWords, minLines)
    val spans = graft.ops.TextOps.c4Spans(surv)
    // cut: consumed three times per batch (cleanCore's semi + anti
    // joins and the index-write anti-join) — without materialization
    // each re-scans the ever-growing index's pruned partitions
    // (review finding)
    val hist = c4HistoryRead(spark, indexDir, batchId, spans)
      .transform(graft.Lineage.cut)
    val cleaned = graft.ops.TextOps.cleanCore(surv, spans, hist)
      .withColumn("ingest_batch", lit(batchId))
      .transform(graft.Lineage.cut) // self-overwrite + two sinks
    // index append: the batch's NEW distinct span digests (replay
    // overwrites exactly its own partitions)
    Replay.append(spans.select("h").distinct()
      .join(hist.select("h").distinct(), Seq("h"), "left_anti")
      .withColumn("ingest_batch", lit(batchId))
      .withColumn("kgrp", kgrp(col("h"))), indexDir, "kgrp")
    Replay.append(cleaned, outDir)
  }

  /** E11: streaming quality gate — score every arriving micro-batch
    * with the GPT-3-style NB quality classifier FROZEN on a history
    * corpus before the stream starts (the deployment shape of D50b:
    * train the filter once on curated-vs-crawl labels, gate the
    * continuous crawl with it forever after). The model is two static
    * frames ([[graft.ops.TextOps.nbModel]] — the per-token count table
    * cached once, the totals/priors a one-row broadcast), so unlike
    * the four persistent-index streams this one is STATELESS per
    * batch: no index, no watermark, nothing in the state store, and
    * replay idempotence comes from [[Replay.append]] alone. Scores
    * are identical to the batch twin (textNbQualityHeldout) by
    * construction — the stream calls the same
    * nbProj/nbModel/nbScoreBatch seams, which also means the
    * micro-batch path inherits the Collapse exact-dup scoring (a
    * dup-heavy crawl batch scores each unique text once).
    *
    * Output: every scored doc with its `nb_score` and `keep` verdict
    * (auditable gate — downstream filters on `keep`), partitioned by
    * `ingest_batch`.
    */
  def qualityGateStream(spark: SparkSession, histDir: String,
      docsDir: String, outDir: String, checkpointDir: String,
      curated: Seq[String] = graft.ops.TextOps.CuratedSources,
      docsSchema: Option[StructType] = None): StreamingQuery = {
    val (uni, totals) = graft.ops.TextOps.nbModel(
      graft.ops.TextOps.nbProj(spark.read.parquet(histDir), curated))
    // materialize the frozen model ONCE, before the first micro-batch
    // (uni is cached; an unmaterialized cache would re-train per batch)
    uni.count()
    // an always-on gate may start before the source dir has any files:
    // docsSchema skips the inference read (see Replay.tail)
    Replay.tail(spark, docsDir, docsSchema, checkpointDir) { (batch, batchId) =>
      qualityApplyBatch(spark, batch, batchId, outDir, uni, totals, curated)
    }
  }

  /** One quality-gate micro-batch: score with the frozen model
    * (`uni`, `totals` from [[graft.ops.TextOps.nbModel]]) and append.
    */
  private[streaming] def qualityApplyBatch(spark: SparkSession,
      batch: DataFrame, batchId: Long, outDir: String, uni: DataFrame,
      totals: DataFrame, curated: Seq[String]): Unit = graft.Caches.scoped(spark) {
    Replay.append(graft.ops.TextOps.nbScoreBatch(
        graft.ops.TextOps.nbProj(batch, curated), uni, totals)
      .withColumn("ingest_batch", lit(batchId)), outDir)
  }

  /** E12: streaming DECONTAMINATION gate — the deployment shape of
    * D59 ([[graft.ops.Sampling.contaminationVerdict]]), completing the
    * streaming × contamination intersection: the evaluation corpus's
    * distinct shingle set is FROZEN before the stream starts (computed
    * once, cached, broadcast into every micro-batch — the E11
    * frozen-model pattern; at 100 TB the cached set persists as a
    * parquet side table and the same broadcast survives), and each
    * arriving train batch is shingled, probed, and verdicted
    * STATELESSLY through [[graft.ops.Sampling.verdictCore]] — the
    * exact code path the batch oracle (`contamination_verdict`) pins.
    * Nothing enters the state store; replay idempotence is
    * [[Replay.append]] alone (as in E11).
    *
    * Output: every train doc with its shingle/collision counts, 6dp
    * overlap `frac` and the PaLM-rule `drop` verdict (≥ num/den of the
    * doc's n-grams in the eval set), partitioned by `ingest_batch` —
    * the auditable gate a continuous pretraining feed filters on.
    *
    * `docsSchema`: pass explicitly to start the gate on a
    * not-yet-populated source directory ([[Replay.tail]]).
    */
  def decontamGateStream(spark: SparkSession, evalDir: String,
      docsDir: String, outDir: String, checkpointDir: String,
      num: Int = 7, den: Int = 10,
      docsSchema: Option[StructType] = None): StreamingQuery = {
    val testSh = spark.read.parquet(evalDir)
      .select(explode(graft.ops.Dedup.shingles(col("text"))).as("g")).distinct()
      .cache()
    // materialize the frozen eval set ONCE, before the first batch
    testSh.count()
    Replay.tail(spark, docsDir, docsSchema, checkpointDir) { (batch, batchId) =>
      decontamApplyBatch(spark, batch, batchId, outDir, testSh, num, den)
    }
  }

  /** One decontamination micro-batch: verdict against the frozen eval
    * shingle set `testSh` (column `g`) and append.
    */
  private[streaming] def decontamApplyBatch(spark: SparkSession,
      batch: DataFrame, batchId: Long, outDir: String, testSh: DataFrame,
      num: Int, den: Int): Unit = graft.Caches.scoped(spark) {
    Replay.append(graft.ops.Sampling.verdictCore(
        batch.select(col("doc_id"), graft.ops.Dedup.shingles(col("text")).as("sh")),
        testSh, num, den)
      .withColumn("ingest_batch", lit(batchId)), outDir)
  }

  /** E8: streaming heavy hitters — the running top tokens of a
    * document stream via the Misra–Gries Aggregator
    * ([[graft.functions.MisraGriesAgg]]). The sketch buffer IS the
    * streaming state: tracking a web-scale vocabulary needs exactly
    * `budget` counters in the state store, not one row per distinct
    * token ever seen (what an exact streaming `groupBy(token).count`
    * accumulates — unbounded, watermark-less state). Each micro-batch
    * reduces into the buffer; guarantees are the batch sketch's, over
    * everything streamed so far: counts are lower bounds within
    * N/(budget+1), and every token with true frequency above that
    * threshold is present.
    *
    * Complete output mode (the result is one small top-k table, the
    * dashboard/monitoring shape this operator serves).
    */
  def topTokens(docs: DataFrame, budget: Int = 256): DataFrame =
    // tokenization and sketch chain shared with the batch twin
    // (text_topk_sketch) — the batch oracle pins THIS code path
    graft.ops.TextOps.sketchOf(graft.ops.TextOps.tokenRows(docs), budget)
}
