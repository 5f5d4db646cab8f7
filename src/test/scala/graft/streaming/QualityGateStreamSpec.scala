package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** E11: the streaming quality gate must score micro-batches with the
  * model frozen on the history — equal, doc for doc, to the held-out
  * batch twin (`text_quality_classifier_heldout`) over the same
  * corpus, with both keep verdicts live, across more than one
  * micro-batch.
  */
class QualityGateStreamSpec extends SparkSpec {

  import spark.implicits._

  // history: 3 curated docs (src0) of "good" prose tokens, 2 raw
  // docs of "junk" tokens — the frozen model's evidence
  private val hist = Seq(
    (1L, "good clean prose text here", "src0"),
    (2L, "good tidy prose text again", "src0"),
    (3L, "clean prose text good words", "src0"),
    (10L, "spam junk click buy now", "raw"),
    (11L, "junk spam click free offer", "raw"))

  // two arriving batches: curated-ish, junk-ish, and OOV docs
  private val batch0 = Seq(
    (100L, "good clean prose", "crawl"),
    (101L, "spam junk click buy", "crawl"))
  private val batch1 = Seq(
    (102L, "clean text good prose words here", "crawl"),
    (103L, "zzz qqq vvv", "crawl"), // fully OOV: prior + floor only
    (104L, "junk spam free click offer now", "crawl"))

  private def publish(srcDir: String, name: String,
      rows: Seq[(Long, String, String)]): Unit = {
    val tmp = Files.createTempDirectory("qgs_pub").toString
    rows.toDF("doc_id", "text", "source").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    import scala.jdk.CollectionConverters._
    val part = scala.util.Using.resource(Files.list(Paths.get(tmp)))(
      _.iterator().asScala.toSeq)
      .find(_.getFileName.toString.endsWith(".parquet"))
    assert(part.isDefined, "no part file produced")
    Files.move(part.get, Paths.get(srcDir, name))
  }

  private def rowsOf(out: String) = {
    val rows = spark.read.parquet(out)
      // the partition column is directory-inferred (int, not long)
      .select(col("doc_id"), col("n_toks"), col("nb_score"), col("keep"),
        col("ingest_batch").cast("long").as("ingest_batch"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getBoolean(3), r.getLong(4))))
    // one row per doc: a replay that appended instead of overwriting
    // its partition would duplicate them
    assert(rows.map(_._1).distinct.length === rows.length, "duplicate doc rows")
    rows.toMap
  }

  test("stream scores == frozen-model batch twin, both verdicts live, two batches") {
    val histDir = Files.createTempDirectory("qgs_hist").toString + "/h"
    val src = Files.createTempDirectory("qgs_src").toString
    val out = Files.createTempDirectory("qgs_out").toString
    val ckpt = Files.createTempDirectory("qgs_ckpt").toString
    hist.toDF("doc_id", "text", "source").write.parquet(histDir)

    publish(src, "b0.parquet", batch0)
    val q = TextStreams.qualityGateStream(spark, histDir, src, out, ckpt)
    try {
      q.processAllAvailable()
      publish(src, "b1.parquet", batch1)
      q.processAllAvailable()
    } finally q.stop()

    val got = rowsOf(out)
    assert(got.keySet === (batch0 ++ batch1).map(_._1).toSet)
    assert(got(100L)._4 === 0L && got(103L)._4 === 1L,
      "batch partitioning must follow arrival")

    // the batch twin over the SAME corpus: history + batch docs in one
    // documents table, split at doc_id 100
    val dir = Files.createTempDirectory("qgs_tbl").toString
    (hist ++ batch0 ++ batch1).toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val twin = graft.ops.TextOps.textNbQualityHeldout(spark, dir, splitId = 100L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))).toMap
    for ((id, (n, s, k, _)) <- got)
      assert(twin(id) === ((n, s, k)), s"doc $id diverges from the twin")

    // non-vacuous gate: the curated-ish docs pass, the junk docs fail
    assert(got(100L)._3 && got(102L)._3)
    assert(!got(101L)._3 && !got(104L)._3)
  }

  test("restart with nothing new and a replayed batch both leave the output unchanged") {
    val histDir = Files.createTempDirectory("qgs_hist").toString + "/h"
    val src = Files.createTempDirectory("qgs_src").toString
    val out = Files.createTempDirectory("qgs_out").toString
    val ckpt = Files.createTempDirectory("qgs_ckpt").toString
    hist.toDF("doc_id", "text", "source").write.parquet(histDir)

    publish(src, "b0.parquet", batch0)
    val q = TextStreams.qualityGateStream(spark, histDir, src, out, ckpt)
    try {
      q.processAllAvailable()
      publish(src, "b1.parquet", batch1)
      q.processAllAvailable()
    } finally q.stop()
    val got = rowsOf(out)
    assert(got.keySet === (batch0 ++ batch1).map(_._1).toSet)

    // restart on the same checkpoint with nothing new: a no-op
    val q2 = TextStreams.qualityGateStream(spark, histDir, src, out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(rowsOf(out) === got, "restart with committed offsets mutated output")

    // replay the committed batch 1 through the gate's own applier (the
    // crash-before-offset window): dynamic overwrite of its own
    // partition, rows identical
    val curated = graft.ops.TextOps.CuratedSources
    val (uni, totals) = graft.ops.TextOps.nbModel(graft.ops.TextOps.nbProj(
      spark.read.parquet(histDir), curated))
    TextStreams.qualityApplyBatch(spark,
      batch1.toDF("doc_id", "text", "source"), 1L, out, uni, totals, curated)
    assert(rowsOf(out) === got, "replayed batch diverged from its commit")
  }
}
