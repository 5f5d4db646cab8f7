package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.GraftSqlShim.cachedEntries
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.SparkSpec

/** E12: the streaming decontamination gate must verdict micro-batches
  * against the FROZEN eval shingle set — equal, doc for doc, to the
  * batch twin (`contaminationVerdictOn`, the D59 core) over the same
  * train corpus, across more than one micro-batch, with a replay of a
  * committed batch a no-op (dynamic overwrite of its own partition
  * with identical rows).
  */
class DecontamGateStreamSpec extends SparkSpec {

  import spark.implicits._

  // eval corpus: two 8-token docs = 6 distinct 3-gram shingles each
  private val eval = Seq(
    (900L, "alpha beta gamma delta epsilon zeta eta theta", "eval"),
    (901L, "one two three four five six seven eight", "eval"))

  // batch 0: a full copy of eval doc 900 (drop), a clean doc (survive)
  private val batch0 = Seq(
    (100L, "alpha beta gamma delta epsilon zeta eta theta", "crawl"),
    (101L, "totally novel words nothing shared here at all", "crawl"))
  // batch 1: low partial overlap (1/6 < 7/10 — survive), a short doc
  // (< 3 tokens: unshingleable, exempt), a 5/6-overlap doc (≥ 7/10 —
  // drop)
  private val batch1 = Seq(
    (102L, "alpha beta gamma brand new tail words here", "crawl"),
    (103L, "too short", "crawl"),
    (104L, "one two three four five six seven NOPE", "crawl"))

  private def publish(srcDir: String, name: String,
      rows: Seq[(Long, String, String)]): Unit = {
    val tmp = Files.createTempDirectory("dgs_pub").toString
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
      .select(col("doc_id"), col("n_shingles"), col("n_common"),
        col("frac"), col("drop"),
        col("ingest_batch").cast("long").as("ingest_batch"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4), r.getLong(5))))
    // one row per doc: a replay that appended instead of overwriting
    // its partition would duplicate them
    assert(rows.map(_._1).distinct.length === rows.length, "duplicate doc rows")
    rows.toMap
  }

  test("stream verdicts == batch twin, both outcomes live, replay is a no-op") {
    val evalDir = Files.createTempDirectory("dgs_eval").toString + "/e"
    val src = Files.createTempDirectory("dgs_src").toString
    val out = Files.createTempDirectory("dgs_out").toString
    val ckpt = Files.createTempDirectory("dgs_ckpt").toString
    eval.toDF("doc_id", "text", "source").write.parquet(evalDir)

    publish(src, "b0.parquet", batch0)
    val q = TextStreams.decontamGateStream(spark, evalDir, src, out, ckpt)
    try {
      q.processAllAvailable()
      publish(src, "b1.parquet", batch1)
      q.processAllAvailable()
    } finally q.stop()

    val got = rowsOf(out)
    assert(got.keySet === (batch0 ++ batch1).map(_._1).toSet)
    assert(got(100L)._5 === 0L && got(103L)._5 === 1L,
      "batch partitioning must follow arrival")

    // the batch twin over the SAME train corpus and eval set — the
    // oracle-pinned D59 code path with an explicit eval frame
    val twin = graft.ops.Sampling.contaminationVerdictOn(
        (batch0 ++ batch1).toDF("doc_id", "text", "source"),
        eval.toDF("doc_id", "text", "source"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))).toMap
    for ((id, (n, c, f, d, _)) <- got)
      assert(twin(id) === ((n, c, f, d)), s"doc $id diverges from the twin")

    // non-vacuous gate: full copy and 5/6 overlap drop; the clean doc,
    // the 1/6 overlap and the unshingleable short doc survive
    assert(got(100L)._4 && got(104L)._4)
    assert(!got(101L)._4 && !got(102L)._4 && !got(103L)._4)
    assert(got(103L)._1 === 0L && got(103L)._3 === 0.0) // exempt, frac 0

    // restart on the same checkpoint with nothing new: a no-op
    val q2 = TextStreams.decontamGateStream(spark, evalDir, src, out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(rowsOf(out) === got, "restart with committed offsets mutated output")

    // replay the committed batch 1 through the gate's own applier (the
    // crash-before-offset window): dynamic overwrite of its own
    // partition, rows identical
    TextStreams.decontamApplyBatch(spark,
      batch1.toDF("doc_id", "text", "source"), 1L, out,
      eval.toDF("doc_id", "text", "source")
        .select(explode(graft.ops.Dedup.shingles(col("text"))).as("g"))
        .distinct(),
      7, 10)
    assert(rowsOf(out) === got, "replayed batch diverged from its commit")
  }

  test("micro-batches leave no cache behind; the frozen eval set stays cached") {
    val evalDir = Files.createTempDirectory("dgs_eval").toString + "/e"
    val src = Files.createTempDirectory("dgs_src").toString
    val out = Files.createTempDirectory("dgs_out").toString
    val ckpt = Files.createTempDirectory("dgs_ckpt").toString
    eval.toDF("doc_id", "text", "source").write.parquet(evalDir)
    // the frozen set's plan, as decontamGateStream builds it: its
    // storageLevel reads the session's entry for that plan
    val frozen = spark.read.parquet(evalDir)
      .select(explode(graft.ops.Dedup.shingles(col("text"))).as("g")).distinct()
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("source", StringType)))
    // start on an empty source, so the snapshot below sees the frozen
    // set cached and materialized and no micro-batch yet
    val q = TextStreams.decontamGateStream(spark, evalDir, src, out, ckpt,
      docsSchema = Some(schema))
    try {
      q.processAllAvailable()
      val level = frozen.storageLevel
      assert(level !== StorageLevel.NONE)
      val entries = cachedEntries(spark)
      val rdds = spark.sparkContext.getPersistentRDDs.keySet
      val batch2 = Seq((105L, "eta theta one two three four five six", "crawl"))
      for (((rows, i)) <- Seq(batch0, batch1, batch2).zipWithIndex) {
        publish(src, s"b$i.parquet", rows)
        q.processAllAvailable()
        assert(cachedEntries(spark) === entries, s"cached plans after batch $i")
        assert(spark.sparkContext.getPersistentRDDs.keySet === rdds,
          s"persisted RDDs after batch $i")
      }
      assert(frozen.storageLevel === level, "the frozen eval set lost its cache")
    } finally q.stop()
    assert(rowsOf(out).keySet === Set(100L, 101L, 102L, 103L, 104L, 105L))
  }
}
