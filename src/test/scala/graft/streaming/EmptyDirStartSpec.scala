package graft.streaming

import java.nio.ByteBuffer
import java.nio.ByteOrder
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._
import graft.SparkSpec

/** r15 verdict item 5: every media dedup stream and both text gates
  * must be startable on an EMPTY source directory via an explicit
  * schema (the deployment shape — the gate comes up BEFORE the feed's
  * first file lands). Each case: start on an empty dir (the
  * eager-infer path would throw "Unable to infer schema" here),
  * publish the first batch, assert it is admitted through the normal
  * survivor rule, or scored / verdicted by the gate. The cross-batch /
  * replay batteries live in the per-modality specs; this one pins
  * only the cold-start seam, which is front-end-specific (one schema
  * param per stream) even though the replay machinery is shared.
  */
class EmptyDirStartSpec extends SparkSpec {

  private val mediaSchema = StructType(Seq(
    StructField("media_id", LongType), StructField("media", BinaryType)))
  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))
  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType)))

  private def publish(srcDir: String, name: String, write: String => Unit)
      : Unit = {
    val tmp = Files.createTempDirectory("eds_pub").toString
    write(tmp)
    import scala.jdk.CollectionConverters._
    val part = scala.util.Using.resource(Files.list(Paths.get(tmp)))(
      _.iterator().asScala.toSeq)
      .find(_.getFileName.toString.endsWith(".parquet"))
    assert(part.isDefined, "no part file produced")
    Files.move(part.get, Paths.get(srcDir, name))
  }

  private def dirs(): (String, String, String, String) = (
    Files.createTempDirectory("eds_src").toString,
    Files.createTempDirectory("eds_out").toString,
    Files.createTempDirectory("eds_idx").toString,
    Files.createTempDirectory("eds_ckpt").toString)

  private def ids(out: String, col: String): Seq[Long] =
    spark.read.parquet(out).select(col).collect()
      .map(_.getLong(0)).sorted.toSeq

  /** Minimal conforming mono 16 kHz/16-bit WAV (the AudioDedupStreamSpec
    * builder, trimmed).
    */
  private def wav(samples: Array[Int]): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes(US_ASCII)).putInt(36 + dataLen)
      .put("WAVE".getBytes(US_ASCII))
    buf.put("fmt ".getBytes(US_ASCII)).putInt(16)
      .putShort(1).putShort(1).putInt(16000).putInt(32000)
      .putShort(2).putShort(16)
    buf.put("data".getBytes(US_ASCII)).putInt(dataLen)
    samples.foreach(s => buf.putShort(s.toShort))
    buf.array()
  }

  test("image stream starts on an empty dir and admits the first batch") {
    import spark.implicits._
    val (src, out, idx, ckpt) = dirs()
    val q = ImageStreams.dedupStream(spark, src, out, idx, ckpt,
      mediaSchema = Some(mediaSchema))
    try {
      q.processAllAvailable() // empty dir: zero batches, no throw
      publish(src, "b0.parquet", tmp =>
        Seq(0L -> graft.ops.Multimodal.MediaGen.payload(0L))
          .toDF("media_id", "media").coalesce(1)
          .write.mode("overwrite").parquet(tmp))
      q.processAllAvailable()
      assert(ids(out, "media_id") === Seq(0L))
    } finally q.stop()
  }

  test("video stream starts on an empty dir and admits the first batch") {
    import spark.implicits._
    val (src, out, idx, ckpt) = dirs()
    val q = VideoStreams.dedupStream(spark, src, out, idx, ckpt,
      mediaSchema = Some(mediaSchema))
    try {
      q.processAllAvailable()
      publish(src, "b0.parquet", tmp =>
        Seq(0L -> graft.ops.Video.VideoGen.aviBytes(0L))
          .toDF("media_id", "media").coalesce(1)
          .write.mode("overwrite").parquet(tmp))
      q.processAllAvailable()
      assert(ids(out, "media_id") === Seq(0L))
    } finally q.stop()
  }

  test("audio stream starts on an empty dir and admits the first batch") {
    import spark.implicits._
    val (src, out, idx, ckpt) = dirs()
    val q = AudioStreams.dedupStream(spark, src, out, idx, ckpt,
      mediaSchema = Some(mediaSchema))
    try {
      q.processAllAvailable()
      publish(src, "b0.parquet", tmp =>
        Seq(0L -> wav(Array.tabulate(1300)(k => (k * 6) % 8000 + k * 2)))
          .toDF("media_id", "media").coalesce(1)
          .write.mode("overwrite").parquet(tmp))
      q.processAllAvailable()
      assert(ids(out, "media_id") === Seq(0L))
    } finally q.stop()
  }

  test("embedding stream starts on an empty dir and admits the first batch") {
    import spark.implicits._
    val (src, out, idx, ckpt) = dirs()
    val q = EmbedStreams.dedupStream(spark, src, out, idx, ckpt,
      embSchema = Some(embSchema))
    try {
      q.processAllAvailable()
      publish(src, "b0.parquet", tmp =>
        Seq(1L -> Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))
          .toDF("vec_id", "embedding").coalesce(1)
          .write.mode("overwrite").parquet(tmp))
      q.processAllAvailable()
      assert(ids(out, "vec_id") === Seq(1L))
    } finally q.stop()
  }

  private def publishDocs(src: String, rows: Seq[(Long, String, String)])
      : Unit = {
    import spark.implicits._
    publish(src, "b0.parquet", tmp =>
      rows.toDF("doc_id", "text", "source").coalesce(1)
        .write.mode("overwrite").parquet(tmp))
  }

  test("quality gate starts on an empty dir and scores the first batch") {
    import spark.implicits._
    val (src, out, hist, ckpt) = dirs()
    Seq((1L, "good clean prose text", "src0"), (2L, "spam junk click buy", "raw"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(hist)
    val q = TextStreams.qualityGateStream(spark, hist, src, out, ckpt,
      docsSchema = Some(docsSchema))
    try {
      q.processAllAvailable()
      publishDocs(src, Seq((100L, "good clean prose", "crawl"),
        (101L, "spam junk click", "crawl")))
      q.processAllAvailable()
      val keep = spark.read.parquet(out).select("doc_id", "keep").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(keep === Map(100L -> true, 101L -> false))
    } finally q.stop()
  }

  test("decontamination gate starts on an empty dir and verdicts the first batch") {
    import spark.implicits._
    val (src, out, eval, ckpt) = dirs()
    Seq((900L, "alpha beta gamma delta epsilon zeta", "eval"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(eval)
    val q = TextStreams.decontamGateStream(spark, eval, src, out, ckpt,
      docsSchema = Some(docsSchema))
    try {
      q.processAllAvailable()
      publishDocs(src, Seq((100L, "alpha beta gamma delta epsilon zeta", "crawl"),
        (101L, "novel words nothing shared here", "crawl")))
      q.processAllAvailable()
      val drop = spark.read.parquet(out).select("doc_id", "drop").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(drop === Map(100L -> true, 101L -> false))
    } finally q.stop()
  }
}
