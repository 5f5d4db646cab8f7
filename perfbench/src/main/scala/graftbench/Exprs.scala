package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{functions => gf}

/** Task CPU per row of each native expression over fixed-seed inputs:
  * the CPU of projecting the expression over a cached frame, minus the
  * CPU of projecting just its input columns, divided by the rows.
  */
object Exprs {
  val Rows = 10000
  private val Reps = 2
  private val Dim = 64

  def nsPerRow(spark: SparkSession, t: Trace): Map[String, Double] = {
    val r = new SplittableRandom(7L)
    val vocab = Gen.Vocab
    def word(): String = vocab(r.nextInt(vocab.size))
    def vec(): Array[Float] = Array.fill(Dim)(r.nextGaussian().toFloat)
    val rows = (0 until Rows).map { _ =>
      val text = Iterator.fill(1 + r.nextInt(6))(
        Iterator.fill(1 + r.nextInt(14))(word()).mkString(" ")).mkString("\n")
      org.apache.spark.sql.Row(text, vec().toSeq, vec().toSeq, word() + word())
    }
    val schema = StructType(Seq(StructField("text", StringType),
      StructField("vec", ArrayType(FloatType)), StructField("vec2", ArrayType(FloatType)),
      StructField("word", StringType)))
    val cores = spark.sparkContext.defaultParallelism
    val base = spark.createDataFrame(spark.sparkContext.parallelize(rows, cores), schema)
      .withColumn("sh", gf.shingleIds(col("text"))).cache()
    base.count()

    val centers = (0 until 16).map(i => (i.toLong, vec()))
    val pq = Array.fill(8 * 16)(Array.fill(8)(r.nextGaussian()))
    val pieces = (('a' to 'z').map(_.toString) ++ vocab ++ vocab.map(_.take(2)) ++
      vocab.map(_.take(3))).distinct.toArray
    val costs = pieces.map(p => 1000000L * (6 - math.min(p.length, 5)) + r.nextInt(1000))
    val cases: Seq[(String, Seq[String], Column)] = Seq(
      ("minhashSig", Seq("sh"), gf.minhashSig(col("sh"), 64)),
      ("shingleIds", Seq("text"), gf.shingleIds(col("text"))),
      ("simhash64", Seq("text"), gf.simhash64(col("text"))),
      ("cosine", Seq("vec", "vec2"), gf.cosine(col("vec"), col("vec2"))),
      ("cosTopK", Seq("vec"), gf.cosTopK(col("vec"), centers, 4)),
      ("srpSig", Seq("vec"), gf.srpSig(col("vec"), 16, 4)),
      ("pqEncode", Seq("vec"), gf.pqEncode(col("vec"), pq, 8, 16, 8)),
      ("wordSetHits", Seq("text"), gf.wordSetHits(col("text"), vocab.take(10))),
      ("c4LineFilter", Seq("text"), gf.c4LineFilter(col("text"), 3)),
      ("unigramViterbi", Seq("word"),
        gf.unigramViterbi(col("word"), pieces, costs, pieces.map(_.length).max)))
    def noop(c: Seq[Column]): Unit =
      base.select(c: _*).write.format("noop").mode("overwrite").save()
    try {
      val samples = for (_ <- 0 until Reps; (name, inputs, expr) <- cases) yield {
        t.attach()
        t.span("functions.expr") { noop(Seq(expr.as("x"))) }
        t.span("functions.base") { noop(inputs.map(col)) }
        t.detach()
        name -> (t.counts("functions.expr").cpuNs - t.counts("functions.base").cpuNs).toDouble / Rows
      }
      samples.groupBy(_._1).map { case (name, xs) =>
        s"functions.${name}_ns_per_row" -> Stats.median(xs.map(_._2))
      }
    } finally base.unpersist()
  }
}
