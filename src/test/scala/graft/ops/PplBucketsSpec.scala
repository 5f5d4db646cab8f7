package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Session, SparkSpec, Trace}

/** D47 (CCNet perplexity buckets): the grouped-rank arithmetic must
  * equal SQL ntile(3) exactly (window twin), bucket sizes follow the
  * first-buckets-get-ceil rule, and the production plan carries no
  * language-keyed window (zipWithIndex + broadcast offsets instead).
  * Under the production AQE initial width the range sort runs at a
  * width that follows the data, and its order survives coalescing.
  */
class PplBucketsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tuples(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet

  private def twin = tuples(TextOps.textPerplexity(spark, dir)
    .filter(col("n_bigrams") >= 1)
    .join(graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang")), "doc_id")
    .withColumn("tercile", ntile(3).over(
      Window.partitionBy("lang").orderBy(col("avg_bits"), col("doc_id"))))
    .select(col("doc_id"), col("lang"), col("avg_bits"), col("tercile")))

  test("equals the window-ntile twin") {
    assert(tuples(TextOps.textPplBuckets(spark, dir)) === twin)
  }

  test("under the production initial width no stage runs more tasks than cores") {
    val stages = withConf(Session.wideShuffles: _*) {
      Trace.during(spark) {
        TextOps.textPplBuckets(spark, dir).write.format("noop").mode("overwrite").save()
      }
    }
    val cores = spark.sparkContext.defaultParallelism
    val wide = stages.filter(_.tasks > cores)
    assert(wide.isEmpty, wide.map(s => s"${s.id} ${s.tasks} ${s.name}").mkString("\n"))
  }

  test("the range order survives AQE coalescing into several partitions") {
    var out = Set.empty[(Long, String, Double, Int)]
    val stages = withConf(Session.wideShuffles ++ Seq(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k"): _*) {
      Trace.during(spark) { out = tuples(TextOps.textPplBuckets(spark, dir)) }
    }
    // the zipWithIndex offset pass runs one task per coalesced range
    val zip = stages.filter(_.name.startsWith("zipWithIndex"))
    assert(zip.nonEmpty && zip.forall(s => s.tasks >= 2 && s.tasks < 1024),
      stages.map(s => s"${s.id} ${s.tasks} ${s.name}").mkString("\n"))
    assert(out === twin)
  }

  test("bucket sizes: per lang, ceil-first rule and labels") {
    val rows = TextOps.textPplBuckets(spark, dir).collect()
      .map(r => (r.getString(1), r.getInt(3), r.getString(4)))
    assert(rows.forall { case (_, t, b) =>
      (t, b) match {
        case (1, "head") | (2, "middle") | (3, "tail") => true
        case _ => false
      }
    })
    rows.groupBy(_._1).foreach { case (lang, members) =>
      val n = members.length.toLong
      val sizes = members.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val expect = (1 to 3).map(t =>
        t -> (n / 3 + (if (t <= n % 3) 1L else 0L))).filter(_._2 > 0).toMap
      assert(sizes === expect, s"lang $lang sizes")
    }
  }

  test("plan has no window (range-sort + zipWithIndex + broadcast offsets)") {
    val plan = TextOps.textPplBuckets(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"WindowExec in plan:\n$plan")
  }
}
