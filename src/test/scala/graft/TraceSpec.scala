package graft

import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.functions._

/** The run instruments: [[Trace]]'s stage records and the shim's one
  * read of the SQL-execution window behind RunQ's plan/SQL metrics.
  */
class TraceSpec extends SparkSpec {

  test("during returns every stage's tasks and shuffle bytes, readable at once") {
    // AQE off: it would coalesce the final aggregate's partitions, and
    // the stage shapes below would depend on the data size
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val stages = try Trace.during(spark) {
      spark.range(0, 10000, 1, 3).repartition(4)
        .groupBy((col("id") % 10).as("k")).count().collect()
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    // range (3 partitions) -> repartition(4) -> partial aggregate ->
    // final aggregate over spark.sql.shuffle.partitions
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(stages.map(_.tasks).sorted === Seq(3, 4, shufflePartitions).sorted)
    val written = stages.map(_.metrics.shuffleWriteMetrics.bytesWritten).sum
    assert(written > 0)
    assert(stages.map(_.metrics.shuffleReadMetrics.totalBytesRead).sum === written)
    assert(stages.forall(_.name.nonEmpty), stages.map(_.name))
  }

  test("the SQL-execution read counts each plan node once, in normalized units") {
    GraftSqlShim.flushListeners(spark)
    val (mark, _) = GraftSqlShim.planMetricsSince(spark, -1L)
    spark.range(0, 1000, 1, 4).repartition(2).filter(col("id") < 100)
      .write.format("noop").mode("overwrite").save()
    GraftSqlShim.flushListeners(spark)
    val (next, nodes) = GraftSqlShim.planMetricsSince(spark, mark)
    assert(next > mark)
    // AQE re-plans the query after its shuffle; the Range (1000 rows)
    // and Filter (100 rows) nodes must each count once, not once per
    // plan version
    val rows = nodes.flatMap(_.metrics).collect {
      case ("number of output rows", v) => GraftSqlShim.metricValue(v)
    }
    assert(rows.sum === 1100L, nodes.mkString("\n"))
    assert(GraftSqlShim.metricValue(
      "total (min, med, max (stageId: taskId)) 2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB)") === 2L << 20)
    assert(GraftSqlShim.metricValue("1.5 m") === 90000L)
    assert(GraftSqlShim.metricValue("1,234") === 1234L)
  }
}
