package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev-only: run named queries from SparkEntry against a sf dir.
  * Usage: runMain graft.RunQ <sfDir> name1 name2 ...  ("explain" flag
  * via SPARK_GRAFT_EXPLAIN=1, per-query shuffle totals via
  * SPARK_GRAFT_METRICS=1 — the instrument behind SURVEY §8's
  * shuffle-bytes before/after records)
  */
object RunQ {

  /** Per-STAGE resource table (SPARK_GRAFT_STAGES=1): one row per
    * completed stage — tasks, wall/CPU seconds, shuffle read/write,
    * records, spill. Its shuffle columns also give the per-query
    * totals of SPARK_GRAFT_METRICS=1. The r14 attribution instrument: a per-query CPU
    * total says a query got slower; this says WHICH exchange boundary
    * carries the growth across scale tiers (run the same query at
    * sf10 and sf100, diff the tables stage-by-stage).
    */
  private class StageTable extends SparkListener {
    case class StageRow(id: Int, name: String, tasks: Int, wallMs: Long,
      cpuMs: Long, srMB: Double, srRecs: Long, swMB: Double, swRecs: Long,
      spillMB: Double, inMB: Double, outRecs: Long)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    override def onStageCompleted(st: SparkListenerStageCompleted): Unit = {
      val i = st.stageInfo
      val m = i.taskMetrics
      if (m != null) rows.add(StageRow(i.stageId,
        i.name.takeWhile(_ != '\n').take(70), i.numTasks,
        m.executorRunTime, m.executorCpuTime / 1000000L,
        m.shuffleReadMetrics.totalBytesRead / 1048576.0,
        m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten / 1048576.0,
        m.shuffleWriteMetrics.recordsWritten,
        (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0,
        m.inputMetrics.bytesRead / 1048576.0, m.outputMetrics.recordsWritten))
    }
    def dump(tag: String): Unit = {
      import scala.jdk.CollectionConverters._
      val rs = rows.asScala.toSeq.sortBy(_.id)
      println(f"[runq] $tag stages (${rs.size}):")
      println("[runq]   id tasks  wall_s   cpu_s  sread_MB srecs swrite_MB wrecs spill_MB input_MB  name")
      rs.foreach { r =>
        println(f"[runq]   ${r.id}%4d ${r.tasks}%4d ${r.wallMs / 1000.0}%8.1f " +
          f"${r.cpuMs / 1000.0}%8.1f ${r.srMB}%8.1f ${r.srRecs}%9d ${r.swMB}%8.1f " +
          f"${r.swRecs}%9d ${r.spillMB}%8.1f ${r.inMB}%8.1f  ${r.name}")
      }
    }
    /** (shuffle MiB written, shuffle MiB read) over the rows so far. */
    def shuffleMB: (Double, Double) = {
      import scala.jdk.CollectionConverters._
      val rs = rows.asScala
      (rs.map(_.swMB).sum, rs.map(_.srMB).sum)
    }
    def reset(): Unit = rows.clear()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    // dev knob: arbitrary conf overrides "k=v;k=v" for A/B plan probes
    // (the instrument behind §8's AQE-partition-sizing measurements).
    // Note conf VALUES cannot contain ';' (the split delimiter).
    val extra = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).filter(_.contains('='))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val spark = Session.start(
      sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "ERROR"), extra)
    val metrics = sys.env.contains("SPARK_GRAFT_METRICS")
    val dumpStages = sys.env.contains("SPARK_GRAFT_STAGES")
    val stages = if (metrics || dumpStages) {
      val t = new StageTable; spark.sparkContext.addSparkListener(t); Some(t)
    } else None
    val planMetrics = sys.env.contains("SPARK_GRAFT_PLANMETRICS")
    // per-query sum of a named SQL metric over the query's executions
    // (substring match, e.g. "sort fallback", "spill size") — the
    // counter instrument behind §8's partial-agg-degradation probes
    val sqlMetric = sys.env.get("SPARK_GRAFT_SQLMETRIC")
    var lastExecId = -1L
    for (name <- args.tail) {
      val t0 = System.nanoTime()
      stages.foreach(_.reset())
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        if (sys.env.contains("SPARK_GRAFT_EXPLAIN")) df.explain("formatted")
        // noop sink: forces full materialization of every column
        // (count() would let Catalyst prune the expensive projections).
        df.write.format("noop").mode("overwrite").save()
        println(f"[runq] $name: materialized in ${(System.nanoTime() - t0) / 1e9}%.1fs")
        if (metrics) stages.foreach { t =>
          // listener events drain asynchronously; flush before reading
          org.apache.spark.sql.GraftSqlShim.flushListeners(spark)
          val (written, read) = t.shuffleMB
          println(f"[runq] $name shuffle: write $written%.1f MiB, read $read%.1f MiB")
        }
        if (sys.env.contains("SPARK_GRAFT_SHOW")) df.show(5, 80)
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"[runq] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        e.getStackTrace.take(10).foreach(f => println(s"   at $f"))
        Option(e.getCause).foreach(c =>
          println(s"   cause: ${c.getClass.getName}: ${c.getMessage}"))
      } finally {
        // read (and ADVANCE past) this query's SQL executions in the
        // finally block: a FAILed query's executions must not leak into
        // the next query's sqlmetric window (r13 review finding)
        // plan metrics read the window WITHOUT advancing it (sqlMetric
        // may want the same window); the watermark advances once, after
        // both readers, to the max exec id either saw
        // the reads are status-store queries that can themselves throw;
        // an exception HERE would replace the query's own failure and
        // abort the remaining loop — instruments log and continue
        // (ADVICE r14)
        var windowEnd = lastExecId
        try {
          if (planMetrics) {
            org.apache.spark.sql.GraftSqlShim.flushListeners(spark)
            val (maxId, lines) = org.apache.spark.sql.GraftSqlShim
              .planMetricLinesSince(spark, lastExecId)
            windowEnd = math.max(windowEnd, maxId)
            println(s"[runq] $name plan metrics (${lines.size} nodes):")
            lines.foreach(l => println(s"[runq]   $l"))
          }
          sqlMetric.foreach { m =>
            org.apache.spark.sql.GraftSqlShim.flushListeners(spark)
            val (maxId, v) = org.apache.spark.sql.GraftSqlShim
              .sqlMetricSince(spark, lastExecId, m)
            windowEnd = math.max(windowEnd, maxId)
            println(s"""[runq] $name sqlmetric "$m": $v""")
          }
        } catch { case scala.util.control.NonFatal(e) =>
          // NonFatal only (ADVICE r15): an OutOfMemoryError or
          // LinkageError raised while reading the status store means
          // the JVM is corrupt — aborting beats silently tainting the
          // remaining queries' timings
          println(s"[runq] $name instrument read failed: " +
            s"${e.getClass.getName}: ${e.getMessage}")
        }
        lastExecId = windowEnd
        try if (dumpStages) stages.foreach { t =>
          org.apache.spark.sql.GraftSqlShim.flushListeners(spark)
          t.dump(name)
        } catch { case scala.util.control.NonFatal(e) =>
          println(s"[runq] $name stage dump failed: " +
            s"${e.getClass.getName}: ${e.getMessage}")
        }
        // failed or not, the query's checkpoints are dead post-attempt
        Caches.sweep(spark)
      }
    }
    spark.stop()
  }
}
