package graft
import org.apache.spark.sql.GraftSqlShim

/** Dev-only: run named queries from SparkEntry against a sf dir.
  * Usage: runMain graft.RunQ <sfDir> name1 name2 ...  ("explain" flag
  * via SPARK_GRAFT_EXPLAIN=1; per-stage table plus per-query shuffle
  * totals via SPARK_GRAFT_STAGES=1 — the instrument behind SURVEY §8's
  * shuffle-bytes before/after records)
  */
object RunQ {

  /** The [[Trace]] stage table (SPARK_GRAFT_STAGES=1): one row per
    * stage — tasks, run/CPU seconds, task deserialization CPU, shuffle
    * read/write, records, spill — then the query's task and shuffle
    * totals. The r14 attribution instrument: a per-query CPU total
    * says a query got slower; this says WHICH exchange boundary carries
    * the growth across scale tiers (run the same query at sf10 and
    * sf100, diff the tables stage-by-stage).
    */
  private def dumpStages(tag: String, rs: Seq[Trace.Stage]): Unit = {
    def mb(b: Long) = b / 1048576.0
    println(f"[runq] $tag stages (${rs.size}):")
    println("[runq]   id tasks  wall_s   cpu_s deser_cpu_s  sread_MB srecs swrite_MB wrecs spill_MB input_MB  name")
    rs.foreach { r =>
      val (m, sr, sw) = (r.metrics, r.metrics.shuffleReadMetrics, r.metrics.shuffleWriteMetrics)
      println(f"[runq]   ${r.id}%4d ${r.tasks}%4d ${m.executorRunTime / 1000.0}%8.1f " +
        f"${m.executorCpuTime / 1e9}%8.1f ${m.executorDeserializeCpuTime / 1e9}%11.2f " +
        f"${mb(sr.totalBytesRead)}%8.1f ${sr.recordsRead}%9d " +
        f"${mb(sw.bytesWritten)}%8.1f ${sw.recordsWritten}%9d ${mb(r.spillBytes)}%8.1f " +
        f"${mb(m.inputMetrics.bytesRead)}%8.1f  ${r.name.take(70)}")
    }
    def secs(f: Trace.Stage => Long) = rs.map(f).sum / 1e9
    println(f"[runq] $tag tasks: ${rs.map(_.tasks).sum}, " +
      f"cpu ${secs(_.metrics.executorCpuTime)}%.2f s, " +
      f"deser_cpu ${secs(_.metrics.executorDeserializeCpuTime)}%.2f s")
    val written = rs.map(_.metrics.shuffleWriteMetrics.bytesWritten).sum
    val read = rs.map(_.metrics.shuffleReadMetrics.totalBytesRead).sum
    println(f"[runq] $tag shuffle: write ${mb(written)}%.1f MiB, read ${mb(read)}%.1f MiB")
  }

  def main(args: Array[String]): Unit = {
    val unknown = args.drop(1).filterNot(SparkEntry.queries.contains)
    if (args.length < 2 || unknown.nonEmpty) {
      System.err.println(unknown.map(n => s"[runq] unknown query: $n\n").mkString +
        "usage: runMain graft.RunQ <sfDir> <query> [query ...]\nqueries: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(" "))
      sys.exit(2)
    }
    val sfDir = args.head
    // dev knob: arbitrary conf overrides "k=v;k=v" for A/B plan probes
    // (the instrument behind §8's AQE-partition-sizing measurements).
    // Note conf VALUES cannot contain ';' (the split delimiter).
    val extra = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).filter(_.contains('='))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val spark = Session.start(
      sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "ERROR"), extra)
    val stages = sys.env.contains("SPARK_GRAFT_STAGES")
    val planMetrics = sys.env.contains("SPARK_GRAFT_PLANMETRICS")
    // per-query sum of a named SQL metric over the query's executions
    // (substring match, e.g. "sort fallback", "spill size") — the
    // counter instrument behind §8's partial-agg-degradation probes
    val sqlMetric = sys.env.get("SPARK_GRAFT_SQLMETRIC")
    var lastExecId = -1L
    for (name <- args.tail) {
      val a = Runner.attempt(spark, "runq", name, trace = stages) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        if (sys.env.contains("SPARK_GRAFT_EXPLAIN")) df.explain("formatted")
        // noop sink: forces full materialization of every column
        // (count() would let Catalyst prune the expensive projections).
        df.write.format("noop").mode("overwrite").save()
        if (sys.env.contains("SPARK_GRAFT_SHOW")) df.show(5, 80)
      }
      if (a.ok) println(f"[runq] $name: materialized in ${a.wall}%.1fs")
      // read (and ADVANCE past) this query's SQL executions whether or
      // not it failed: a failed query's executions must not leak into
      // the next query's sqlmetric window (r13 review finding). One
      // read serves both instruments, so the watermark advances once.
      // The read is a status-store query that can itself throw; as its
      // own attempt it logs and the remaining queries still run.
      if (planMetrics || sqlMetric.isDefined)
        Runner.attempt(spark, "runq", s"$name instrument read") {
          GraftSqlShim.flushListeners(spark)
          val (maxId, nodes) = GraftSqlShim.planMetricsSince(spark, lastExecId)
          lastExecId = maxId
          if (planMetrics) {
            println(s"[runq] $name plan metrics (${nodes.size} nodes):")
            nodes.foreach { n =>
              val ms = n.metrics.map { case (k, v) => s"$k=$v" }
              println(s"[runq]   exec ${n.execId} ${n.node}: ${ms.mkString(" | ")}")
            }
          }
          sqlMetric.foreach { m =>
            val v = nodes.flatMap(_.metrics).collect {
              case (k, v) if k.contains(m) => GraftSqlShim.metricValue(v)
            }.sum
            println(s"""[runq] $name sqlmetric "$m": $v""")
          }
        }
      if (stages) dumpStages(name, a.stages)
    }
    spark.stop()
  }
}
