package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One attempt at one query: the loop body `Bench`, `Verify` and `RunQ`
  * share, so each of those mains keeps only its own output.
  *
  * {{{
  *   val a = Runner.attempt(spark, "verify", name) { df.write.parquet(out) }
  *   if (a.ok) println(f"${a.wall}%.1fs")
  * }}}
  */
object Runner {

  /** Wall, process CPU and GC seconds over the body alone, its
    * [[Trace]] rows (empty unless traced, kept when the body threw),
    * and the `NonFatal` failure.
    */
  final case class Attempt(wall: Double, cpu: Double, gc: Double,
      stages: Seq[Trace.Stage], failure: Option[Throwable]) {
    def ok: Boolean = failure.isEmpty
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  /** Runs `body` once. A `NonFatal` failure is logged to stderr as
    * `[<tag>] <name> failed: <class>: <msg>`, up to 10 frames and the
    * cause; anything else (an OOM, a stack overflow) stops the run.
    * Failed or not, the attempt's caches and checkpoints are dead once
    * it is over (the next one rebuilds its plan), so [[Caches.sweep]]
    * runs on every path, the fatal one included.
    */
  def attempt(spark: SparkSession, tag: String, name: String,
      trace: Boolean = false)(body: => Unit): Attempt = {
    var wall, cpu, gc = 0.0
    var failure: Option[Throwable] = None
    def timed(): Unit = {
      val (t0, c0, g0) = (System.nanoTime(), osBean.getProcessCpuTime, gcMillis())
      try body catch { case NonFatal(e) => failure = Some(e) }
      wall = (System.nanoTime() - t0) / 1e9
      cpu = (osBean.getProcessCpuTime - c0) / 1e9
      gc = (gcMillis() - g0) / 1e3
    }
    try {
      val stages = if (trace) Trace.during(spark)(timed()) else { timed(); Nil }
      failure.foreach { e =>
        System.err.println(s"[$tag] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        e.getStackTrace.take(10).foreach(f => System.err.println(s"[$tag]   at $f"))
        Option(e.getCause).foreach(c =>
          System.err.println(s"[$tag]   cause: ${c.getClass.getName}: ${c.getMessage}"))
      }
      Attempt(wall, cpu, gc, stages, failure)
    } finally Caches.sweep(spark)
  }
}
