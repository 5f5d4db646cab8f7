package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans and the Spark counts recorded at the same
  * boundaries. A span is opened around one call into a graft module;
  * while it is open, the Spark job group is the span's name, so the
  * listener files every task under the span that submitted it.
  */
final class Trace(sc: SparkContext) {
  import Trace.Span

  /** Task-level totals for one job group (one span name). */
  final class Counts {
    var jobs = 0
    var stages = 0
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var schedDelayMs = 0L
    var shuffleReadB = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
    var inputB = 0L
    /** task durations (ms) per stage, for the skew ratio */
    val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
    def merge(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
      runMs += o.runMs; schedDelayMs += o.schedDelayMs
      shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB
      spillB += o.spillB; inputB += o.inputB
      o.stageTaskMs.foreach { case (k, v) => stageTaskMs(k) = v }
    }
    /** max / median task time in the stage with the most task time */
    def skew: Double =
      if (stageTaskMs.isEmpty) 1.0 else {
        val ts = stageTaskMs.values.maxBy(_.sum).sorted
        val med = ts(ts.size / 2).max(1L)
        ts.last.toDouble / med
      }
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val byGroup = mutable.HashMap.empty[String, Counts]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSite = mutable.HashMap.empty[Int, String]
  /** task CPU and jobs per call site (`Lineage.scala:N`) */
  val bySite: mutable.HashMap[String, (Int, Long)] = mutable.HashMap.empty

  /** jobs submitted outside any span are filed under "(none)" */
  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("(none)")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val g = group(e.properties)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      e.stageInfos.foreach { s => stageSite(s.stageId) = site }
      val (j, c) = bySite.getOrElse(site, (0, 0L))
      bySite(site) = (j + 1, c)
      byGroup.getOrElseUpdate(g, new Counts).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      val g = group(e.properties)
      stageGroup(e.stageInfo.stageId) = g
      byGroup.getOrElseUpdate(g, new Counts).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        stageSite.get(e.stageId).foreach { site =>
          val (j, c) = bySite.getOrElse(site, (0, 0L))
          bySite(site) = (j, c + m.executorCpuTime)
        }
        stageGroup.get(e.stageId).foreach { g =>
          val c = byGroup.getOrElseUpdate(g, new Counts)
          val info = e.taskInfo
          c.tasks += 1
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.spillB += m.diskBytesSpilled
          c.inputB += m.inputMetrics.bytesRead
          c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
        }
      }
    }
  }

  /** Starts recording from a clean slate. */
  def attach(): Unit = { reset(); sc.addSparkListener(listener) }

  /** Stops recording once every event posted so far is delivered. */
  def detach(): Unit = { drain(); sc.removeSparkListener(listener) }

  /** Runs `body` inside a span named `name`; its Spark jobs carry the
    * name as their job group. Returns the span's duration in seconds.
    */
  def span(name: String)(body: => Unit): Double = {
    val s = synchronized {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
      spans += s
      open = s :: open
      s
    }
    sc.setJobGroup(name, name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime()
      synchronized { open = open.tail }
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.name, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
    (s.end - s.start) / 1e9
  }

  private def drain(): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  def counts(names: String*): Counts = synchronized {
    val c = new Counts
    names.foreach(n => byGroup.get(n).foreach(c.merge))
    c
  }

  def countsWithPrefix(prefix: String): Counts = synchronized {
    counts(byGroup.keys.filter(_.startsWith(prefix)).toSeq: _*)
  }

  def allCounts: Counts = synchronized { counts(byGroup.keys.toSeq: _*) }

  private def reset(): Unit = synchronized {
    spans.clear(); byGroup.clear(); stageGroup.clear(); stageSite.clear(); bySite.clear()
  }

  def closedSpans: Seq[Span] = synchronized { spans.filter(_.end >= 0).toList }

  /** A span's duration minus the part of it its children cover. */
  def selfNs(s: Span): Long = {
    val kids = closedSpans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    for ((a, b) <- kids) {
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.end - s.start) - covered
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int,
      start: Long, var end: Long = -1L)
}
