package graft

import scala.collection.mutable

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftSqlShim, SparkSession}

/** Per-stage task metrics for the Spark work run while a recording is
  * open — the one task-metrics listener behind RunQ's stage table,
  * Scale's straggler line and the specs' straggler bounds.
  *
  * {{{
  *   val stages = Trace.during(spark) { df.write.format("noop").save() }
  * }}}
  */
final class Trace private (spark: SparkSession) {
  private val taskMs = mutable.Map.empty[Int, Vector[Long]]
  private val stages = mutable.ArrayBuffer.empty[Trace.Stage]

  // a stage's task-end events are posted before its completion event
  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      taskMs(e.stageId) = taskMs.getOrElse(e.stageId, Vector.empty) :+ e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val i = e.stageInfo
        if (i.taskMetrics != null) stages += Trace.Stage(i.stageId,
          i.name.takeWhile(_ != '\n'), taskMs.remove(i.stageId).getOrElse(Vector.empty),
          i.taskMetrics)
      }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Stops recording once every event posted so far is delivered (the
    * listener bus is asynchronous); returns the completed stages by id.
    */
  def stop(): Seq[Trace.Stage] = {
    try GraftSqlShim.flushListeners(spark)
    finally spark.sparkContext.removeSparkListener(listener)
    synchronized(stages.sortBy(_.id).toList)
  }
}

object Trace {

  /** One completed stage: every task's duration (ms), and Spark's own
    * totals over its tasks — executor CPU and run time, shuffle
    * read/write bytes and records, spill, input bytes, output records.
    */
  final case class Stage(id: Int, name: String, taskMs: Seq[Long],
      metrics: TaskMetrics) {
    def tasks: Int = taskMs.size
    def spillBytes: Long = metrics.memoryBytesSpilled + metrics.diskBytesSpilled
  }

  /** Starts recording; the caller must [[Trace.stop]] it (RunQ keeps the
    * stage rows of a query that threw).
    */
  def start(spark: SparkSession): Trace = new Trace(spark)

  /** The stages of everything `body` runs; the listener is removed even
    * when `body` throws.
    */
  def during(spark: SparkSession)(body: => Unit): Seq[Stage] = {
    val t = start(spark)
    var stages: Seq[Stage] = Nil
    try body finally stages = t.stop()
    stages
  }
}
