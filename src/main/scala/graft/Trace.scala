package graft

import scala.collection.mutable

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftSqlShim, SparkSession}

/** Per-stage task metrics for the Spark work run while a recording is
  * open — the one task-metrics listener behind [[Runner]]'s traced
  * attempts (RunQ's stage table) and the specs' straggler bounds.
  *
  * {{{
  *   val stages = Trace.during(spark) { df.write.format("noop").save() }
  * }}}
  */
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

  /** The stages of everything `body` runs, by id. Recording stops once
    * every event posted so far is delivered (the listener bus is
    * asynchronous), and the listener is removed even when `body`
    * throws. A caller that wants the rows of a body that threw catches
    * inside `body` ([[Runner.attempt]] does).
    */
  def during(spark: SparkSession)(body: => Unit): Seq[Stage] = {
    val taskMs = mutable.Map.empty[Int, Vector[Long]]
    val stages = mutable.ArrayBuffer.empty[Stage]
    // a stage's task-end events are posted before its completion event
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        taskMs(e.stageId) = taskMs.getOrElse(e.stageId, Vector.empty) :+ e.taskInfo.duration
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val i = e.stageInfo
        if (i.taskMetrics != null) stages += Stage(i.stageId,
          i.name.takeWhile(_ != '\n'), taskMs.remove(i.stageId).getOrElse(Vector.empty),
          i.taskMetrics)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try body
    finally
      try GraftSqlShim.flushListeners(spark)
      finally spark.sparkContext.removeSparkListener(listener)
    listener.synchronized(stages.sortBy(_.id).toList)
  }
}
