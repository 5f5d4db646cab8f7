package graft.chess

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Hot-player ingest probe (SURVEY §8): runs the FULL ingest pipeline
  * (split-planned PGN parse → running stats → role doubling → the
  * range-partitioned monthly sink) on a lichess-realistically skewed
  * corpus — a few bot accounts holding ~30% of all seats (~10⁵ games
  * per bot at the 1M default), the documented straggler case for the
  * per-player running-stats window — once with the plain single-window
  * formulation and once with the skew-resistant two-phase bucketed
  * one, and reports wall time plus the straggler profile (max vs
  * median task ms of the worst stage) for each.
  *
  *   runMain graft.chess.SkewProbe [nGames] [months]
  *
  * At 1M games the plain window's hot task holds ~2·10⁵ rows of one
  * bot; the bucketed variant bounds any task at one player-MONTH. The
  * probe exists to measure whether that bound is worth the second
  * window at this corpus shape (and feeds the `withStats(bucketed)`
  * default decision recorded in SURVEY §8).
  */
object SkewProbe {

  private class StageTaskTimes extends SparkListener {
    val byStage: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      byStage.getOrElseUpdate(t.stageId, mutable.ArrayBuffer()) +=
        t.taskInfo.duration
    }
  }

  def main(args: Array[String]): Unit = {
    val nGames = args.headOption.map(_.toInt).getOrElse(1000000)
    val months = args.lift(1).map(_.toInt).getOrElse(3)
    val nFiles = 32
    val src = SamplePgn.ensureWrittenSkewed(
      nFiles = nFiles, gamesPerFile = nGames / nFiles, months = months)
    val spark = graft.Session.start()

    for (bucketed <- Seq(false, true, false, true)) { // 2 passes: JIT warm second pair
      val out = java.nio.file.Files.createTempDirectory("skew_ingest")
      val listener = new StageTaskTimes
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      try {
        ChessPipeline.writePartitioned(
          ChessPipeline.toPlayerGameRole(ChessPipeline.withStats(
            ChessPipeline.parseGames(
              spark.read.format("pgn").load(src)), bucketed = bucketed)),
          out.toString)
      } finally {
        val wall = (System.nanoTime() - t0) / 1e9
        // drain the async listener bus before reading
        org.apache.spark.sql.GraftSqlShim.flushListeners(spark)
        spark.sparkContext.removeSparkListener(listener)
        val worst = listener.synchronized(listener.byStage.toSeq)
          .map { case (sid, ts) =>
            val s = ts.sorted
            (sid, s.last, s(s.size / 2), s.size)
          }
          .sortBy(-_._2)
          .take(3)
        System.err.println(
          f"[skew] bucketed=$bucketed%-5s wall=$wall%7.1fs " +
            worst.map { case (sid, mx, med, n) =>
              s"stage$sid max=${mx}ms med=${med}ms n=$n"
            }.mkString("  |  "))
        graft.LocalFs.deleteRecursively(out)
        graft.Caches.sweep(spark)
      }
    }
    spark.stop()
  }
}
