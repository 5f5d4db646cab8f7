package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.chess.ChessPipeline

/** Skew-guard evidence (SURVEY §7 item 3): forced-skew corpora must
  * not produce a single straggler task. Task wall-clock is captured
  * with a SparkListener; the bound is max <= max(10 x median, floor)
  * where the 5 s floor absorbs local-mode small-data artifacts (AQE
  * coalesces the few-MB shuffles to one partition, putting all the
  * LINEAR signature work in one task; first-task JIT) — the
  * counterfactual stragglers these guards prevent are two orders
  * bigger (the uncapped 12k-member band buckets alone emit ~1.15e9
  * candidate pairs through a handful of reducers: minutes, not
  * seconds).
  */
class SkewSpec extends SparkSpec with graft.StragglerProbe {

  test("degenerate near-dup corpus: bucket cap prevents a quadratic LSH straggler") {
    import spark.implicits._
    val d = Files.createTempDirectory("skew_docs").toString
    // 12k docs sharing a long boilerplate prefix with a unique tail:
    // pairwise jaccard ~0.9, so EVERY band bucket holds ~12k members
    // (~1.4e8 candidate pairs in one reducer) unless capBuckets drops
    // the degenerate buckets (12k > MaxBucket = 10k)
    val boiler = (1 to 42).map(i => s"w$i").mkString(" ")
    val docs = (1L to 12000L).map(i => (i, s"$boiler tail$i extra$i"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    // warm-up run: the first execution pays janino codegen of the
    // 64-aggregate signature expression (~3s in ONE task), which is a
    // per-JVM one-off, not a data-skew property — measure run two
    val rows = Dedup.dedupMinhash(spark, d).count()
    assert(rows === 12000L) // graceful degradation: all docs keep self
    val times = taskTimes {
      Dedup.dedupMinhash(spark, d).count()
    }
    assertNoStraggler(times, "dedup_minhash on degenerate corpus")
  }

  test("capBuckets drops exactly the over-cap buckets") {
    import spark.implicits._
    val df = (Seq.fill(5)("hot") ++ Seq("a", "a", "b"))
      .zipWithIndex.map(_.swap).toDF("id", "bucket")
    val kept = Dedup.capBuckets(df, Seq("bucket"), cap = 2)
      .select("bucket").collect().map(_.getString(0)).toSeq.sorted
    assert(kept === Seq("a", "a", "b"))
  }

  test("hot-player corpus: withStats completes without a straggler task") {
    import spark.implicits._
    // one bot plays 50% of 20k games — the window partition for that
    // name holds half the long-form rows; running count/max are linear
    // per partition, so the hot task must stay near the median, and
    // the stats->games join (on ID) is uniform regardless of player
    val n = 20000
    val games = (1 to n).map { i =>
      val white = if (i % 2 == 0) "hotbot" else s"w$i"
      val black = s"b$i"
      (f"g$i%06d", new java.sql.Timestamp(1700000000000L + i * 3600000L),
        if (i % 3 == 0) "Blitz" else "Bullet", white, black,
        1000 + i % 800, 1000 + (i * 7) % 800)
    }.toDF("ID", "DateTime", "Event", "White", "Black", "WhiteElo", "BlackElo")
    var rows = 0L
    val times = taskTimes {
      rows = ChessPipeline.withStats(games).count()
    }
    assert(rows === n)
    assertNoStraggler(times, "withStats on hot-player corpus")
  }

  test("full ingest on a skewed PGN corpus: no straggler") {
    // the INGEST shape end to end as IngestMain runs it (split-planned
    // PGN parse → running stats → role doubling → partitioned sink), on
    // a hot-player corpus: ~30% of seats belong to 3 bot accounts,
    // 3 months of data
    val src = graft.chess.SamplePgn.ensureWrittenSkewed(
      nFiles = 4, gamesPerFile = 1000, months = 3, nTail = 500)
    val out = java.nio.file.Files.createTempDirectory("skew_ingest_spec")
    try {
      var rows = -1L
      val times = taskTimes {
        ChessPipeline.writePartitioned(
          ChessPipeline.fromPgn(spark.read.format("pgn").load(src)), out.toString)
        rows = spark.read.parquet(out.toString).count()
      }
      assert(rows === 8000L) // 4000 games x 2 roles
      assertNoStraggler(times, "ingest on hot-player corpus")
    } finally graft.LocalFs.deleteRecursively(out)
  }
}
