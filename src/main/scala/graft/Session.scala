package graft

import org.apache.spark.sql.SparkSession

/** The one session config graft runs under: every main through
  * [[start]], every spec through `SparkSpec`, both built by [[builder]].
  *
  * `local[n]` with n = `SPARK_GRAFT_CPUS` for the mains (default: this
  * machine's available processors) and 4 for the specs, so spec plans
  * do not depend on the host. n is mirrored into
  * `spark.sql.shuffle.partitions` when it is a number (`*` is a valid
  * local master but not a partition count). Everything else is
  * [[confs]], the same for both.
  */
object Session {

  /** The confs every session applies. */
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // typed-Aggregator plans (TopKAgg and friends) fall back to
    // SORT-BASED aggregation past 128 distinct keys per task by
    // default — the per-task candidate stream then gets fully
    // sorted, the exact cost the O(k)-state aggregators exist to
    // avoid (found by the r13 knnskew probe: the hot Voronoi task
    // sorted 2e8 rows). 128k keys x O(k) state is a few tens of MB.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072",
    "spark.ui.enabled" -> "false",
    // shuffles START wide and let AQE coalesce down (parallelismFirst
    // keeps small exchanges at full parallelism): with the fixed
    // 32-partition default, sf100's 600M-row sort-merge sides ran
    // ~2 GB/partition and spilled — q5_volume measured 194 -> 147 s
    // (-25%) with wide initial partitions. On a real cluster this is
    // the knob that makes one session config survive 100x data drift.
    // Under AQE `sessionState.conf.numShufflePartitions` returns THIS
    // width, so never pass it as an explicit count: an explicit count
    // is never coalesced (text_ppl_buckets' range sort ran 500 tasks
    // per stage for 500 docs that way); omit the count and AQE sizes
    // the exchange.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "1024",
    // ...and let AQE coalesce CACHED plans too, or every .cache()
    // materializes all 1024 initial partitions and each downstream
    // pass schedules 1024 mostly-empty tasks (dedup_incremental_bloom
    // warm: 2.6 s wide-initials-only vs 0.7 s with this — the cached
    // history index is tiny but was pinned at the initial width).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // let AQE convert a sort-merge join to broadcast-hash when the
    // RUNTIME build side lands under 64 MB (the default 10 MB left
    // q5_volume's 12.5 MB ASIA-orders side sorting 6M lineitem rows
    // at sf1 - join stage 21.8 -> 3.0 CPU-s with the bump, r16).
    // Runtime sizes are trustworthy where static estimates are not,
    // so ONLY the adaptive threshold moves; the static 10 MB default
    // stays (it guards against estimate-driven giant broadcasts).
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "64m")

  /** A builder for `local[cpus]` with [[confs]] applied. */
  def builder(cpus: String): SparkSession.Builder = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    cpus.toIntOption.fold(b)(n => b.config("spark.sql.shuffle.partitions", n))
      .config(confs.toMap)
  }

  /** Build (or return the running) session, set Spark's log level, and
    * apply `overrides` last (RunQ's `SPARK_GRAFT_CONF` A/B probes).
    */
  def start(logLevel: String = "WARN",
      overrides: Seq[(String, String)] = Nil): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = overrides.foldLeft(builder(cpus)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
