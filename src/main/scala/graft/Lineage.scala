package graft

import org.apache.spark.sql.DataFrame

/** Lineage control for the iterative / multi-consumer operators.
  *
  * Several operators materialize an intermediate frame because (a) two
  * or more subtrees consume it (signature tables, prefix postings) or
  * (b) a loop would otherwise re-analyze an ever-deeper plan each
  * round (connected components, BPE merges). [[cut]] is the one seam
  * they all go through, with two modes:
  *
  *  - **default** (no config): persist the materialized rows behind a
  *    fresh `LogicalRDD` ([[org.apache.spark.sql.GraftSqlShim]]). The
  *    PLAN lineage is truncated — exactly what the loops need — but
  *    the RDD keeps its lineage, so the blocks stay recomputable:
  *    [[free]]/[[Caches.sweep]] can drop them without Spark's
  *    "cannot be recomputed after unpersisting" warning, memory
  *    pressure evicts-and-recomputes instead of failing, and on a
  *    cluster an executor loss degrades to recompute. This replaced
  *    `localCheckpoint()` (whose truncated RDD lineage made every one
  *    of those a hazard) in round 7.
  *  - **`graft.checkpoint.dir` set** (session conf): reliable
  *    `Dataset.checkpoint()` into that directory. This is the
  *    multi-tenant-cluster mode for VERY long chains where even
  *    recompute-from-source is unacceptable (the checkpoint files
  *    survive any executor churn). Deployments pair it with
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` or
  *    periodic directory cleanup.
  */
object Lineage {

  /** Session conf key: when set (non-empty), [[cut]] uses reliable
    * `checkpoint()` into this directory instead of the persist-backed
    * default.
    */
  val ConfKey = "graft.checkpoint.dir"

  /** Test-only plan probe. A cut HIDES its upstream plan from every
    * consumer (they see a LogicalRDD), so a plan guard that inspects
    * only a query's final `executedPlan` cannot see, e.g., a
    * digest-keyed window buried inside a materialized collapse frame —
    * exactly the unsplittable-task anti-pattern CollapseSkewSpec pins
    * against. When [[probePlans]] is on, [[cut]] records the physical
    * plan of every frame it materializes; off (the default), the cost
    * is one volatile read.
    */
  private[graft] val planProbe =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile private[graft] var probePlans: Boolean = false

  /** How a cut materializes: [[cut]], [[cutCounted]], [[cutLazy]] or
    * [[cutHard]].
    */
  private sealed trait Mode
  private case object Eager extends Mode
  private case object Counted extends Mode
  private case object Lazy extends Mode
  private case object Hard extends Mode

  /** The one cut dispatch every mode goes through: probe the plan,
    * then reliable `checkpoint()` when `graft.checkpoint.dir` is set
    * (every mode; only counted pays a count, over the checkpoint
    * files), else the mode's own materialization. The count is -1
    * where the mode computes none.
    */
  private def cutAs(df: DataFrame, mode: Mode): (DataFrame, Long) = {
    if (probePlans) planProbe.add(df.queryExecution.executedPlan.toString)
    val spark = df.sparkSession
    spark.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // setCheckpointDir creates a unique subdir per context; only
        // (re)point it when unset or pointed elsewhere by a prior run
        if (!sc.getCheckpointDir.exists(_.startsWith(dir)))
          sc.setCheckpointDir(dir)
        val ck = df.checkpoint()
        (ck, if (mode == Counted) ck.count() else -1L)
      case None if mode == Hard => (df.localCheckpoint(), -1L)
      case None =>
        org.apache.spark.sql.GraftSqlShim.persistCut(df, eager = mode != Lazy)
    }
  }

  /** Materialize `df` now and return a frame whose plan starts from
    * the materialized rows. See object doc for the two modes.
    */
  def cut(df: DataFrame): DataFrame = cutAs(df, Eager)._1

  /** [[cut]] that also returns the materialized row count. The default
    * mode's persist-materialization computes this count anyway (its
    * eager `rdd.count()`), so surfacing it is free — iterative
    * operators use it to size their loop width ([[loopWidth]]) without
    * an extra count job. Reliable-checkpoint mode pays one cheap count
    * over the checkpoint files.
    */
  def cutCounted(df: DataFrame): (DataFrame, Long) = cutAs(df, Counted)

  /** [[cut]] WITHOUT the eager materializing count — for loops whose
    * very next step is already an action over the new frame (BPE's
    * per-merge pair-count argmax): that action computes-and-persists
    * the blocks, so the eager count would be a whole redundant job per
    * round. Two contract differences from [[cut]]: the frame claims no
    * partitioning (nothing has executed yet), and the caller must keep
    * the PREVIOUS round's blocks persisted until the next action has
    * run (they are the lazy frame's recompute source) — free with
    * [[free]] after that action, never before. Reliable-checkpoint
    * mode has no lazy form; it checkpoints eagerly like [[cut]].
    */
  def cutLazy(df: DataFrame): DataFrame = cutAs(df, Lazy)._1

  /** Scale-adaptive partition width for an iterative loop's
    * co-partitioned frames (guide §2.4): the loops cut their state
    * behind `repartition(loopWidth, key)` roots so that every round's
    * keyed join/aggregation/dedup finds BOTH sides already hash
    * partitioned at the same width and plans ZERO loop-state
    * exchanges — EnsureRequirements' co-partition negotiation
    * otherwise re-shuffles both sides at AQE's initial width (1024)
    * every round (OPTIMIZATION_r16 §4 negative finding 3). The width
    * targets the session's AQE advisory partition size (the same dial
    * AQE's own coalescing aims for — scale-adaptive by construction,
    * never a local-mode constant) with the context's default
    * parallelism as the floor, which is where AQE's parallelism-first
    * coalescing lands small tiers anyway.
    */
  def loopWidth(spark: org.apache.spark.sql.SparkSession, rows: Long,
      bytesPerRow: Int): Int = {
    // Mirror AQE's own parallelism-first coalescing policy (the shape
    // the pre-r17 loop exchanges actually ran at after coalescing):
    // spread toward defaultParallelism only while partitions stay
    // above the session's minimum coalesced-partition size (1 MB
    // default), and above the advisory size grow with the data. The
    // r17 first cut floored at defaultParallelism instead, and at
    // sf0.1 that ran every tiny loop stage as 32-64 ~40 ms tasks —
    // pure per-task overhead: graph_audit bench CPU 24.9 -> 138.8 s,
    // dedup_clusters 16.5 -> 32.5 (paired same-window A/B) before the
    // floor was made size-driven.
    val bytes = math.max(rows, 0L) * bytesPerRow
    val advisory = math.max(1L,
      org.apache.spark.sql.GraftSqlShim.advisoryPartitionBytes(spark))
    val minPart = math.max(1L,
      org.apache.spark.sql.GraftSqlShim.minCoalescedPartitionBytes(spark))
    val spread = math.min(spark.sparkContext.defaultParallelism.toLong,
      (bytes + minPart - 1) / minPart)
    val byAdvisory = (bytes + advisory - 1) / advisory
    // floor 2, not 1: repartition(1, k) plans as SinglePartition, and a
    // SinglePartition claim on a cut frame elides aggregation exchanges
    // but NOT join co-partitioning — EnsureRequirements re-exchanged
    // both join sides at the default width (measured r17, scratch
    // probe); a plain HashPartitioning(k, 2) root co-partitions with
    // zero exchanges.
    math.max(2L, math.min(math.max(spread, byAdvisory), 1L << 16)).toInt
  }

  /** Whether `rows` rows of about `bytesPerRow` bytes are small enough
    * to bring whole to the driver: at most the session's
    * `spark.sql.autoBroadcastJoinThreshold`, the bound Spark itself
    * uses to ship a join side whole; -1, which turns broadcasts off,
    * turns this off too. The graph loops (connected components,
    * PageRank) gate on it with the row count their [[cutCounted]]
    * already returned, so the gate costs no job: below it, one collect
    * and an in-JVM solve replace a loop whose every round is several
    * jobs; above it (any cluster-sized graph) the distributed rounds
    * run unchanged.
    */
  def fitsDriver(spark: org.apache.spark.sql.SparkSession, rows: Long,
      bytesPerRow: Int): Boolean = {
    val limit = org.apache.spark.sql.GraftSqlShim.broadcastThreshold(spark)
    limit >= 0 && math.max(rows, 0L) <= limit / bytesPerRow
  }

  /** [[cut]] with the RDD lineage truncated too. The default [[cut]]
    * keeps RDD lineage (recomputable blocks — the safety property),
    * which means a VERY long iterative chain (hundreds of rounds)
    * accumulates an RDD DAG whose recursive task deserialization
    * eventually overflows the stack — measured: `Bpe.train` at ~300
    * merge rounds dies in `StackOverflowError` inside
    * `ObjectInputStream` (round 10, SURVEY §8). Loops beyond ~100
    * rounds route every [[Bpe.RddChainCap]]-th cut through here:
    * reliable `checkpoint()` when `graft.checkpoint.dir` is set (the
    * cluster deployment mode — files survive executor churn),
    * `localCheckpoint()` otherwise (blocks are not recomputable for
    * THIS frame — an accepted, bounded exposure paid once per cap
    * window, not per round).
    */
  def cutHard(df: DataFrame): DataFrame = cutAs(df, Hard)._1

  /** Drop a [[cut]] frame's persisted blocks. Safe whenever nothing
    * still NEEDS the materialization (the default mode recomputes on a
    * re-read; reliable mode re-reads its checkpoint files — there the
    * unpersist is a no-op). Matching on LogicalRDD finds the persisted
    * RDD regardless of mode.
    */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
