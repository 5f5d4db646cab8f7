package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.storage.StorageLevel

/** The one compilation unit that lives in Spark's package namespace, to
  * reach the `private[sql]` seams the public API does not expose. Kept
  * deliberately tiny: everything above it goes through
  * [[graft.Lineage]] or [[graft.functions]].
  *
  * [[column]]/[[expression]] bridge graft's native Catalyst
  * expressions: Spark 4 made the direct constructors `private[sql]`
  * (Columns wrap ColumnNodes, not Expressions), so the supported
  * internal converter is reached from here — the same technique
  * extension libraries (frameless, sedona, ...) use.
  *
  * Why it exists: `Dataset.localCheckpoint` truncates BOTH the plan
  * lineage (good — iterative loops like connected components and BPE
  * re-analyze a flat LogicalRDD instead of an ever-deeper tree) AND
  * the RDD lineage (bad — the materialized blocks become the only copy
  * of the data, so `RDD.unpersist` on them logs the Spark-4 "lineage
  * has been truncated and cannot be recomputed" warning, an executor
  * loss kills the job, and a deliberate free (graft's per-iteration
  * checkpoint hygiene) looks like a footgun to every log reader).
  * What the loops actually need is only the PLAN cut. This shim builds
  * exactly that: materialize the query into a persisted
  * `RDD[InternalRow]` that KEEPS its full lineage, and wrap it in a
  * fresh `LogicalRDD`-backed frame. Unpersist is then safe by
  * construction (blocks recompute from the parquet sources on the
  * rare re-read), warning-free, and executor loss degrades to
  * recompute instead of failure.
  */
object GraftSqlShim {

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Plan-lineage-only checkpoint: persist + materialize the frame's
    * internal RDD (rows copied first — Tungsten reuses `UnsafeRow`
    * buffers per partition, the same reason `Dataset.checkpoint` maps
    * `_.copy()`), then re-enter the SQL layer through a LogicalRDD.
    * Storage level matches `localCheckpoint`'s MEMORY_AND_DISK.
    *
    * The LogicalRDD is built through [[execution.LogicalRDD.fromDataset]]
    * — the same seam `Dataset.checkpoint` uses — so the materialized
    * frame KEEPS the executed plan's output partitioning (plain-hash
    * form only, see below) and constraints (attribute ids rewritten to
    * the new frame's output; `map` is per-partition, so the copied
    * rows stay exactly where the plan left them). The earlier
    * `internalCreateDataFrame` wrapper
    * reported UnknownPartitioning, which made EnsureRequirements
    * re-shuffle every cut frame at its next keyed consumer — in the
    * iterative operators (PageRank's 10 rounds, the CC alternating-
    * star loop, the BPE/unigram train loops, k-means) that was one
    * avoidable full exchange of the loop state per round, paid on
    * frames this shim had JUST materialized hash-partitioned on the
    * very key the next round joins on (guide §2.4: remove shuffles
    * outright — two operations keyed the same way share one exchange).
    *
    * The ESTIMATED statistics fromDataset would also carry are
    * deliberately REBUILT AWAY (r16, measured): with real-looking
    * sizeInBytes on a cut frame the STATIC planner starts making join
    * strategy calls from propagated estimates — at sf0.1 it flipped
    * knn_graph's engineered candidate join to a static broadcast-hash
    * join (stage CPU 1.5 → 7.1 s, bench CPU 3.7 → 11.6 s) that the
    * runtime-size-driven AQE path had correctly NOT chosen. Same
    * doctrine as the 64m adaptive-threshold change: runtime sizes are
    * trustworthy, static estimates are not — so a cut frame reports
    * the default (effectively infinite) size and every join strategy
    * decision over it stays with AQE's measured exchange sizes.
    *
    * Eager (`eager = true`) materializes now and returns the row count
    * that materialization computes anyway — iterative operators size
    * their loop width from it ([[graft.Lineage.loopWidth]]) without
    * paying a second count job. Lazy (`eager = false`) skips that
    * count: the returned frame's first consumer job computes (and
    * thereby persists) the blocks instead. For a loop whose every
    * round already runs an action over the new cut (BPE's pair-count
    * argmax reads the rewritten vocabulary immediately), the eager
    * count is a whole redundant job per round — half the loop's job
    * latency. Because nothing has executed, no finalized AQE
    * partitioning exists to read, so a lazy frame claims
    * UnknownPartitioning (the callers are narrow rewrite loops with no
    * keyed consumer), reports a count of -1, and the CALLER must not
    * unpersist the previous round's blocks until the next round's
    * first action has run (the blocks are the lazy frame's recompute
    * source).
    */
  def persistCut(df: DataFrame, eager: Boolean): (DataFrame, Long) = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val rdd = df.queryExecution.toRdd
      .map((r: InternalRow) => r.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cnt = if (eager) rdd.count() else -1L // eager, like
                // localCheckpoint(eager = true) — and for an adaptive
                // plan this finalizes every query stage, so the
                // partitioning read below is the FINAL one
    val lr = execution.LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    val part =
      if (eager) finalPartitioning(df, lr)
      else UnknownPartitioning(0)
    // rebuild WITHOUT the estimated stats (None → computeStats falls
    // back to defaultSizeInBytes, the pre-r16 static-planner behavior)
    (classic.Dataset.ofRows(spark,
      execution.LogicalRDD(lr.output, lr.rdd, part, Nil,
        lr.isStreaming, None)(spark, None, Some(lr.constraints))), cnt)
  }

  /** The partitioning an eager cut frame claims, read once `df` has
    * executed.
    */
  private def finalPartitioning(df: DataFrame, lr: execution.LogicalRDD)
      : Partitioning = {
    // fromDataset supplies the constraint machinery; partitioning and
    // ordering are read from the final physical root OURSELVES because
    // AdaptiveSparkPlanExec (a LeafExecNode wrapper) reports
    // UnknownPartitioning/Nil — fromDataset sees through nothing and
    // the preservation would silently never fire on AQE plans (i.e.
    // on every production cut; measured: the LineageSpec pin fails on
    // the unwrapped-less form)
    val physical = df.queryExecution.executedPlan match {
      case a: execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // map the physical root's attribute ids onto the new frame's
    // output (positional — same schema by construction); an attr the
    // map misses keeps its id and, being absent from the output, makes
    // the claimed property inert for `satisfies` rather than wrong.
    // Guarded (ADVICE r16): if a future plan shape ever misaligns the
    // executed plan's output order from the logical output, a
    // positionally-rewritten HashPartitioning would be keyed on the
    // WRONG attribute and EnsureRequirements would silently elide a
    // required exchange — on any name/type mismatch the claim falls
    // back to UnknownPartitioning instead.
    val aligned = physical.output.length == lr.output.length &&
      physical.output.zip(lr.output).forall { case (p, o) =>
        p.name == o.name && p.dataType == o.dataType }
    val attrs = AttributeMap(physical.output.zip(lr.output))
    def rw(e: Expression): Expression =
      e.transform { case a: Attribute => attrs.getOrElse(a, a) }
    @scala.annotation.tailrec
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case pc: PartitioningCollection => firstLeaf(pc.partitionings.head)
      case other => other
    }
    // Claim ONLY a plain HashPartitioning (and pass non-Expression
    // partitionings — SinglePartition/Unknown — through). Measured
    // r16: carrying CoalescedHashPartitioning (an AQE-coalesced read's
    // shape) on a LogicalRDD breaks CacheManager's canonical-plan
    // matching — `.cache()`d frames derived from such a cut silently
    // stopped resolving to their InMemoryRelation (PlanSpec's
    // heldout-perplexity pin caught it: every shared token frame
    // re-computed instead of reading the cache). Exotic partitionings
    // and output ordering are therefore dropped to Unknown/Nil — the
    // aggregation-consumer exchange elision (LineageSpec pin) only
    // needs the plain hash form, which is what a user-keyed
    // `repartition(n, k)` root (never AQE-coalesced) produces.
    firstLeaf(physical.outputPartitioning) match {
      case h: HashPartitioning if aligned => rw(h).asInstanceOf[Partitioning]
      case _: Expression => UnknownPartitioning(lr.rdd.getNumPartitions)
      case _ if !aligned => UnknownPartitioning(lr.rdd.getNumPartitions)
      case o => o
    }
  }

  /** The session's AQE advisory partition size (`SQLConf` is
    * `private[sql]`) — the byte dial [[graft.Lineage.loopWidth]] sizes
    * iterative loop frames against, so loop widths track the same
    * target AQE's own coalescing aims for.
    */
  def advisoryPartitionBytes(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** The session's minimum coalesced-partition size — the other half
    * of AQE's parallelism-first dial that [[graft.Lineage.loopWidth]]
    * mirrors.
    */
  def minCoalescedPartitionBytes(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes, as
    * `SQLConf` parses it (-1 when broadcasts are off) — the bound
    * [[graft.Lineage.fitsDriver]] gates driver-side graph solves on.
    */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /** How many plans the session's CacheManager holds
    * (`numCachedEntries` is `private[sql]`): what the specs read to pin
    * that [[graft.Caches.scoped]] leaves no entry behind.
    */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries

  /** Drain the listener bus — listeners ([[graft.Trace]], the SQL
    * status store) receive events asynchronously, so a reader must
    * flush before totalling. `listenerBus` is `private[spark]`.
    */
  def flushListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** One plan node's populated SQL metrics: (name, display value). */
  final case class NodeMetrics(execId: Long, node: String,
      metrics: Seq[(String, String)])

  /** Every plan node with populated metrics, over the SQL executions
    * whose id is > `sinceExecId`, and the newest execution id seen (the
    * caller's next watermark). The SQL status store is `private[sql]`;
    * this one read is the instrument behind RunQ's
    * `SPARK_GRAFT_PLANMETRICS` (WHICH operator: the r14 residual
    * attributions need per-node output-row counts) and
    * `SPARK_GRAFT_SQLMETRIC` (how much in total, via [[metricValue]] —
    * e.g. "sort fallback" reads ObjectHashAggregate's "number of sort
    * fallback tasks" counter, turning a does-the-partial-agg-degrade
    * hypothesis into a counter instead of a wall-clock inference).
    * Nodes come from the final plan graph, so each accumulator counts
    * once; the execution's flat metric list repeats it per AQE re-plan.
    */
  def planMetricsSince(spark: SparkSession, sinceExecId: Long)
      : (Long, Seq[NodeMetrics]) = {
    val store = spark.asInstanceOf[classic.SparkSession].sharedState.statusStore
    val execs = store.executionsList().filter(_.executionId > sinceExecId)
    val nodes = execs.flatMap { e =>
      val vals = store.executionMetrics(e.executionId)
      store.planGraph(e.executionId).allNodes.flatMap { n =>
        // size/timing metrics render MULTILINE ("total (min, med, max)"
        // header, values on the next line) — flatten, or a line-based
        // log filter silently drops the values
        val ms = n.metrics.flatMap(m =>
          vals.get(m.accumulatorId).map(v => m.name -> v.replace("\n", " ")))
        if (ms.isEmpty) None
        else Some(NodeMetrics(e.executionId, s"${n.name}#${n.id}", ms.toSeq))
      }
    }
    ((sinceExecId +: execs.map(_.executionId)).max, nodes)
  }

  // leading total: decimal number (comma-grouped) + optional unit token
  private val leadingTotal = "(-?\\d[\\d,]*(?:\\.\\d+)?)\\s*([A-Za-z]+)?".r
  private val unitScale: Map[String, Double] = Map(
    "B" -> 1d, "KiB" -> math.pow(2, 10), "MiB" -> math.pow(2, 20),
    "GiB" -> math.pow(2, 30), "TiB" -> math.pow(2, 40),
    "PiB" -> math.pow(2, 50), "EiB" -> math.pow(2, 60),
    // Utils.msDurationToString suffixes, normalized to ms
    "ms" -> 1d, "s" -> 1000d, "m" -> 60000d, "h" -> 3600000d)

  /** A display-formatted metric value as a number. Plain SUM counters
    * arrive as "1,234"; size metrics as "2.0 MiB (min, med, max)";
    * timing metrics as "1.5 m (...)". The leading total is parsed as a
    * DECIMAL and NORMALIZED by its unit suffix — sizes to bytes,
    * durations to ms — so sums never mix "2.0 MiB" as 2 with
    * "512.0 KiB" as 512 (that unit-blind mix was a real r13 hazard,
    * flagged in review). One metric name targets one metric family, so
    * a sum of these values is dimensionally consistent. 0 when the
    * value holds no number.
    */
  def metricValue(display: String): Long =
    leadingTotal.findFirstMatchIn(display).map { m =>
      val raw = m.group(1).replace(",", "").toDouble
      val scale = Option(m.group(2)).flatMap(unitScale.get).getOrElse(1d)
      (raw * scale).toLong
    }.getOrElse(0L)

  /** Whether `rdd`'s persisted blocks are a `localCheckpoint` — i.e.
    * the ONLY copy of the data (RDD lineage truncated): unpersisting
    * such blocks destroys them instead of degrading to recompute.
    * [[graft.Caches.scoped]] must skip these. `isLocallyCheckpointed`
    * is `private[rdd]` (narrower than this package), but Scala access
    * qualifiers erase to a public JVM method — one cached reflective
    * handle reaches it without adding a compilation unit to
    * `org.apache.spark.rdd`.
    */
  private lazy val isLocalCkpt =
    classOf[org.apache.spark.rdd.RDD[_]].getMethod("isLocallyCheckpointed")
  def isLocallyCheckpointed(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
    isLocalCkpt.invoke(rdd).asInstanceOf[Boolean]
}
