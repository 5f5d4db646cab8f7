package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-cache hygiene for the long-running mains.
  *
  * A session holds materializations in two layers:
  *  - CacheManager entries: a `cache()`d plan together with its
  *    in-memory blocks. Operators make them through [[share]] for
  *    frames they read more than once.
  *  - persisted RDDs the CacheManager never knew about:
  *    [[Lineage.cut]] materializations (persisted RDDs behind
  *    LogicalRDDs).
  *
  * Each is correct per query, but a session that runs MANY queries
  * (Verify's full dump, Bench's 4 samples per entry, a notebook, a
  * service calling [[Pipeline.run]] repeatedly) accumulates dead ones:
  * the round-5 dedup_clusters bench drift (4.3→6.1s monotone across
  * warm runs) was exactly this, inside one query's loop. An entry left
  * behind also pins memory beyond its own blocks: its plan reaches back
  * through the cut LogicalRDDs, whose RDDs keep their lineage (each
  * `Pipeline.run` left three entries and ~70 MB of Tungsten pages live).
  *
  * Two releases, both covering both layers:
  *  - [[scoped]] releases what its body made, and keeps what existed
  *    before it (the streaming appliers and `Pipeline`'s entry points);
  *  - [[sweep]] drops everything, between queries ([[Runner.attempt]]).
  */
object Caches {

  /** The calling thread's open [[scoped]] bodies, innermost first; each
    * frame holds the frames [[share]]d while it was innermost, newest
    * first.
    */
  private val scopes = ThreadLocal.withInitial[List[List[DataFrame]]](() => Nil)

  /** `df.cache()`, recorded in the calling thread's innermost open
    * [[scoped]] body so that the scope's end removes the entry. Outside
    * any scope this is `df.cache()` alone (the entry lives until a
    * [[sweep]]). A plan that was already cached is not recorded: that
    * entry belongs to whoever made it. The plan is the one `cache()`
    * builds, so a reader of `df` plans the same `InMemoryRelation`.
    */
  def share(df: DataFrame): DataFrame = {
    val fresh = df.storageLevel == StorageLevel.NONE
    df.cache()
    scopes.get match {
      case top :: outer if fresh => scopes.set((df :: top) :: outer)
      case _ =>
    }
    df
  }

  /** Drop every cached plan and persisted RDD block in the session.
    * Call at a quiescent point (no job running, no returned DataFrame
    * still to be consumed).
    *
    * Two layers, both mandatory:
    *  - `catalog.clearCache()` removes `cache()` entries from the
    *    CacheManager TOGETHER with their blocks. Unpersisting the
    *    blocks alone (the round-6 sweep) left the plan entries behind,
    *    so the next run's structurally-identical `.cache()` hit the
    *    stale entry — the repeated "Asked to cache already cached
    *    data" warnings in BENCH_r06's tail, and a bench sample that
    *    silently re-used the registration instead of measuring its
    *    own build.
    *  - the RDD sweep drops what the CacheManager never knew about:
    *    [[Lineage.cut]] materializations (persisted RDDs behind
    *    LogicalRDDs). Since round 7 these keep their lineage, so the
    *    unpersist is safe-by-construction and warning-free (a
    *    `localCheckpoint` block would instead be unrecomputable, which
    *    Spark 4 loudly warns about — the other r6 bench-tail warning).
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Run `body`, then release both layers of what it made: the entries
    * [[share]]d inside it and the RDDs persisted during it. For the
    * streaming `foreachBatch` appliers (round 10, review finding: a
    * micro-batch's pipeline makes several [[Lineage.cut]]
    * materializations INSIDE shared seams that the applier cannot reach
    * to free, so a long-running stream leaked 2-3 persisted frames per
    * micro-batch) and for [[Pipeline.run]] / [[Pipeline.graphAudit]].
    *
    *  - Entries: unpersisted newest first with `blocking = false`, which
    *    removes each CacheManager entry together with its blocks. Newest
    *    first, so no surviving entry still reads one just removed (Spark
    *    would re-plan it).
    *  - RDDs: those persisted during `body` are unpersisted, EXCEPT
    *    locally-checkpointed ones: a `localCheckpoint` block
    *    ([[Lineage.cutHard]], e.g. a concurrent `Bpe.train` sharing the
    *    session) is the ONLY copy of its data — unpersisting it would
    *    fail that job, not recompute it. Everything else swept here is
    *    recomputable by construction, so even a racing concurrent
    *    stream only pays a recompute, never a failure.
    *
    * What existed before the scope survives it: a user's cache, another
    * stream's blocks, the decontamination gate's frozen eval set. (A
    * `cache()` made before the scope but first materialized inside it
    * keeps its entry, while its blocks are swept with the RDDs, so
    * every later read recomputes them.) Scopes nest: an inner scope releases
    * only what was shared while it was innermost, and the outer scope
    * the rest. Scopes are per thread; a [[share]] on a thread with no
    * open scope is left to [[sweep]].
    */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val outer = scopes.get
    scopes.set(Nil :: outer)
    try body
    finally {
      val shared = scopes.get.head
      scopes.set(outer)
      shared.foreach(_.unpersist(blocking = false))
      spark.sparkContext.getPersistentRDDs
        .filter { case (id, rdd) => !before.contains(id) &&
          !org.apache.spark.sql.GraftSqlShim.isLocallyCheckpointed(rdd) }
        .values.foreach(_.unpersist(blocking = false))
    }
  }
}
