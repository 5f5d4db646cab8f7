package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Lineage.cut]] — the plan-lineage cut both modes of which every
  * iterative/multi-consumer operator rides on (round 7 replaced
  * `localCheckpoint`; see Lineage scaladoc for why).
  */
class LineageSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("cut preserves rows and schema, truncates the plan, and frees cleanly") {
    val df = (1 to 100).toDF("n").withColumn("sq", col("n") * col("n"))
    val cut = Lineage.cut(df)
    assert(cut.schema === df.schema)
    assert(cut.collect().map(_.getInt(0)).sorted === (1 to 100).toArray)
    // the plan restarts from the materialized rows (LogicalRDD leaf)
    assert(cut.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
    // default mode keeps the RDD recomputable: free the blocks, then
    // re-read — a localCheckpoint-style truncated RDD would throw here
    Lineage.free(cut)
    assert(cut.count() === 100)
  }

  test("cut preserves the executed plan's hash partitioning; same-key consumer re-plans no exchange (r16)") {
    val df = (1 to 1000).toDF("k").withColumn("v", col("k") % 7)
      .repartition(8, col("k"))
    val cut = Lineage.cut(df)
    // the materialized frame REPORTS the partitioning it was produced
    // with (LogicalRDD.fromDataset — the Dataset.checkpoint seam); the
    // pre-r16 internalCreateDataFrame wrapper reported Unknown and made
    // every loop round re-shuffle its just-materialized state
    val part = cut.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.outputPartitioning
    }.get
    assert(part.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.HashPartitioning],
      s"cut frame reports $part")
    // ...so an aggregation keyed the same way shares the exchange the
    // cut already paid (guide §2.4)
    val agg = cut.groupBy("k").count()
    assert(!agg.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      agg.queryExecution.executedPlan.toString)
    assert(agg.count() === 1000)
    Lineage.free(cut)
  }

  test("two cuts at the same loopWidth co-partition a keyed join with ZERO exchanges (r17)") {
    // the iterative-loop contract: loop state cut behind plain-hash
    // repartition(w, key) roots joins loop-invariant frames with no
    // EnsureRequirements exchange on either side — the r17 fix for the
    // per-round loop-state re-shuffle (OPTIMIZATION_r16 §4 finding 3)
    val w = Lineage.loopWidth(spark, 1000, 16)
    assert(w >= 2, s"loopWidth floor must be >= 2 (SinglePartition " +
      s"claims do not co-partition joins — measured r17), got $w")
    val big = Lineage.cut((1 to 1000).toDF("k")
      .withColumn("v", col("k") % 7).repartition(w, col("k")))
    val small = Lineage.cut((1 to 100).toDF("k")
      .withColumn("r", col("k") * 2).repartition(w, col("k")))
    val joined = big.join(small.hint("shuffle_hash"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(joined.count() === 100)
    Lineage.free(big); Lineage.free(small)
  }

  test("default-mode blocks are persisted but NOT checkpointed") {
    val cut = Lineage.cut((1 to 10).toDF("n"))
    val rdds = cut.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    assert(rdds.nonEmpty)
    // persisted (the materialization) with NO checkpoint data —
    // RDD.unpersist's Spark-4 warning predicate (isLocallyCheckpointed,
    // the r6 bench-tail warning this mode exists to kill) implies
    // isCheckpointed, so plain-persisted blocks can never trip it
    assert(rdds.forall(r =>
      r.getStorageLevel !== org.apache.spark.storage.StorageLevel.NONE))
    assert(rdds.forall(r => !r.isCheckpointed))
    Lineage.free(cut)
  }

  test("reliable mode (graft.checkpoint.dir) runs dedup_clusters to the same answer") {
    val default = ops.Dedup.dedupClusters(spark, sf).collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    try withConf(Lineage.ConfKey -> dir) {
      val reliable = ops.Dedup.dedupClusters(spark, sf).collect().toSeq
      assert(reliable === default)
      // the checkpoint actually landed in the configured directory
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable mode wrote no checkpoint files")
    } finally {
      LocalFs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("every cut mode, with and without graft.checkpoint.dir, keeps the rows and re-reads after free") {
    val input = (1 to 100).toDF("n").withColumn("sq", col("n") * col("n"))
      .repartition(3, col("n"))
    val expected = input.collect().toSeq.sortBy(_.getInt(0))
    // (mode, cut returning the frame and counted mode's count,
    // recomputable without a checkpoint dir)
    val modes: Seq[(String, DataFrame => (DataFrame, Option[Long]), Boolean)] = Seq(
      ("eager", df => (Lineage.cut(df), None), true),
      ("counted", df => { val (c, n) = Lineage.cutCounted(df); (c, Some(n)) }, true),
      ("lazy", df => (Lineage.cutLazy(df), None), true),
      // a localCheckpoint: its blocks are the only copy of the data
      ("hard", df => (Lineage.cutHard(df), None), false))
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_modes").toString
    try for (ckpt <- Seq(None, Some(dir)); (mode, cutWith, recomputable) <- modes) {
      ckpt.fold(spark.conf.unset(Lineage.ConfKey))(spark.conf.set(Lineage.ConfKey, _))
      val clue = s"$mode cut, checkpoint dir ${ckpt.getOrElse("unset")}"
      val (cut, count) = cutWith(input)
      def rows = cut.collect().toSeq.sortBy(_.getInt(0))
      assert(rows === expected, clue)
      count.foreach(n => assert(n === expected.size.toLong, clue))
      // reliable mode re-reads its checkpoint files in every mode
      if (recomputable || ckpt.nonEmpty) {
        Lineage.free(cut)
        assert(rows === expected, s"$clue, after free")
      }
    } finally {
      spark.conf.unset(Lineage.ConfKey)
      Caches.sweep(spark)
      LocalFs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("sweep clears cached-plan ENTRIES, not just blocks (no stale re-cache)") {
    val df = (1 to 50).toDF("n").cache()
    df.count()
    assert(df.storageLevel !== org.apache.spark.storage.StorageLevel.NONE)
    Caches.sweep(spark)
    // entry gone with the blocks (storageLevel consults the
    // CacheManager): a structurally-identical cache() re-registers
    // fresh instead of hitting a stale entry (the "Asked to cache
    // already cached data" warning in BENCH_r06)
    assert(df.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("scoped frees cut/cache blocks but never a localCheckpoint (only copy)") {
    // a localCheckpoint block (Lineage.cutHard, e.g. a concurrent
    // Bpe.train sharing the session) is the ONLY copy of its data:
    // scoped must leave it persisted — unpersisting it would destroy
    // the job, not trigger a recompute
    Caches.sweep(spark)
    var hard: org.apache.spark.sql.DataFrame = null
    Caches.scoped(spark) {
      Lineage.cut((1 to 20).toDF("n")).count() // recomputable: swept
      hard = Lineage.cutHard((21 to 40).toDF("n"))
      hard.count()
    }
    val left = spark.sparkContext.getPersistentRDDs.values.toSeq
    assert(left.size === 1, s"expected only the localCheckpoint block, got $left")
    // and it is still readable (the data survived the sweep)
    assert(hard.count() === 20)
    Caches.sweep(spark)
  }
}
