package graft.ops

import graft.SparkSpec

/** Plan-shape regression guards: the optimizations the scale design
  * depends on must be visible in the physical plan, not assumed.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1 pushes the shipdate filter and prunes columns at the scan") {
    val plan = planOf(Relational.q1Pricing(spark, dir))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushed filter in:\n$plan")
    // projection pruning: the 11-column lineitem scan must read only
    // the 7 referenced columns (comment/shipmode-style cols absent)
    assert(plan.contains("ReadSchema: struct<l_quantity"))
    assert(!plan.contains("l_orderkey"), "q1 must not read join keys")
  }

  test("q5 broadcasts the dimension tables") {
    val plan = planOf(Relational.q5Volume(spark, dir))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"no broadcast join in:\n$plan")
  }

  test("q1 aggregate is partial (map-side) and inside WholeStageCodegen") {
    val df = Relational.q1Pricing(spark, dir)
    df.collect() // AQE finalizes stages at execution
    val plan = planOf(df)
    // "*(n) HashAggregate" = inside a WholeStageCodegen stage
    assert(plan.contains("*(1) HashAggregate"), s"HashAggregate not codegen'd in:\n$plan")
    assert(plan.contains("partial_sum"), s"no map-side partial aggregation in:\n$plan")
  }

  test("q_ntile_scalable matches the single-reducer window formulation exactly") {
    val a = Relational.qNtile(spark, dir).collect().toSeq
    val b = Relational.qNtileScalable(spark, dir).collect().toSeq
    assert(b === a)
  }

  test("q_ntile_scalable: the range sort follows data size under the production width") {
    val a = Relational.qNtile(spark, dir).collect().toSeq
    def show(stages: Seq[graft.Trace.Stage]) =
      stages.map(s => s"${s.id} ${s.tasks} ${s.name}").mkString("\n")
    // (a) no stage runs more tasks than cores, though the session's
    // numShufflePartitions reads 1024
    val stages = withConf(graft.Session.wideShuffles: _*) {
      graft.Trace.during(spark) {
        Relational.qNtileScalable(spark, dir).write.format("noop").mode("overwrite").save()
      }
    }
    val cores = spark.sparkContext.defaultParallelism
    assert(stages.forall(_.tasks <= cores), show(stages))
    // (b) coalesced into several ranges, the ranks still equal the twin
    var b = Seq.empty[org.apache.spark.sql.Row]
    val small = withConf(graft.Session.wideShuffles ++ Seq(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512b",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "512b"): _*) {
      graft.Trace.during(spark) { b = Relational.qNtileScalable(spark, dir).collect().toSeq }
    }
    val zip = small.filter(_.name.startsWith("zipWithIndex"))
    assert(zip.nonEmpty && zip.forall(s => s.tasks >= 2 && s.tasks < 1024), show(small))
    assert(b === a)
  }

  test("dedup candidate joins are hash/merge joins, never cartesian") {
    // every pairwise stage must join on bucket/prefix keys; a refactor
    // that loses the equi-join condition degrades to a nested-loop
    // cross product that cannot survive any scale
    for (df <- Seq(Dedup.dedupMinhash(spark, dir),
        Dedup.dedupSimhash(spark, dir),
        Dedup.dedupJaccard(spark, dir),
        Dedup.dedupEmbed(spark, dir))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian join in:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"nested-loop join in:\n$plan")
    }
  }

  test("round-6 text/sampling operators keep equi-join form and materialize shared frames") {
    // text_dup_spans / source_stats: the gram self-exchange and the
    // stats join-backs must stay equi-joins (a cross product over
    // grams is corpus²)
    for (df <- Seq(TextOps.textDupSpans(spark, dir),
        TextOps.sourceStats(spark, dir))) {
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"), s"cartesian join in:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"nested-loop join in:\n$plan")
    }
    // sample_temperature's broadcast of the ONE-ROW weight total plans
    // as a BroadcastNestedLoopJoin by design (1 row × #languages — the
    // withProportion shape); the selection join itself must stay keyed
    locally {
      val plan = planOf(Sampling.sampleTemperature(spark, dir))
      assert(!plan.contains("CartesianProduct"), s"cartesian join in:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"budget join lost its lang key:\n$plan")
    }
    // the two-consumer aggregates are materialized once (InMemory
    // relation), not recomputed per consumer — the plan must show the
    // cache, or each side re-scans the corpus
    for (df <- Seq(TextOps.sourceStats(spark, dir),
        Sampling.sampleTemperature(spark, dir),
        Relational.qGapfill(spark, dir)))
      assert(planOf(df).contains("InMemoryTableScan"),
        "two-consumer aggregate lost its cache")
  }

  test("LM/BPE/bloom operators: partial aggs, keyed joins, no corpus sort") {
    // text_perplexity: the model joins key on (t1) / (t1,t2) — a
    // lost join key degrades to bigrams × model; the shared
    // token/bigram frames must show their cache, and the unigram /
    // bigram counts must partial-aggregate map-side
    locally {
      val plan = planOf(TextOps.textPerplexity(spark, dir))
      assert(!plan.contains("CartesianProduct"), s"cartesian join in:\n$plan")
      assert(plan.contains("InMemoryTableScan"),
        "shared token/bigram frames lost their cache")
      assert(plan.contains("partial_count"),
        s"no map-side partial aggregation in:\n$plan")
    }
    // bpe_pairs: pair counting partial-aggregates and the top-k is
    // TakeOrderedAndProject, never a global sort of the pair table
    locally {
      val plan = planOf(Bpe.bpePairs(spark, dir))
      assert(plan.contains("TakeOrderedAndProject"),
        s"bpe_pairs top-k global-sorts:\n$plan")
      assert(plan.contains("partial_sum"),
        s"no map-side partial aggregation in:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"cartesian join in:\n$plan")
    }
    // dedup_incremental_bloom: the one-row filter rides a broadcast
    // (nested-loop over 1 row — the withProportion shape, by design);
    // the exact verify must stay a KEYED anti-join, and the bloom
    // build must partial-aggregate (one buffer per partition, not a
    // key shuffle)
    locally {
      val df = Dedup.dedupIncrementalBloom(spark, dir)
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"), s"cartesian join in:\n$plan")
      assert(plan.contains("LeftAnti"),
        s"exact verify anti-join missing:\n$plan")
      assert(plan.toLowerCase.contains("partial_bloombuildagg"),
        s"bloom build not partial-aggregated in:\n$plan")
    }
  }

  test("gate/profile/batching/heldout plans: one-pass scans, partial aggs") {
    // curation_gate claims ONE fused scan: every signal is a native
    // row-local expression, computed in the single projection that is
    // materialized by Lineage.cut — the visible plan reads the CUT
    // blocks (ExistingRDD) for both the dup-collapse aggregate and the
    // join-back, and never re-reads the parquet. The dup flag must be
    // the skew-proof groupBy+join collapse, not a digest window.
    locally {
      val plan = planOf(TextOps.curationGate(spark, dir))
      assert(!plan.contains("CartesianProduct"), s"cartesian join in:\n$plan")
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans === 0, s"curation_gate re-reads the corpus past the cut:\n$plan")
      assert(plan.contains("partial_min"),
        s"dup collapse not partial-aggregated in:\n$plan")
      assert(!plan.contains("Window"),
        s"digest-keyed window in curation_gate (unsplittable viral task):\n$plan")
    }
    // q_profile: the multi-column exact distincts must plan as ONE
    // Expand-based aggregation over one scan, not one job per column
    locally {
      val plan = planOf(Relational.qProfile(spark, dir))
      assert(plan.contains("Expand"), s"q_profile lost its Expand:\n$plan")
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans === 1, s"q_profile reads the table $scans times:\n$plan")
    }
    // batch_by_length: the per-batch stats partial-aggregate map-side
    locally {
      val plan = planOf(Sampling.batchByLength(spark, dir))
      assert(plan.contains("partial_max"),
        s"no map-side partial aggregation in:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"cartesian join in:\n$plan")
    }
    // held-out perplexity: keyed model joins + cached shared frames,
    // like D21 (the one-row vocab broadcast is the only nested loop)
    locally {
      val plan = planOf(TextOps.textPerplexityHeldout(spark, dir))
      assert(!plan.contains("CartesianProduct"), s"cartesian join in:\n$plan")
      assert(plan.contains("InMemoryTableScan"),
        "shared token frames lost their cache")
    }
  }

  test("temporal joins keep equi-join form (no cartesian/nested-loop)") {
    // the interval join's time-band predicate must stay a RESIDUAL on
    // a hash join keyed by user_id; losing the equi condition would
    // degrade to a nested-loop cross product
    for (df <- Seq(Relational.qAsofJoin(spark, dir),
        Relational.qIntervalJoin(spark, dir))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian join in:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"nested-loop join in:\n$plan")
    }
  }

  test("ann_ivf: broadcast probe join on the list id, no cartesian, no corpus sort") {
    val df = Similarity.annIvf(spark, dir)
    val plan = planOf(df)
    // the corpus meets the probes through a broadcast HASH join keyed
    // on pid — assignment itself is a narrow projection, so the only
    // shuffles are the top-k partial aggregation and the final sort
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast hash join in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian join in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join (assignment must stay narrow) in:\n$plan")
  }

  test("native MinHashSig: codegen'd, and the signature stage needs no shuffle") {
    import org.apache.spark.sql.functions._
    val df = spark.range(5).select(col("id"),
        graft.functions.minhashSig(array(col("id"), col("id") + 1), 8).as("sig"))
    val plan = planOf(df)
    assert(plan.contains("*(1) Project [id") && plan.contains("minhash_sig"),
      s"no codegen'd minhash_sig in:\n$plan")
    // the point of the native expression: signatures are a narrow
    // projection — no Exchange anywhere in the stage (the old
    // explode + 64-min groupBy shuffled the whole exploded corpus)
    assert(!plan.contains("Exchange"), s"signature stage shuffles in:\n$plan")
    assert(df.collect().length === 5)
  }

  test("native ShingleIds: codegen'd narrow projection, no shuffle") {
    import org.apache.spark.sql.functions._
    val df = graft.Tables.load(spark, dir, "documents").limit(10)
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    val plan = planOf(df)
    assert(plan.contains("shingle_ids"), s"no shingle_ids in:\n$plan")
    assert(plan.contains("*(1) "), s"projection not codegen'd in:\n$plan")
    assert(!plan.contains("Exchange"), s"shingle stage shuffles in:\n$plan")
    assert(df.collect().length === 10)
  }

  test("native SimHash64: codegen'd narrow projection, no shuffle") {
    import org.apache.spark.sql.functions._
    val df = graft.Tables.load(spark, dir, "documents").limit(10)
      .select(col("doc_id"), graft.functions.simhash64(col("text")).as("simhash"))
    val plan = planOf(df)
    assert(plan.contains("simhash64"), s"no simhash64 in:\n$plan")
    assert(plan.contains("*(1) "), s"projection not codegen'd in:\n$plan")
    assert(!plan.contains("Exchange"), s"simhash stage shuffles in:\n$plan")
    assert(df.collect().length === 10)
  }

  test("correlated scalar subqueries decorrelate to aggregate+join plans") {
    val plan = planOf(Relational.qScalarSubquery(spark, dir))
    // Catalyst must rewrite both correlated subqueries into
    // aggregate+join form — a surviving per-row subquery node would
    // mean O(rows) subquery executions
    assert(!plan.contains("ScalarSubquery"),
      s"correlated subquery not decorrelated in:\n$plan")
    assert(plan.contains("Join"), s"no join in decorrelated plan:\n$plan")
  }

  test("native SrpSig: codegen'd, SRP signature stage needs no shuffle") {
    import org.apache.spark.sql.functions._
    // filter, not limit: GlobalLimit inserts its own single-partition
    // exchange and would mask what this guard watches
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") < 10)
    val df = Similarity.srpTableBuckets(emb, "vec_id", "embedding", 12, 8)
    val plan = planOf(df)
    assert(plan.contains("srp_sig"), s"no srp_sig in:\n$plan")
    // the point: signatures + table explode are narrow — no Exchange
    // (the posexplode + 96-column groupBy formulation shuffled the
    // whole exploded corpus)
    assert(!plan.contains("Exchange"), s"SRP signature stage shuffles in:\n$plan")
    assert(df.collect().length === 80) // 8 tables x 10 vectors
  }

  test("bucketed tables join with zero shuffle (the co-located join scale lever)") {
    import org.apache.spark.sql.functions._
    // SURVEY §4 claims bucketing removes the shuffle from repeated
    // fact-fact joins; prove it in the plan. Two tables bucketed the
    // same way on the join key must SortMergeJoin with no Exchange on
    // either side.
    val wh = java.nio.file.Files.createTempDirectory("graft_bucket_spec").toString
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"))
    val bcThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast: at scale both sides are big — the point of
      // bucketing is the fact-fact case a broadcast cannot handle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ev.write.mode("overwrite")
        .bucketBy(4, "user_id").sortBy("user_id")
        .option("path", s"$wh/ev_a").saveAsTable("ev_a")
      ev.write.mode("overwrite")
        .bucketBy(4, "user_id").sortBy("user_id")
        .option("path", s"$wh/ev_b").saveAsTable("ev_b")
      val joined = spark.table("ev_a").as("a")
        .join(spark.table("ev_b").as("b"), "user_id")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles in:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcThreshold)
      spark.sql("DROP TABLE IF EXISTS ev_a")
      spark.sql("DROP TABLE IF EXISTS ev_b")
      // external-table DROP leaves the files; reclaim the temp dir
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    }
  }

  test("native CosineSim does not break WholeStageCodegen") {
    import org.apache.spark.sql.functions._
    val df = graft.Tables.load(spark, dir, "embeddings").limit(10)
      .select(graft.functions.cosine(col("embedding"), col("embedding")).as("c"))
    val plan = planOf(df)
    // the Project evaluating cosine_sim must carry the codegen marker
    assert(plan.contains("*(1) Project [cosine_sim"), s"no codegen in:\n$plan")
    assert(df.collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }
}
