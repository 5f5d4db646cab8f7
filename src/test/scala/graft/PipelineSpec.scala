package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The chained curation pipeline (gate → CCNet perplexity-tercile
  * filter → token-budget mixture → leakage-safe grouped split →
  * partitioned write): stage counts are monotone and consistent, the
  * written set equals the independent recomposition of the four
  * oracled stages, and no source spans two splits.
  */
class PipelineSpec extends SparkSpec {

  test("pipeline chains gate + ppl filter + mixture + split") {
    val sf = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("pipe_out").toString
    val counts = Pipeline.run(spark, sf, out)
    assert(counts("n_input") === 500L)
    // monotone funnel
    assert(counts("n_kept") > 0L && counts("n_kept") <= counts("n_input"))
    assert(counts("n_ppl_kept") > 0L && counts("n_ppl_kept") <= counts("n_kept"))
    assert(counts("n_mixture") > 0L && counts("n_mixture") <= counts("n_ppl_kept"))
    // split partitions sum back to the mixture count
    val splitKeys = counts.keySet.filter(_.startsWith("n_"))
      .diff(Set("n_input", "n_kept", "n_ppl_kept", "n_mixture"))
    assert(splitKeys.nonEmpty)
    assert(splitKeys.toSeq.map(counts).sum === counts("n_mixture"))

    // the written set == independent recomposition of the stages
    val corpus = spark.read.parquet(s"$out/corpus")
    val written = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    val keepIds = graft.ops.TextOps.curationGate(spark, sf)
      .filter(col("keep")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // stage 2 buckets the GATED frame (textPplBucketsOn), so the
    // recomposition must too — whole-corpus terciles would differ
    val gatedDocs = Tables.load(spark, sf, "documents")
      .filter(col("doc_id").isInCollection(keepIds))
    val tailIds = graft.ops.TextOps.textPplBucketsOn(gatedDocs)
      .filter(col("bucket") === "tail").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val survivors = keepIds -- tailIds
    assert(counts("n_ppl_kept") === survivors.size.toLong)
    val docs = Tables.load(spark, sf, "documents")
      .filter(col("doc_id").isInCollection(survivors))
      .select(col("doc_id"), col("source"), col("text"))
    val picked = graft.ops.Sampling.sampleMixtureOn(docs, 10000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(written === picked)
    // every written doc passed every upstream stage
    assert(written.subsetOf(survivors))

    // leakage safety survives the chain: no source in two splits
    val spans = corpus.groupBy("source")
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count()
    assert(spans === 0L)
  }

  test("each stage runs once and the run frees everything it persisted") {
    val sf = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("pipe_cuts").toString
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var counts = Map.empty[String, Long]
    val stages = Trace.during(spark) { counts = Pipeline.run(spark, sf, out) }
    assert(counts("n_input") === 500L)
    // the stage cuts and the operators' internal cuts and caches
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    assert(left.isEmpty, left.values.map(_.toDebugString).mkString("\n"))
    // each stage materialized once, so no later stage re-runs the
    // gate: the cut chain runs ~60 stages here, the uncut one ran 121;
    // the bound leaves ~25% for AQE re-planning
    assert(stages.size <= 80, stages.map(s => s"${s.id} ${s.name}").mkString("\n"))
    // under the production initial width the range sort follows the
    // rows: 70 tasks here, 825 when it ran at an explicit count of
    // numShufflePartitions (about one task per scored doc); the bound
    // leaves ~25%
    val tasks = stages.map(_.tasks).sum
    assert(tasks <= 90, s"$tasks tasks:\n" +
      stages.map(s => s"${s.id} ${s.tasks} ${s.name}").mkString("\n"))
  }

  test("--unimax swaps stage 3 for the per-language waterfill (D55)") {
    val sf = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("pipe_umax").toString
    val counts = Pipeline.run(spark, sf, out, unimax = true)
    assert(counts("n_mixture") > 0L &&
      counts("n_mixture") <= counts("n_ppl_kept"))
    // written set == the D55 operator run standalone on the survivors
    val written = spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keepIds = graft.ops.TextOps.curationGate(spark, sf)
      .filter(col("keep")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val gatedDocs = Tables.load(spark, sf, "documents")
      .filter(col("doc_id").isInCollection(keepIds))
    val tailIds = graft.ops.TextOps.textPplBucketsOn(gatedDocs)
      .filter(col("bucket") === "tail").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val docs = Tables.load(spark, sf, "documents")
      .filter(col("doc_id").isInCollection(keepIds -- tailIds))
      .select(col("doc_id"), col("lang"), col("text"))
    val picked = graft.ops.Sampling.sampleUnimaxOn(docs, 10000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(written === picked)
  }
}
