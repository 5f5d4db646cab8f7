package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end curation pipeline — the user story in one main:
  * curation gate (quality + repetition + language + exact-dup
  * keep-first, all in D25's one pass) → CCNet perplexity-tercile
  * filter (D47 — drop the confidently-"tail" third per language) →
  * token-budget mixture materialization (D39 — √-temperature source
  * weights over the survivors' own token masses) → leakage-safe
  * grouped split → partitioned write. Each stage is a library
  * operator the per-stage oracles already pin; this object only
  * CHAINS them, adding no semantics of its own. (Order matters and
  * is the canonical one: dedup/gate rules BEFORE model-based
  * scoring, scoring before mixture assembly, the split last so its
  * proportions describe what actually ships.)
  *
  *   runMain graft.Pipeline <sfDir> <outDir> [tokenBudget]
  *   runMain graft.Pipeline <sfDir> <outDir> --unimax  (D55 mixture)
  *   runMain graft.Pipeline <sfDir> <outDir> --graph   (graphAudit)
  *
  * Writes `outDir/corpus` parquet partitioned by `split` and prints
  * one JSON line of per-stage row counts. Scale shape: the gate is a
  * narrow scan + the skew-proof collapse, the perplexity filter and
  * the mixture add only their operators' own documented exchanges,
  * the split is a narrow projection, and the sink partitions by
  * split with each split fanned over its natural parallelism.
  *
  * Each stage is materialized once ([[Lineage.cutCounted]]: one job
  * both persists its rows and counts them), so a later stage, its
  * count and the sink read those rows instead of re-running every
  * stage before it (the gate's collapse join and semi-join above
  * all). The cost is one persisted (MEMORY_AND_DISK) copy per stage:
  * the full gated documents, at most the input's size, then the
  * shrinking perplexity-kept and mixed subsets of it. A shuffled gate
  * join leaves the gated cut hash-partitioned by `doc_id` and the cut
  * keeps that partitioning, so the stage-2 anti-join does not shuffle
  * it again. [[run]] frees those cuts, and the cuts and cached frames
  * its operators make internally, before it returns.
  */
object Pipeline {

  /** Run the chain, returning per-stage counts (and writing the final
    * corpus under `outDir/corpus`, partitioned by split). The run is one
    * [[Caches.scoped]] body, so both cache layers it fills are released
    * before it returns: the CacheManager entries its operators
    * [[Caches.share]] (the perplexity model's unigram and bigram
    * frames, the mixture's per-source totals) and every RDD it
    * persists (the stage cuts and the operators' internal cuts).
    * Caches that existed before the call survive it, and a call inside
    * another scope releases only its own. A session that calls it
    * repeatedly therefore holds no more after each call than before
    * the first.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      tokenBudget: Long = 10000L, unimax: Boolean = false)
      : Map[String, Long] = Caches.scoped(spark) {
    val docs = Tables.load(spark, sfDir, "documents")
    val total = docs.count()
    // stage 1: quality/language/repetition/dup gate (D25) — keep only
    // passing docs; the gate's flags are oracle-pinned per signal
    val kept = graft.ops.TextOps.curationGate(spark, sfDir)
      .filter(col("keep")).select("doc_id")
    val (gated, nGated) =
      Lineage.cutCounted(docs.join(kept, Seq("doc_id"), "left_semi"))
    // stage 2: CCNet §3.3 — drop each language's highest-perplexity
    // tercile (D47). Docs the LM cannot score (no bigram) pass
    // through: the filter only demotes confidently-tail documents.
    // Trained/bucketed over the GATED frame (textPplBucketsOn, round
    // 12): the tercile boundaries describe the survivors this stage
    // actually filters — bucketing the whole corpus would shift the
    // cuts by already-dropped docs and remove more or less than a
    // third of the gated set.
    val tail = graft.ops.TextOps.textPplBucketsOn(gated)
      .filter(col("bucket") === "tail").select("doc_id")
    val (headMid, nPpl) =
      Lineage.cutCounted(gated.join(tail, Seq("doc_id"), "left_anti"))
    // stage 3: training-mix materialization — default D39 (per-source
    // √-temperature token budgets), or with `unimax` the D55 policy
    // (per-LANGUAGE epoch-capped waterfill; Chung et al. 2023 argue it
    // dominates temperature sampling for multilingual mixes). Both run
    // over the SURVIVORS' own token masses, each group contributing
    // its shortest hash-priority prefix.
    val picked = (
      if (unimax) graft.ops.Sampling.sampleUnimaxOn(
        headMid.select(col("doc_id"), col("lang"), col("text")), tokenBudget)
      else graft.ops.Sampling.sampleMixtureOn(
        headMid.select(col("doc_id"), col("source"), col("text")), tokenBudget))
      .select("doc_id")
    val (mixed, nMixed) =
      Lineage.cutCounted(headMid.join(picked, Seq("doc_id"), "left_semi"))
    // stage 4: leakage-safe grouped split (D23) — whole sources land
    // in one split, so near-dups inside a source cannot cross
    // train/test
    val split = graft.ops.Sampling.sampleSplitGrouped(spark, sfDir)
      .select(col("doc_id"), col("split"))
    val out = mixed.join(split, Seq("doc_id"))
    out.write.mode("overwrite").partitionBy("split")
      .parquet(s"$outDir/corpus")
    val bySplit = spark.read.parquet(s"$outDir/corpus")
      .groupBy("split").count().collect()
      .map(r => s"n_${r.getString(0)}" -> r.getLong(1)).toMap
    Map("n_input" -> total, "n_kept" -> nGated,
      "n_ppl_kept" -> nPpl, "n_mixture" -> nMixed) ++ bySplit
  }

  /** The graph-analytics session: build the n^1.5 [[graft.ops.Similarity.knnGraph]]
    * ONCE (Lineage.cut — the expensive IVF self-join materializes a
    * single time) and feed all five graph riders through their
    * `*On(edges)` seams, instead of paying the build per rider as the
    * self-contained registered keys do (5 riders × the build). Returns
    * the per-rider headline counts; the seam-equality spec pins each
    * On output equal to its registered key. Like [[run]] it runs
    * under [[Caches.scoped]], so the edge and mutual-edge cuts and the
    * riders' own materializations are released before it returns.
    */
  def graphAudit(spark: SparkSession, sfDir: String)
      : Map[String, Long] = Caches.scoped(spark) {
    val nodes = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val labels = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"))
    val edges = graft.ops.Similarity.knnGraph(spark, sfDir)
      .transform(Lineage.cut) // ONE build feeds all five riders
    // ... and ONE mutual-kNN derivation feeds both mutual-graph riders
    // (r16, guide §1.2): clusters and pagerank previously each re-ran
    // the filter + intersect over the full edge list — identical
    // frames by construction (the public *On seams delegate through
    // the same mutualEdges). Cut so the CC loop and the 10 power
    // iterations both read materialized rows.
    val mutual = graft.ops.Similarity.mutualEdges(edges,
        graft.ops.Similarity.MutualThreshold)
      .transform(Lineage.cut)
    // One COLLECT for all six rider headlines (r17): each count was
    // its own sequential action, serializing six small jobs at the
    // end of an audit that is latency-bound at sf0.1 (core-ratio
    // ~1.0, r16 verdict item 2). The iterative riders cut, count
    // and (below the broadcast threshold) collect and solve their
    // graph on the driver while their frames are CONSTRUCTED; only
    // above Lineage.fitsDriver do they run their distributed loop
    // rounds eagerly there. The six final aggregations share one
    // job whose independent subtrees the scheduler runs
    // concurrently. Values are identical by construction — each
    // union leg is exactly the old count/distinct-count.
    val legs: Seq[(String, DataFrame)] = Seq(
      "n_edges" -> edges.select(count(lit(1)).as("n")),
      "n_outliers" -> graft.ops.Similarity.knnDensityOn(nodes, edges)
        .filter(col("outlier")).select(count(lit(1)).as("n")),
      "n_misclassified" -> graft.ops.Similarity.knnClassifyOn(edges, labels)
        .filter(!col("correct")).select(count(lit(1)).as("n")),
      "n_clusters" -> graft.ops.Similarity.semanticClustersOnMutual(nodes, mutual)
        .select(countDistinct(col("cluster")).as("n")),
      "n_hubs" -> graft.ops.Similarity.knnHubnessOn(nodes, edges)
        .filter(col("hub")).select(count(lit(1)).as("n")),
      "n_ranked" -> graft.ops.Similarity.pageRankOnMutual(nodes, mutual)
        .select(count(lit(1)).as("n")))
    val all = legs.map { case (k, df) => df.select(lit(k).as("k"), col("n")) }
      .reduce(_.unionAll(_)).collect()
    val byKey = all.map(r => r.getString(0) -> r.getLong(1)).toMap
    legs.map { case (k, _) => k -> byKey(k) }.toMap
  }

  def main(args: Array[String]): Unit = {
    // `--graph`: run the shared-edges graph-analytics session instead
    // of the document chain; `--unimax`: stage 3 uses the D55
    // per-language waterfill instead of the D39 source mixture
    val budget = args.drop(2).filterNot(a => a == "--graph" || a == "--unimax") match {
      case Array() => Some(10000L)
      case Array(b) => b.toLongOption
      case _ => None
    }
    val (sfDir, outDir, tokenBudget) = (args.take(2), budget) match {
      case (Array(sf, out), Some(b)) => (sf, out, b)
      case _ =>
        System.err.println(
          "usage: runMain graft.Pipeline <sfDir> <outDir> [tokenBudget]\n" +
          "       runMain graft.Pipeline <sfDir> <outDir> --unimax  (D55 mixture)\n" +
          "       runMain graft.Pipeline <sfDir> <outDir> --graph   (graphAudit)")
        sys.exit(2)
    }
    val spark = Session.start()
    try {
      val counts =
        if (args.contains("--graph")) graphAudit(spark, sfDir)
        else run(spark, sfDir, outDir, tokenBudget,
          unimax = args.contains("--unimax"))
      println(counts.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}"))
    } finally {
      Caches.sweep(spark)
      spark.stop()
    }
  }
}
