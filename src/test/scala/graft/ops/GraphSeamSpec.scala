package graft.ops

import org.apache.spark.sql.functions._
import graft.{Caches, Tables}

/** The shared-edges seams of the graph family (round 12): each
  * `*On(edges)` variant fed ONE prebuilt, checkpointed [[Similarity.knnGraph]]
  * must return exactly what its self-contained registered key
  * computes by rebuilding the graph itself — so a pipeline (or a
  * Verify/Bench session) can pay the n^1.5 build once for all five
  * riders without any answer drift. [[graft.Pipeline.graphAudit]] is
  * the chained demonstration; this spec is the equality pin. The
  * cases that reach the CC and PageRank loops run on both paths.
  */
class GraphSeamSpec extends GraphPaths {

  private val sf = "/root/testdata/sf0.001"

  graphTest("one shared edge build feeds all five riders == self-contained keys") {
    val nodes = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val labels = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"))
    val edges = Similarity.knnGraph(spark, sf)
      .transform(graft.Lineage.cut) // the ONE build
    try {
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toString).toSeq

      assert(rows(Similarity.knnDensityOn(nodes, edges)) ===
        rows(Similarity.knnDensity(spark, sf)))
      assert(rows(Similarity.knnClassifyOn(edges, labels)) ===
        rows(Similarity.knnClassify(spark, sf)))
      assert(rows(Similarity.semanticClustersOn(nodes, edges)) ===
        rows(Similarity.semanticClusters(spark, sf)))
      assert(rows(Similarity.pageRankOn(nodes, edges)) ===
        rows(Similarity.pageRank(spark, sf)))
      assert(rows(Similarity.knnHubnessOn(nodes, edges)) ===
        rows(Similarity.knnHubness(spark, sf)))
    } finally {
      graft.Lineage.free(edges)
      Caches.sweep(spark)
    }
  }

  graphTest("shared-mutual seams == their On forms (one mutual derivation, both riders; r16)") {
    val nodes = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val edges = Similarity.knnGraph(spark, sf)
      .transform(graft.Lineage.cut)
    val mutual = Similarity.mutualEdges(edges, 0.3)
      .transform(graft.Lineage.cut) // what graphAudit shares
    try {
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toString).toSeq
      assert(rows(Similarity.semanticClustersOnMutual(nodes, mutual)) ===
        rows(Similarity.semanticClustersOn(nodes, edges)))
      assert(rows(Similarity.pageRankOnMutual(nodes, mutual)) ===
        rows(Similarity.pageRankOn(nodes, edges)))
    } finally {
      graft.Lineage.free(mutual)
      graft.Lineage.free(edges)
      Caches.sweep(spark)
    }
  }

  graphTest("graphAudit: the chained one-build session returns consistent counts") {
    val audit = graft.Pipeline.graphAudit(spark, sf)
    val n = Tables.load(spark, sf, "embeddings").count()
    assert(audit("n_edges") > 0L)
    assert(audit("n_ranked") === n)            // every vector ranked
    assert(audit("n_clusters") >= 1L && audit("n_clusters") <= n)
    assert(audit("n_outliers") < n)            // not everything is an outlier
    Caches.sweep(spark)
  }

  test("mutual riders below the broadcast threshold: a few jobs, no loop rounds") {
    val nodes = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val edges = Similarity.knnGraph(spark, sf)
      .transform(graft.Lineage.cut)
    val mutual = Similarity.mutualEdges(edges, 0.3)
      .transform(graft.Lineage.cut)
    try {
      // building the two frames runs their graph solves: CC's cut
      // (2 jobs: the dedup shuffle, the persist) and collect, then
      // PageRank's cut, node count (2) and collect — 7 in all; the
      // distributed loops take 78 on this graph. Every job runs at
      // least one stage, so counting stages bounds jobs.
      val stages = graft.Trace.during(spark) {
        Similarity.semanticClustersOnMutual(nodes, mutual)
        Similarity.pageRankOnMutual(nodes, mutual)
      }
      assert(stages.size <= 7, stages.map(_.name).mkString("\n"))
    } finally {
      graft.Lineage.free(mutual)
      graft.Lineage.free(edges)
      Caches.sweep(spark)
    }
  }

  test("knnDensityOn preserves edgeless vectors as density 0 / outlier true") {
    import spark.implicits._
    // vector 99 has no incoming q_id edges at all
    val nodes = Seq(1L, 2L, 99L).toDF("vec_id")
    val edges = Seq((1L, 2L, 0.9), (2L, 1L, 0.8))
      .toDF("q_id", "vec_id", "cos")
    val out = Similarity.knnDensityOn(nodes, edges)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(out.keySet === Set(1L, 2L, 99L)) // nobody vanishes
    assert(out(99L) === ((0.0, true)))      // isolated == the op's target
    assert(out(1L)._1 > 0.0)
  }
}
