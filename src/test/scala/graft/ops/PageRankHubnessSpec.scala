package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Contract pins for D53 (`pagerank`, integer-exact power iteration
  * over the mutual-kNN graph) and D54 (`knn_hubness`, in-degree audit
  * of the directed kNN graph): a hand-computed fixed point on a
  * regular planted graph, a BigInt re-derivation from the engine's
  * own edges at default dials, conservation invariants, and no-window
  * plan guards. The PageRank cases run on both paths of its loop.
  */
private case class PrEmb(vec_id: Long, embedding: Array[Float], label: Int)

class PageRankHubnessSpec extends GraphPaths {

  private val Scale = 1000000000000L

  /** Two tight clusters of 6: at full coverage the mutual-kNN graph
    * is two disjoint K6 components — 5-regular, so the uniform rank
    * is the exact fixed point and every round is hand-computable.
    */
  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("pr_hub").toString
    def a(i: Int) = Array(1f, 0.01f * i, 0.001f, 0f)
    def b(i: Int) = Array(0.001f, 0f, 1f, 0.01f * i)
    val embs = (0 to 5).map(i => PrEmb(i.toLong, a(i), 0)) ++
      (0 to 5).map(i => PrEmb(6L + i, b(i), 1))
    embs.toDF().write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  graphTest("5-regular planted graph: hand-computed integer fixed point") {
    // n=12: r0 = 1e12/12 = 83333333333; tele = 15e12/1200 = 12500000000.
    // Round 1: per-edge contrib = (85·83333333333) div 500 =
    // 14166666666, ×5 neighbors + tele = 83333333330 — and that value
    // is its own image, so every later round is identical.
    val out = Similarity.pageRank(spark, dir, nLists = 16, nProbe = 16)
      .collect()
    assert(out.length === 12)
    for (r <- out) {
      assert(r.getAs[Long]("pr_micro") === 83333333330L)
      assert(r.getAs[Double]("pagerank") === 0.083333)
    }
  }

  graphTest("default dials == BigInt re-derivation from the engine's edges") {
    val sf = "/root/testdata/sf0.001"
    val edges = Similarity.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val directed = edges.filter(_._3 >= 0.3).map(e => (e._1, e._2)).toSet
    val mutual = directed.filter { case (x, y) => directed((y, x)) && x < y }
    val sym = mutual.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id")).collect().map(_.getLong(0))
    val n = nodes.length
    val tele = BigInt(15) * Scale / (BigInt(100) * n)
    var r = nodes.map(_ -> BigInt(Scale / n)).toMap
    for (_ <- 1 to 10) {
      val contrib = sym.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
        BigInt(85) * r(u) / (BigInt(100) * deg(u))
      }.sum).toMap
      r = nodes.map(v => v -> (tele + contrib.getOrElse(v, BigInt(0)))).toMap
    }
    val out = Similarity.pageRank(spark, sf).collect()
      .map(x => x.getAs[Long]("vec_id") -> x.getAs[Long]("pr_micro")).toMap
    assert(out === r.map { case (k, v) => k -> v.toLong })
    // mass never exceeds the unit, every node keeps its teleport floor
    assert(out.values.map(BigInt(_)).sum <= BigInt(Scale))
    assert(out.values.forall(_ >= tele.toLong))
  }

  graphTest("empty node frame: zero rows, no division by zero") {
    import spark.implicits._
    val nodes = Seq.empty[Long].toDF("vec_id")
    for (mutual <- Seq(Seq.empty[(Long, Long)], Seq(1L -> 2L)))
      assert(Similarity.pageRankOnMutual(nodes, mutual.toDF("a", "b"))
        .collect().isEmpty)
  }

  test("hubness: in-degree conservation, zero rows preserved") {
    // planted regular graph at full coverage: everyone's in-degree is
    // exactly 5 — no hubs, no antihubs
    val reg = Similarity.knnHubness(spark, dir, nLists = 16, nProbe = 16)
      .collect()
    assert(reg.length === 12)
    assert(reg.forall(r => r.getAs[Long]("in_degree") === 5L
      && !r.getAs[Boolean]("hub") && !r.getAs[Boolean]("antihub")))
    // default dials on sf0.001: re-derive from the engine's own edges
    val sf = "/root/testdata/sf0.001"
    val edges = Similarity.knnGraph(spark, sf).collect().map(_.getLong(2))
    val expected = edges.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val out = Similarity.knnHubness(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("in_degree"),
        r.getAs[Boolean]("hub"), r.getAs[Boolean]("antihub")))
    assert(out.map(_._2).sum === edges.length) // Σ in-degree = |edges|
    for ((id, d, hub, anti) <- out) {
      assert(d === expected.getOrElse(id, 0L))
      assert(hub === (d > 10L))
      assert(anti === (d === 0L))
    }
  }

  graphTest("plans have no window") {
    val p1 = Similarity.pageRank(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Window"), s"WindowExec in plan:\n$p1")
    val p2 = Similarity.knnHubness(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!p2.contains("Window"), s"WindowExec in plan:\n$p2")
  }
}
