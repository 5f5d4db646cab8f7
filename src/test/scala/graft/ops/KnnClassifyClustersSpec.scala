package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Contract pins for D51 (`knn_classify`, kNN majority-vote label
  * propagation) and D52 (`semantic_clusters`, connected components of
  * the mutual-kNN graph at a cosine floor), on a planted two-cluster
  * corpus probed at FULL coverage (nProbe = nLists reproduces the
  * exact graph, so every expectation is hand-computable), plus a
  * re-derivation of the default-dial vote from the engine's own
  * pinned edge set, and no-window plan guards. The cases that reach
  * the connected-components loop run on both of its paths.
  */
private case class KnnEmb(vec_id: Long, embedding: Array[Float], label: Int)

class KnnClassifyClustersSpec extends GraphPaths {

  /** Two tight clusters of 6 (cos ≈ 1 within, ≈ 0.01·ε across, all
    * pairwise-distinct): with k = 5 every vector's exact top-5 is the
    * other five members of its own cluster.
    */
  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("knn_cc").toString
    def a(i: Int) = Array(1f, 0.01f * i, 0.001f, 0f)
    def b(i: Int) = Array(0.001f, 0f, 1f, 0.01f * i)
    val embs =
      // cluster A: labels 0 except the minority plant on vec 3
      (0 to 5).map(i => KnnEmb(i.toLong, a(i), if (i == 3) 9 else 0)) ++
      // cluster B: a 2-2-2 label split -> every vote is a tie-break
      (0 to 5).map(i => KnnEmb(6L + i, b(i), 1 + i / 2))
    embs.toDF().write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("majority vote + smallest-label tie-break on the exact graph") {
    val out = Similarity.knnClassify(spark, dir, nLists = 16, nProbe = 16)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("label"), r.getAs[Int]("pred_label"),
          r.getAs[Boolean]("correct")))).toMap
    assert(out.keySet === (0L to 11L).toSet)
    // cluster A: every vector's neighbors vote 0 with at most one 9
    for (i <- 0L to 5L if i != 3L) assert(out(i) === ((0, 0, true)))
    assert(out(3L) === ((9, 0, false))) // the minority plant loses
    // cluster B labels (1,1,2,2,3,3): each vector sees the other 5 —
    // vec 6/7 vote {1:1, 2:2, 3:2} -> tie at 2, smallest label 2 wins;
    // vec 8/9 vote {1:2, 2:1, 3:2} -> pred 1; vec 10/11 -> pred 1
    assert(out(6L) === ((1, 2, false)))
    assert(out(7L) === ((1, 2, false)))
    assert(out(8L) === ((2, 1, false)))
    assert(out(9L) === ((2, 1, false)))
    assert(out(10L) === ((3, 1, false)))
    assert(out(11L) === ((3, 1, false)))
  }

  test("default dials == vote re-derived from the engine's own edges") {
    val sf = "/root/testdata/sf0.001"
    val edges = Similarity.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val labels = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = edges.groupBy(_._1).map { case (q, es) =>
      val votes = es.groupBy(e => labels(e._2)).view.mapValues(_.size)
      q -> votes.toSeq.maxBy { case (l, c) => (c, -l) }._1
    }
    val out = Similarity.knnClassify(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("pred_label")).toMap
    assert(out === expected)
  }

  graphTest("mutual-kNN components: two clusters, then all singletons") {
    val out = Similarity.semanticClusters(spark, dir,
        threshold = 0.3, nLists = 16, nProbe = 16).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster"),
        r.getAs[Long]("cluster_size")))
    assert(out.length === 12)
    for ((id, c, sz) <- out) {
      assert(c === (if (id <= 5) 0L else 6L)) // component min is the id
      assert(sz === 6L)
    }
    // a floor above every cosine leaves no edges: 12 singletons
    val solo = Similarity.semanticClusters(spark, dir,
        threshold = 1.5, nLists = 16, nProbe = 16).collect()
    assert(solo.length === 12)
    assert(solo.forall(r => r.getAs[Long]("cluster") === r.getAs[Long]("vec_id")
      && r.getAs[Long]("cluster_size") === 1L))
  }

  graphTest("plans have no window") {
    val p1 = Similarity.knnClassify(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Window"), s"WindowExec in plan:\n$p1")
    val p2 = Similarity.semanticClusters(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!p2.contains("Window"), s"WindowExec in plan:\n$p2")
  }
}
