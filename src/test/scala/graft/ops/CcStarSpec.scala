package graft.ops

import org.apache.spark.sql.functions._

/** Round-count and label-equality pins for the alternating-star
  * connected components (round 9): on a chain — the adversarial
  * shape for propagation — the star formulation must converge in
  * O(log n) rounds where min-label propagation needs O(n), and both
  * must agree on labels everywhere. Every case also runs on the
  * driver path, which solves these small graphs in 0 rounds.
  */
class CcStarSpec extends GraphPaths {

  private def chain(n: Int) = {
    import spark.implicits._
    val nodes = (0L until n.toLong).toDF("id")
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    (nodes, edges)
  }

  graphTest("32-link chain: star converges in O(log n) rounds, labels all 0") {
    val (nodes, edges) = chain(32)
    val (labels, rounds) = Dedup.ccAlternatingStar(nodes, edges)
    if (onDriver) assert(rounds === 0)
    else assert(rounds >= 1 && rounds <= 10,
      s"alternating star took $rounds rounds on a 32-chain")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 32 && got.values.forall(_ == 0L))
    // the propagation twin needs ~n rounds on the same graph — the
    // depth gap the star formulation exists to close
    val (plabels, prounds) = Dedup.ccLabelPropagation(nodes, edges, maxIter = 64)
    assert(prounds >= 16, s"propagation took only $prounds rounds?")
    assert(rounds < prounds / 2)
    val pgot = plabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pgot === got)
  }

  graphTest("mixed graph: star labels == propagation labels, singletons stay themselves") {
    import spark.implicits._
    // two components {1,3,5,9} (via 9-3, 3-1, 5-9), {4,7}, singleton 6
    val nodes = Seq(1L, 3L, 4L, 5L, 6L, 7L, 9L).toDF("id")
    val edges = Seq((9L, 3L), (3L, 1L), (5L, 9L), (4L, 7L)).toDF("a", "b")
    val (labels, _) = Dedup.ccAlternatingStar(nodes, edges)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 9L -> 1L,
      4L -> 4L, 7L -> 4L, 6L -> 6L))
    val (plabels, _) = Dedup.ccLabelPropagation(nodes, edges)
    assert(plabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === got)
  }

  graphTest("empty edge set: every node is its own component") {
    import spark.implicits._
    val nodes = Seq(2L, 8L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    val (labels, rounds) = Dedup.ccAlternatingStar(nodes, edges)
    assert(rounds === 0)
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(2L -> 2L, 8L -> 8L))
  }
}
