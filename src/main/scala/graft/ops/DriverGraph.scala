package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** In-JVM solves for the graph loops whose edge list passed
  * [[graft.Lineage.fitsDriver]]: one collect of the loop's already cut
  * edge frame, then the answer the distributed loop converges to,
  * computed over primitive arrays and handed back as a local
  * `(id, value)` frame for the loop's unchanged final join. Only edge
  * endpoints reach the driver, never the node set, so a huge node set
  * with a small edge set stays distributed.
  */
private[ops] object DriverGraph {

  /** An edge list over dense endpoint indices: `ids` holds every
    * endpoint once, ascending, and edge k runs from `ids(src(k))` to
    * `ids(dst(k))`. Rows stay as collected: duplicates and self-loops
    * are kept.
    */
  final case class Edges(ids: Array[Long], src: Array[Int], dst: Array[Int])

  /** The first two columns (non-null Longs) of `edges`, in one job and
    * with no `Row` per edge: each task packs its pairs into one array.
    */
  def collect(edges: DataFrame): Edges = {
    val flat = Array.concat(edges.queryExecution.toRdd.mapPartitions { it =>
      val b = Array.newBuilder[Long]
      it.foreach { r => b += r.getLong(0); b += r.getLong(1) }
      Iterator.single(b.result())
    }.collect(): _*)
    val sorted = flat.clone()
    java.util.Arrays.sort(sorted)
    var m = 0
    for (x <- sorted if m == 0 || x != sorted(m - 1)) { sorted(m) = x; m += 1 }
    val ids = java.util.Arrays.copyOf(sorted, m)
    def at(k: Int) = java.util.Arrays.binarySearch(ids, flat(k))
    Edges(ids, Array.tabulate(flat.length / 2)(k => at(2 * k)),
      Array.tabulate(flat.length / 2)(k => at(2 * k + 1)))
  }

  /** Connected components by union-find: `(id, root)` for every
    * endpoint, root = its component's smallest id — the labels the
    * alternating-star fixpoint of [[Dedup.ccAlternatingStar]] reads
    * off its edges. A union links the larger root under the smaller,
    * so every root stays its set's smallest index, which is its
    * smallest id because `ids` ascend; finds halve their path.
    */
  def componentRoots(spark: SparkSession, g: Edges): DataFrame = {
    val parent = Array.range(0, g.ids.length)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (k <- g.src.indices) {
      val a = find(g.src(k))
      val b = find(g.dst(k))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    import spark.implicits._
    g.ids.indices.map(i => (g.ids(i), g.ids(find(i)))).toDF("id", "root")
  }

  /** `rounds` integer power-iteration rounds over the endpoints, from
    * rank `r0`: r'(v) = tele + Σ_{edges (u, v)} (85·r(u)) / (100·deg(u)),
    * deg(u) = the edges leaving u — the round of
    * [[Similarity.pageRankOnMutual]]'s distributed loop. Every operand
    * is non-negative, so Long `/` is Spark's `div`, and integer sums do
    * not depend on order: `(id, r)` is row for row the loop's result.
    * Like the loop, it takes a symmetric edge list, so every endpoint
    * is a source and receives at least one term per round.
    */
  def pageRank(spark: SparkSession, g: Edges, tele: Long, r0: Long,
      rounds: Int): DataFrame = {
    val deg = new Array[Long](g.ids.length)
    g.src.foreach(u => deg(u) += 1)
    var r = Array.fill(g.ids.length)(r0)
    for (_ <- 1 to rounds) {
      val next = Array.fill(g.ids.length)(tele)
      for (k <- g.src.indices) {
        val u = g.src(k)
        next(g.dst(k)) += 85L * r(u) / (100L * deg(u))
      }
      r = next
    }
    import spark.implicits._
    g.ids.indices.map(i => (g.ids(i), r(i))).toDF("id", "r")
  }
}
