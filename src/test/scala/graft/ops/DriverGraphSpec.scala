package graft.ops

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The driver-side graph solves ([[DriverGraph]]) against the
  * distributed loops they stand in for: on seeded random graphs,
  * connected-component labels and PageRank ranks must be the same
  * rows on both paths.
  */
class DriverGraphSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  /** CC labels and PageRank of `nodes` over the undirected `edges`,
    * solved on the driver, then through the distributed loops.
    */
  private def samePaths(nodes: Seq[Long], edges: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val n = nodes.toDF("id")
    val e = edges.toDF("a", "b")
    def solve(): (Seq[String], Int, Seq[String]) = {
      val (labels, rounds) = Dedup.ccAlternatingStar(n, e)
      (rows(labels.orderBy("id")), rounds,
        rows(Similarity.pageRankOnMutual(n.select(col("id").as("vec_id")), e)))
    }
    val (ccDriver, driverRounds, prDriver) = solve()
    val (ccLoop, loopRounds, prLoop) = withConf(GraphPaths.Distributed)(solve())
    assert(driverRounds === 0)
    assert(loopRounds > 0 || edges.forall { case (a, b) => a == b })
    assert(ccDriver.size === nodes.size)
    sameRows("cc", ccDriver, ccLoop)
    sameRows("pagerank", prDriver, prLoop)
  }

  /** Fails with the first differing row, not two whole row lists. */
  private def sameRows(what: String, driver: Seq[String], loop: Seq[String]): Unit =
    if (driver != loop) {
      val j = driver.zip(loop).indexWhere { case (d, l) => d != l }
      val i = if (j >= 0) j else driver.size min loop.size
      fail(s"$what: ${driver.size} driver rows vs ${loop.size} loop rows; " +
        s"first difference at row $i: ${driver.lift(i)} vs ${loop.lift(i)}")
    }

  /** `m` random edges among `ids`, each endpoint pair drawn by `pick`. */
  private def randomEdges(rnd: Random, ids: IndexedSeq[Long], m: Int)
      (pick: Int => Int): Seq[(Long, Long)] =
    Seq.fill(m) {
      val i = rnd.nextInt(ids.size)
      (ids(i), ids(pick(i)))
    }

  test("many components") {
    val rnd = new Random(11)
    val ids = (0L until 3000L).toIndexedSeq
    // edges stay inside blocks of 30: ~20 edges over 30 nodes per
    // block leaves several components and singletons in each
    samePaths(ids, randomEdges(rnd, ids, 2000)(i => i / 30 * 30 + rnd.nextInt(30)))
  }

  test("1000-link chain over shuffled ids, mixed orientation") {
    val rnd = new Random(12)
    val ids = rnd.shuffle((0L to 1000L).toIndexedSeq)
    val links = ids.sliding(2).map { case Seq(x, y) =>
      if (rnd.nextBoolean()) (x, y) else (y, x) }.toSeq
    samePaths(ids, rnd.shuffle(links))
  }

  test("self-loops and duplicate edges") {
    val rnd = new Random(13)
    val ids = (0L until 200L).toIndexedSeq
    val base = randomEdges(rnd, ids, 300)(_ => rnd.nextInt(ids.size))
    val loops = Seq.fill(50)(ids(rnd.nextInt(ids.size))).map(x => (x, x))
    val dups = Seq.fill(100)(base(rnd.nextInt(base.size)))
      .map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
    samePaths(ids, rnd.shuffle(base ++ loops ++ dups))
  }

  test("sparse large ids") {
    val rnd = new Random(14)
    val ids = (Seq.fill(499)(rnd.nextLong() & Long.MaxValue) :+ Long.MaxValue)
      .distinct.toIndexedSeq
    samePaths(ids, randomEdges(rnd, ids, 400)(_ => rnd.nextInt(ids.size)))
  }

  test("dangling nodes: most nodes have no edge") {
    val rnd = new Random(15)
    val ids = (0L until 500L).toIndexedSeq
    samePaths(ids, randomEdges(rnd, ids.take(100), 150)(_ => rnd.nextInt(100)))
  }

  test("empty graph: no edges, then no nodes either") {
    samePaths((0L until 10L), Seq.empty)
    samePaths(Seq.empty, Seq.empty)
  }
}
