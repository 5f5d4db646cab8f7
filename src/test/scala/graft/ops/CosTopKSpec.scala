package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[graft.functions.CosTopK]] — the native IVF pivot-ranking kernel —
  * must be bit-equal to the composed reference formulation
  * (`slice(reverse(array_sort(array(struct(cosine(x, cᵢ), pidᵢ)…))),
  * 1, k)` — [[Similarity.pivotRanking]]) on every prefix it serves:
  * cos values, pids, AND order, including planted exact ties
  * (duplicate centers under different pids → larger pid first) and
  * the zero-vector denom guard. Strict no-fallback codegen run
  * included (the TermTfs convention).
  */
class CosTopKSpec extends SparkSpec {

  import spark.implicits._

  private def vecs(n: Int, d: Int, seed: Long): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map(i => (i.toLong + 100,
      Seq.fill(d)((rnd.nextGaussian() * 2).toFloat)))
  }

  test("native top-k == composed sort prefix, ties and zero vectors included") {
    val d = 12
    val rnd = new scala.util.Random(7)
    val base = (1 to 40).map(i =>
      (i.toLong, Array.fill(d)((rnd.nextGaussian()).toFloat)))
    // planted ties: centers 41/42 duplicate center 1's VALUES exactly
    // (same cosine to every x), and a zero center exercises denom == 0
    val piv = (base ++ Seq(
      (41L, base.head._2.clone()), (42L, base.head._2.clone()),
      (43L, Array.fill(d)(0f)))).toArray
    val rows = vecs(200, d, seed = 11) ++
      Seq((900L, Seq.fill(d)(0f))) // zero query: cos 0 to everything
    val df = rows.toDF("vec_id", "embedding")
    for (k <- Seq(1, 4, 7, 50)) { // 50 > #centers: ragged tail
      val native = df.select(col("vec_id"),
          graft.functions.cosTopK(col("embedding"), piv.toSeq, k).as("pr"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getDouble(0), s.getLong(1))).toList).toMap
      val composed = df.select(col("vec_id"),
          slice(Similarity.pivotRanking(col("embedding"), piv), 1, k).as("pr"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getDouble(0), s.getLong(1))).toList).toMap
      assert(native.keySet === composed.keySet)
      for ((id, exp) <- composed)
        assert(native(id) === exp, s"k=$k vec $id")
      // the planted tie really is a tie and really breaks to larger pid
      if (k >= 3) {
        val ofDup = native.head._2
        val dupPids = ofDup.filter(_._1 == ofDup.head._1).map(_._2)
        if (dupPids.size >= 2)
          assert(dupPids === dupPids.sorted.reverse, "ties must order pid desc")
      }
    }
  }

  test("strict no-fallback codegen run stays correct") {
    withStrictCodegen {
      val piv = Array((1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
        (3L, Array(1f, 1f)))
      val out = Seq((10L, Seq(2f, 0f)), (11L, Seq(1f, 1f)))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"),
          graft.functions.cosTopK(col("embedding"), piv.toSeq, 2).as("pr"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(_.getLong(1)).toList).toMap
      assert(out(10L) === List(1L, 3L)) // cos 1.0 to pivot 1, 1/√2 to 3
      assert(out(11L) === List(3L, 2L)) // cos 1.0 to pivot 3; tie 1v2 → 2
    }
  }
}
