package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** D13 pins for the native [[graft.functions.PqEncode]] expression:
  * fuzz-equality against the HOF formulation it replaced (same
  * dim-order dot fold, same half-norms, same ties-to-larger-code), a
  * strict no-fallback codegen run (the TermTfs round-8 lesson), and
  * the loud-failure contract on short vectors.
  */
class PqEncodeSpec extends SparkSpec {

  private def randomBooks(rng: scala.util.Random, m: Int, k: Int,
      ds: Int): Array[IndexedSeq[(Int, Array[Double])]] =
    Array.tabulate(m)(_ => (0 until k).map(c =>
      c -> Array.fill(ds)(rng.nextGaussian())).toIndexedSeq)

  test("native codes are bit-identical to the HOF formulation (seeded fuzz)") {
    import spark.implicits._
    val rng = new scala.util.Random(83)
    for (trial <- 0 until 3) {
      val m = Seq(2, 4, 16)(trial)
      val ds = Seq(3, 4, 4)(trial)
      val k = Seq(2, 7, 16)(trial)
      val books = randomBooks(rng, m, k, ds)
      val vecs = (0 until 200).map(i =>
        (i.toLong, Array.fill(m * ds)(rng.nextGaussian().toFloat)))
      // plant exact-center rows: their subspace distance ties at 0
      // against themselves and exercises the argmax boundary
      val planted = (0 until k).map(c => ((1000 + c).toLong,
        Array.tabulate(m * ds)(j => books(j / ds)(c)._2(j % ds).toFloat)))
      val df = (vecs ++ planted).toDF("vec_id", "embedding")
      val out = df.select(col("vec_id"),
          Similarity.pqCodesHof(col("embedding"), books, ds).as("hof"),
          graft.functions.pqEncode(col("embedding"),
            books.flatMap(_.sortBy(_._1).map(_._2)).toArray, m, k, ds)
            .as("nat"))
        .collect()
      out.foreach { r =>
        assert(r.getSeq[Int](1) === r.getSeq[Int](2),
          s"trial $trial vec ${r.getLong(0)}: HOF ${r.getSeq[Int](1)} != native ${r.getSeq[Int](2)}")
      }
    }
  }

  test("NaN and null elements equal the HOF formulation (review-finding pins)") {
    import spark.implicits._
    val rng = new scala.util.Random(131)
    val m = 2; val ds = 2; val k = 3
    val books = randomBooks(rng, m, k, ds)
    val flat = books.flatMap(_.sortBy(_._1).map(_._2)).toArray
    // NaN in subspace 0 only: that subspace's scores are all NaN (the
    // HOF sort ranks NaN greatest, ties to the larger code → k-1);
    // subspace 1 encodes normally
    val df = Seq((1L, Array(Float.NaN, 0.5f, 0.25f, -0.5f)))
      .toDF("vec_id", "embedding")
      // a null ELEMENT row (not expressible in the typed Seq)
      .unionByName(Seq(2L).toDF("vec_id").withColumn("embedding",
        array(lit(null).cast("float"), lit(1.0f), lit(0.5f), lit(0.25f))))
    val out = df.select(col("vec_id"),
        Similarity.pqCodesHof(col("embedding"), books, ds).as("hof"),
        graft.functions.pqEncode(col("embedding"), flat, m, k, ds).as("nat"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Int](1), r.getSeq[Int](2))).toMap
    out.foreach { case (id, (h, n)) =>
      assert(h === n, s"vec $id: HOF $h != native $n") }
    assert(out(1L)._2.head === k - 1, "NaN subspace takes the max code")
    assert(out(2L)._2.head === k - 1, "null-element subspace takes the max code")
  }

  test("PqEncode codegen COMPILES: strict no-fallback run stays correct") {
    import spark.implicits._
    withStrictCodegen {
      // 2 subspaces × 2 codes, hand-checkable: subspace center 1 is
      // farther from (1,0) than center 0, so codes = [0, 1] for a
      // vector aligned with center 0 then center 1
      val centers = Array(
        Array(1.0, 0.0), Array(-1.0, 0.0), // subspace 0
        Array(0.0, -1.0), Array(0.0, 1.0)) // subspace 1
      val out = Seq((1L, Array(1.0f, 0.0f, 0.0f, 1.0f)))
        .toDF("vec_id", "embedding")
        .select(graft.functions.pqEncode(col("embedding"), centers,
          m = 2, k = 2, ds = 2).as("codes"))
        .collect().head.getSeq[Int](0)
      assert(out === Seq(0, 1))
    }
  }

  test("a short vector fails loudly, never encodes garbage") {
    import spark.implicits._
    val centers = Array(Array(1.0, 0.0), Array(-1.0, 0.0))
    val ex = intercept[Exception] {
      Seq((1L, Array(1.0f))).toDF("vec_id", "embedding")
        .select(graft.functions.pqEncode(col("embedding"), centers,
          m = 1, k = 2, ds = 2))
        .collect()
    }
    assert(ex.getMessage != null)
  }
}
