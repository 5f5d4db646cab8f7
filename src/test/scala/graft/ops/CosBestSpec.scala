package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** D13 pins for the native [[graft.functions.CosBest]] assignment
  * kernel: fuzz-equality against the HOF formulation it replaced —
  * including the degenerate paths (zero vector → cos 0 everywhere →
  * max pid; null embedding and null elements → (null cos, max pid);
  * exact-center rows exercising cos ≈ 1 ties) — plus a strict
  * no-fallback codegen run.
  */
class CosBestSpec extends SparkSpec {

  test("native struct(cos, pid) is bit-identical to the HOF formulation (seeded fuzz)") {
    import spark.implicits._
    val rng = new scala.util.Random(59)
    for (trial <- 0 until 3) {
      val k = Seq(2, 8, 16)(trial)
      val d = Seq(4, 16, 64)(trial)
      val centers = (0 until k).map(pid =>
        pid -> Array.fill(d)(rng.nextGaussian())).toIndexedSeq
      val rows: Seq[(Long, Array[Float])] =
        (0 until 300).map(i =>
          (i.toLong, Array.fill(d)(rng.nextGaussian().toFloat))) ++
        // planted exact centers (cos 1 at their own cell) + zero vector
        centers.map { case (pid, c) =>
          ((1000 + pid).toLong, c.map(_.toFloat)) } :+
        (2000L, Array.fill(d)(0.0f))
      val df = rows.toDF("vec_id", "embedding")
        // a null-embedding row rides along (cannot sit in the typed Seq)
        .unionByName(Seq(3000L).toDF("vec_id")
          .withColumn("embedding", lit(null).cast("array<float>")))
      val out = df.select(col("vec_id"),
          Similarity.bestOfHof(col("embedding"), centers).as("h"),
          graft.functions.cosBest(col("embedding"), centers).as("n"))
        .collect()
      out.foreach { r =>
        val h = r.getStruct(1)
        val n = r.getStruct(2)
        val hc = if (h.isNullAt(0)) null else java.lang.Double.valueOf(h.getDouble(0))
        val nc = if (n.isNullAt(0)) null else java.lang.Double.valueOf(n.getDouble(0))
        assert(hc === nc, s"trial $trial vec ${r.getLong(0)}: cos $hc != $nc")
        assert(h.getInt(1) === n.getInt(1),
          s"trial $trial vec ${r.getLong(0)}: pid ${h.getInt(1)} != ${n.getInt(1)}")
      }
      // the degenerate pins hold explicitly
      val byId = out.map(r => r.getLong(0) -> r.getStruct(2)).toMap
      assert(byId(2000L).getDouble(0) === 0.0)  // zero vector: cos 0
      assert(byId(2000L).getInt(1) === k - 1)   // … → max pid
      assert(byId(3000L).isNullAt(0))           // null emb: null cos
      assert(byId(3000L).getInt(1) === k - 1)   // … → max pid
      centers.foreach { case (pid, _) =>
        assert(byId((1000 + pid).toLong).getInt(1) === pid,
          s"planted center $pid not assigned to itself") }
    }
  }

  test("CosBest codegen COMPILES: strict no-fallback run stays correct") {
    import spark.implicits._
    withStrictCodegen {
      val centers = IndexedSeq(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0))
      val out = Seq((1L, Array(0.0f, 2.0f)), (2L, Array(3.0f, 0.0f)))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"),
          graft.functions.cosBest(col("embedding"), centers).as("b"))
        .collect().map(r => r.getLong(0) ->
          (r.getStruct(1).getDouble(0), r.getStruct(1).getInt(1))).toMap
      assert(out(1L) === ((1.0, 1)))
      assert(out(2L) === ((1.0, 0)))
    }
  }
}
