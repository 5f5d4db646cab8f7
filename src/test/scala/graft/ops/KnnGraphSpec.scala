package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.cosine

/** D46 (kNN graph): full-coverage probing reproduces the exact graph
  * (brute-force twin with the same fused cosine), default dials give
  * k true-cosine edges per vector with no self-edges, the plan
  * carries no per-vector window (bounded TopKAgg only), and the
  * hot-list salt never changes the output.
  */
class KnnGraphSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** Exact kNN graph via an all-pairs self-join — test-side oracle
    * (250k pairs at sf0.001), same cosine expression, same
    * (cos desc, vec_id) tie-break as TopKAgg.
    */
  private def bruteGraph(k: Int) = {
    val corp = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
    corp.as("a").crossJoin(corp.as("b"))
      .filter($"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("q_id"), $"b.vec_id".as("vec_id"),
        cosine($"a.embedding", $"b.embedding").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), round(col("cos"), 6).as("cos"))
  }

  test("nProbe = nLists reproduces the exact graph") {
    val exact = bruteGraph(5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val full = Similarity.knnGraph(spark, dir, nLists = 16, nProbe = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(full.toSet === exact.toSet)
  }

  test("default dials: k edges per vector, no self-edges, true cosines") {
    val out = Similarity.knnGraph(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val n = graft.Tables.load(spark, dir, "embeddings").count()
    assert(out.length === n * 5)
    assert(out.forall { case (q, _, v, _) => q != v })
    // every reported edge carries the TRUE cosine (approximation only
    // affects WHICH edges surface, never their scores)
    val pairs = out.map { case (q, _, v, c) => ((q, v), c) }.toMap
    val corp = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val checked = corp.as("a").crossJoin(corp.as("b"))
      .select($"a.vec_id".as("q"), $"b.vec_id".as("v"),
        round(cosine($"a.embedding", $"b.embedding"), 6).as("cos"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pairs.foreach { case (k2, c) => assert(checked(k2) === c) }
  }

  test("plan has no per-vector window") {
    val plan = Similarity.knnGraph(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"WindowExec in plan:\n$plan")
  }

  /** One tight ball of `hot` vectors plus gaussian noise up to `total`,
    * all unique, with the ball on the vec_ids whose `md5("ivf:"||id)`
    * ranks LARGEST: the hash-pivot selection takes the smallest ranks,
    * so no pivot lands inside the ball and the whole ball shares one
    * Voronoi cell, far over [[Similarity.HotFactor]]x the mean.
    */
  private def hotCellCorpus(hot: Int, total: Int): String = {
    val d = java.nio.file.Files.createTempDirectory("knn_hot").toString
    val ball = spark.range(1L, total + 1L)
      .select(col("id").as("vec_id"),
        md5(concat(lit("ivf:"), col("id").cast("string"))).as("hk"))
      .orderBy(desc("hk")).limit(hot)
      .select(col("vec_id"), lit(true).as("is_hot"))
    val dims = (0 until 16).map { k =>
      when(col("is_hot"), lit(1.0) + lit(0.001) * randn(1000L + k))
        .otherwise(randn(2000L + k))
    }
    spark.range(1L, total + 1L).select(col("id").as("vec_id"))
      .join(ball, Seq("vec_id"), "left")
      .withColumn("is_hot", coalesce(col("is_hot"), lit(false)))
      .select(col("vec_id"), array(dims: _*).cast("array<float>").as("embedding"))
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("hot-list salt: a degenerate Voronoi cell gives the unsalted rows") {
    // 300 of 1200 vectors in one cell: ⌈√1200⌉ = 35 lists, mean ~34
    // assigned, so the ball's cell is ~9x the mean
    val d = hotCellCorpus(hot = 300, total = 1200)
    def rows(hotSalt: Int) = {
      val df = Similarity.knnGraph(spark, d, hotSalt = hotSalt)
      val out = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      (out, df.queryExecution.analyzed.toString.contains("salt"))
    }
    val (salted, saltedPlan) = rows(Similarity.HotSalt)
    val (plain, plainPlan) = rows(1)
    // non-vacuity: the corpus trips HotFactor, so the salted join ran
    assert(saltedPlan && !plainPlan)
    assert(salted.length === 1200 * 5 && plain.length === salted.length)
    assert(salted.toSet === plain.toSet)
  }
}
