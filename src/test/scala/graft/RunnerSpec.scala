package graft

import java.io.{ByteArrayOutputStream, PrintStream}

/** [[Runner.attempt]], the one attempt loop of Bench, Verify and RunQ:
  * a NonFatal failure comes back with the stage rows of the work that
  * ran before it, a fatal one propagates, and the session's persisted
  * blocks are swept on every path.
  */
class RunnerSpec extends SparkSpec {

  /** Runs `body` with System.err captured; returns its stderr lines. */
  private def stderrOf(body: => Unit): Seq[String] = {
    val buf = new ByteArrayOutputStream()
    val prior = System.err
    System.setErr(new PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(prior)
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("a body that throws after one job returns the failure and that job's stages") {
    var a: Runner.Attempt = null
    val err = stderrOf {
      a = Runner.attempt(spark, "spec", "throws", trace = true) {
        spark.sparkContext.parallelize(1 to 100, 3).map(_ * 2).collect()
        throw new IllegalStateException("boom", new RuntimeException("root"))
      }
    }
    assert(!a.ok)
    assert(a.failure.map(_.getClass) === Some(classOf[IllegalStateException]))
    assert(a.stages.map(_.tasks) === Seq(3))
    val mine = err.filter(_.startsWith("[spec]"))
    assert(mine.head === "[spec] throws failed: java.lang.IllegalStateException: boom")
    assert(mine.tail.init.nonEmpty && mine.tail.init.size <= 10 &&
      mine.tail.init.forall(_.startsWith("[spec]   at ")), mine)
    assert(mine.last === "[spec]   cause: java.lang.RuntimeException: root")
  }

  test("a failed attempt leaves none of the RDDs it persisted") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var ids = Seq.empty[Int]
    val a = Runner.attempt(spark, "spec", "persists") {
      val rdd = spark.sparkContext.parallelize(1 to 100, 2).persist()
      rdd.count()
      val cached = spark.range(0, 100).toDF("id").cache()
      cached.count()
      val cut = Lineage.cut(spark.range(0, 50).toDF("id"))
      cut.count()
      ids = spark.sparkContext.getPersistentRDDs.keySet.diff(before).toSeq
      throw new IllegalStateException("after persisting")
    }
    assert(!a.ok)
    assert(ids.size === 3, ids)
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(ids.toSet).isEmpty)
  }

  test("a StackOverflowError propagates out of the attempt, and the sweep still runs") {
    var id = -1
    intercept[StackOverflowError] {
      Runner.attempt(spark, "spec", "fatal", trace = true) {
        val rdd = spark.sparkContext.parallelize(1 to 10, 2).persist()
        rdd.count()
        id = rdd.id
        throw new StackOverflowError("deep")
      }
    }
    assert(id >= 0)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
  }

  test("a body that succeeds returns no failure, wall > 0 and CPU >= 0") {
    val a = Runner.attempt(spark, "spec", "ok") {
      spark.range(0, 10000).selectExpr("sum(id)").collect()
    }
    assert(a.ok && a.failure.isEmpty)
    assert(a.wall > 0 && a.cpu >= 0 && a.gc >= 0)
    assert(a.stages.isEmpty) // untraced
  }
}
