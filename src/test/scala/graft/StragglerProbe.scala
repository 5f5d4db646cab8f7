package graft

/** Shared straggler instrumentation for the skew-probe specs
  * ([[graft.ops.CollapseSkewSpec]], [[graft.ops.SamplingSkewSpec]],
  * [[graft.ops.SkewSpec]]): collect per-task wall times for everything
  * run in a block, and assert the max task stays within a bounded
  * multiple of the median — the measurable signature that no single
  * key serialized a viral group into one unsplittable task.
  */
trait StragglerProbe { this: SparkSpec =>

  /** Task durations (ms) for every task launched while `body` runs. */
  def taskTimes(body: => Unit): Seq[Long] =
    Trace.during(spark)(body).flatMap(_.taskMs)

  /** Max task ≤ max(10× median, 5 s): the local-mode floor absorbs
    * JIT/coalesce artifacts; the counterfactual single-task sort of a
    * million viral rows is what the bound exists to catch.
    */
  def assertNoStraggler(times: Seq[Long], what: String): Unit = {
    assert(times.nonEmpty)
    val sorted = times.sorted
    val median = sorted(sorted.size / 2)
    val bound = math.max(10L * median, 5000L)
    assert(sorted.last <= bound,
      s"$what straggler: max task ${sorted.last}ms > bound ${bound}ms " +
        s"(median ${median}ms, ${times.size} tasks)")
    info(f"$what: ${times.size} tasks, median ${median}ms, max ${sorted.last}ms")
  }
}
