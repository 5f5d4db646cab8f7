package graft.ops

import graft.SparkSpec

/** Runs a graph test on both paths of the graph loops: under the
  * session's own conf, where graphs this small are solved on the
  * driver ([[graft.Lineage.fitsDriver]]), and again as
  * "<name> (distributed loop)" with the broadcast threshold at -1,
  * which closes that gate so the distributed rounds run.
  */
trait GraphPaths extends SparkSpec {

  def graphTest(name: String)(body: => Any): Unit = {
    test(name)(body)
    test(s"$name (distributed loop)")(withConf(GraphPaths.Distributed)(body))
  }

  /** Whether the gate is open under the current conf. */
  def onDriver: Boolean = graft.Lineage.fitsDriver(spark, 0L, 16)
}

object GraphPaths {
  val Distributed: (String, String) = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
}
