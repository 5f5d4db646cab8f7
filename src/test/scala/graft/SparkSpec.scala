package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = {
    // session is shared across suites; never stop it here
    super.afterAll()
  }

  /** Runs `body` with the given session confs set, then puts each one
    * back as it was (set to its prior value, or unset).
    */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val prior = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Runs `body` with codegen's interpreted fallback off (so a native
    * expression whose generated code does not compile fails instead of
    * silently running interpreted) and ConvertToLocalRelation excluded
    * (so a projection over a local Seq is not constant-folded before
    * codegen).
    */
  def withStrictCodegen[T](body: => T): T = withConf(
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")(body)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config(Session.common.toMap)
      .appName("graft-spec")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
