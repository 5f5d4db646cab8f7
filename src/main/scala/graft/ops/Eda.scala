package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The reference's EDA query surface (eda.ipynb), re-expressed on the
  * driver's test tables.
  *
  * Shapes covered (cf. /root/reference/eda.ipynb):
  *  - total count / approx distinct players
  *  - recode + proportion-of-total (who wins)
  *  - category distribution sorted by frequency (Termination)
  *  - most-active players: two group-bys self-joined, horizontal sum,
  *    top 20
  *  - daily counts, high-rating daily counts, top-20 openings
  *
  * Scale notes: proportions compute the grand total with a `sum over
  * ()` window only AFTER aggregation (input to the window is at most
  * |distinct keys| rows, never the fact table). Top-k uses sort+limit
  * which Spark executes as TakeOrderedAndProject (no global sort).
  */
object Eda {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** B1: total row count. */
  def qCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(count(lit(1)).as("n"))

  /** B2 exact twin: distinct users (exact, oracle-checkable). */
  def qDistinctExact(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).agg(countDistinct(col("user_id")).as("n_users"))

  /** B2: approx distinct (HLL++), the reference's `approx_n_unique`. */
  def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).agg(
      approx_count_distinct(col("user_id")).as("n_users_approx"),
      approx_count_distinct(col("event_type")).as("n_types_approx"))

  /** Share-of-total over an already-aggregated tiny frame: broadcast
    * the one-row grand total and divide, instead of an unpartitioned
    * `sum over ()` window — identical values (long counts sum
    * exactly; one double division either way), but no
    * single-partition WindowExec (and none of its warning noise in
    * every log). The counts frame is cache()'d: it feeds BOTH the row
    * side and the grand-total side, and without materialization each
    * side would re-run the full corpus aggregation beneath it
    * (plan-audited: two parquet scans — at 100 TB that doubles the
    * query). cache() rather than Lineage.cut: lazy (building
    * the plan doesn't run a job), evictable AND recomputable (a
    * checkpoint's blocks are pinned until the session ends — the
    * accumulation failure mode the CC loop had to unpersist by hand).
    * Used by both the driver-table and the chess EDA proportion
    * queries.
    */
  private[ops] def withProportion(counts: DataFrame): DataFrame = {
    val c = graft.Caches.share(counts)
    c.crossJoin(broadcast(c.agg(sum(col("cnt")).as("_total"))))
      .withColumn("proportion",
        col("cnt").cast("double") / col("_total").cast("double"))
      .drop("_total")
  }

  /** B3: recode map + share-of-total (winner proportions analog). */
  def qResultProportion(s: SparkSession, dir: String): DataFrame = {
    val status = when(col("o_orderstatus") === "O", "open")
      .when(col("o_orderstatus") === "F", "filled")
      .otherwise("pending").as("status")
    val counts = t(s, dir, "orders").groupBy(status).agg(count(lit(1)).as("cnt"))
    withProportion(counts)
      .orderBy(desc("proportion"), col("status"))
  }

  /** B4: category distribution (Termination analog). */
  def qGroupDist(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    withProportion(counts)
      .orderBy(desc("cnt"), col("event_type"))
  }

  /** B5: most-active users — two group-bys joined + horizontal sum,
    * top 20 (reference: White-count join Black-count).
    */
  def qTopUsers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val p = e.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("n_purchase"))
    val c = e.filter(col("event_type") === "click")
      .groupBy("user_id").agg(count(lit(1)).as("n_click"))
    p.join(c, "user_id")
      .select(col("user_id"), col("n_purchase"), col("n_click"),
        (col("n_purchase") + col("n_click")).as("n_actions"))
      .orderBy(desc("n_actions"), col("user_id"))
      .limit(20)
  }

  /** B6: daily counts (gamecount plot analog). */
  def qDailyCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("day")

  /** B7: filtered daily counts (high-Elo plot analog). */
  def qDailyHighValue(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("value") > 100.0)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("day")

  /** B8: top-20 categories (openings plot analog). */
  def qTopCategories(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .groupBy(col("p_type")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("p_type"))
      .limit(20)

  val queries: Seq[Q] = Seq(
    Q("q_count", qCount, Some(
      "SELECT count(*) AS n FROM lineitem")),
    Q("q_distinct_exact", qDistinctExact, Some(
      "SELECT count(DISTINCT user_id) AS n_users FROM events")),
    Q("q_approx_distinct", qApproxDistinct, None),
    Q("q_result_proportion", qResultProportion, Some(
      """WITH c AS (
        |  SELECT CASE WHEN o_orderstatus = 'O' THEN 'open'
        |              WHEN o_orderstatus = 'F' THEN 'filled'
        |              ELSE 'pending' END AS status,
        |         count(*) AS cnt
        |  FROM orders GROUP BY 1)
        |SELECT status, cnt,
        |       CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER () AS DOUBLE) AS proportion
        |FROM c ORDER BY proportion DESC, status""".stripMargin)),
    Q("q_group_dist", qGroupDist, Some(
      """WITH c AS (
        |  SELECT event_type, count(*) AS cnt FROM events GROUP BY 1)
        |SELECT event_type, cnt,
        |       CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER () AS DOUBLE) AS proportion
        |FROM c ORDER BY cnt DESC, event_type""".stripMargin)),
    Q("q_top_users", qTopUsers, Some(
      """WITH p AS (
        |  SELECT user_id, count(*) AS n_purchase FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |c AS (
        |  SELECT user_id, count(*) AS n_click FROM events
        |  WHERE event_type = 'click' GROUP BY 1)
        |SELECT p.user_id, n_purchase, n_click,
        |       n_purchase + n_click AS n_actions
        |FROM p JOIN c ON p.user_id = c.user_id
        |ORDER BY n_actions DESC, p.user_id LIMIT 20""".stripMargin)),
    Q("q_daily_counts", qDailyCounts, Some(
      """SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin)),
    Q("q_daily_high_value", qDailyHighValue, Some(
      """SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
        |FROM events WHERE value > 100.0 GROUP BY 1 ORDER BY day""".stripMargin)),
    Q("q_top_categories", qTopCategories, Some(
      """SELECT p_type, count(*) AS cnt FROM part
        |GROUP BY 1 ORDER BY cnt DESC, p_type LIMIT 20""".stripMargin))
  )
}
