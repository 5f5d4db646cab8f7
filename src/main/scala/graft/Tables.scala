package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's test tables (TESTDATA.md).
  *
  * All readers go through [[Tables.load]] so session-wide scan conf
  * (pushdown, pruning) is applied uniformly. At cluster scale the same
  * code reads a directory of many files; nothing here assumes a single
  * file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Spread a CPU-dense narrow pipeline across the session's cores.
    *
    * A parquet file with a single row group scans as ONE task no
    * matter how small `maxPartitionBytes` goes (row groups are
    * assigned whole, by midpoint), so every row-local cost downstream
    * of such a scan — media decode, k-fold cosine assignment, the
    * fused text scans — serializes on one core (measured: wall ≈
    * process-CPU at local[32] for embed_kmeans / the multimodal
    * family at sf1). One round-robin repartition spreads those rows;
    * the guard makes it a NO-OP whenever the scan already produced at
    * least `defaultParallelism` partitions, which is the normal state
    * at cluster scale where a table is many files — so this never
    * adds a shuffle to a well-partitioned 100 TB read, and never
    * double-shuffles ops whose first real stage is keyed anyway.
    */
  def spread(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (scanPartitions(df) >= want) df else df.repartition(want)
  }

  /** The scan's partition count, memoized per (session, canonical
    * plan, input-file set): the `df.rdd` probe runs physical planning,
    * and `corpus()`-style helpers rebuild the same logical plan on
    * every query, so an unmemoized probe re-plans identically per
    * call. Keyed by the CANONICALIZED plan ITSELF (structural
    * equality — a hashCode collision between different plans can't
    * alias entries) plus a hash of the leaf input files, so a source
    * directory that gains files mid-session (the incremental /
    * streaming paths) invalidates naturally. Bounded by wholesale
    * clear — the working set is a handful of table scans.
    */
  private val spreadMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int),
    Integer]()
  private def scanPartitions(df: DataFrame): Int = {
    if (spreadMemo.size > 256) spreadMemo.clear()
    val fileSet = java.util.Arrays.hashCode(
      df.inputFiles.sorted.asInstanceOf[Array[AnyRef]])
    spreadMemo.computeIfAbsent(
      (df.sparkSession, df.queryExecution.logical.canonicalized, fileSet),
      _ => df.rdd.getNumPartitions).intValue()
  }

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects outright. Read it via the legacy nanos-as-long conf
    * and normalize: `ts` = microsecond-precision TimestampType (session
    * TZ is pinned to UTC everywhere, so this behaves like the naive
    * timestamp DuckDB sees), `ts_ns` = raw nanos since epoch. This is
    * the only reader of NANOS parquet, so the flag is set here, for any
    * session, and not in `Session.confs`.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // future Spark versions may read NANOS natively
        raw.withColumn("ts_ns", unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
  }
}
