package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The micro-batch replay protocol every persistent-output stream in
  * this package follows (SURVEY §2 E9–E12) — the only code that knows
  * it.
  *
  * Exactly-once without a transaction log: every sink (output and
  * index tables alike) partitions by `ingest_batch` under DYNAMIC
  * overwrite ([[append]]), so a replayed batch (crash after the
  * write, before the offset commit) overwrites exactly its own
  * partitions; every history read EXCLUDES the current batch id
  * ([[history]]), so a replay that already half-wrote its partitions
  * does not count its own rows as history. A replay therefore sees
  * the same history and writes the same rows. This is the
  * [[graft.chess.StreamIngest]] replay idea minus the counter state
  * those streams don't need.
  *
  * `checkpointDir` and the stream's index/output dirs must live and
  * die TOGETHER: replay idempotence keys the partitions on this
  * stream's batch ids, so pointing a FRESH checkpoint (ids restart at
  * 0) at an old index would overwrite committed partitions with
  * different data. Starting over means clearing all of them.
  */
object Replay {

  /** Tail a parquet directory: each micro-batch goes to `apply` with
    * its batch id. File streams need an explicit schema; `None` infers
    * it from the files already in `dir` (the deployment contract: the
    * stream tails a directory some writer already publishes complete
    * files into), which throws on an empty dir — pass the schema to
    * start a stream before its feed's first file lands.
    */
  def tail(spark: SparkSession, dir: String, schema: Option[StructType],
      checkpointDir: String)(apply: (DataFrame, Long) => Unit)
      : StreamingQuery =
    spark.readStream
      .schema(schema.getOrElse(spark.read.parquet(dir).schema))
      .parquet(dir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        apply(batch.toDF(), batchId)
      }
      .start()

  /** The committed rows of `dir` minus batch `batchId`'s own, or
    * `None` while `dir` is absent or empty (before the first committed
    * batch). The existence check goes through the session's Hadoop
    * conf (`sessionState.newHadoopConf()`, as ingest's state reads
    * do), the conf the parquet read itself uses, so remote URIs and
    * session-set `fs.*` options reach both.
    */
  def history(spark: SparkSession, dir: String, batchId: Long)
      : Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p) && fs.listStatus(p).nonEmpty)
      Some(spark.read.parquet(dir).filter(col("ingest_batch") =!= batchId))
    else None
  }

  /** Append `df` (which carries its `ingest_batch` column) to `dir`,
    * partitioned by `ingest_batch` then `subKeys`, replacing only the
    * partitions `df` writes.
    */
  def append(df: DataFrame, dir: String, subKeys: String*): Unit =
    df.write.mode("overwrite")
      .partitionBy("ingest_batch" +: subKeys: _*)
      .option("partitionOverwriteMode", "dynamic")
      .parquet(dir)
}
