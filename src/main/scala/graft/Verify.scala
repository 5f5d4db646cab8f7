package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // dev convenience: trailing args restrict the dump to named
    // queries (the driver always calls with exactly two args)
    val (sfDir, outDir, only) = args match {
      case Array(sf, out, names @ _*) => (sf, out, names.toSet)
      case _ =>
        System.err.println("usage: runMain graft.Verify <sfDir> <outDir> [query ...]")
        sys.exit(2)
    }
    val spark = Session.start()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        // coalesce(1) (narrow) keeps the final ORDER BY intact; the
        // sort's range-exchange above it still runs parallel.
        val a = Runner.attempt(spark, "verify", name) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        if (a.ok) System.err.println(f"[verify] $name ok (${a.wall}%.1fs)")
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
