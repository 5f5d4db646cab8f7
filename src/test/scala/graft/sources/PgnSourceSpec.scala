package graft.sources

import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.chess.SamplePgn

class PgnSourceSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val dir = SamplePgn.ensureWritten() // 4 files x 50 games

  test("reads all games across multiple files") {
    val df = spark.read.format("pgn").load(dir)
    assert(df.count() === 200)
  }

  test("parses tag pairs and movetext") {
    val df = spark.read.format("pgn").load(dir)
    val row = df
      .filter(element_at(col("tags"), "Site") === "https://lichess.org/game00000")
      .select(element_at(col("tags"), "White"), col("movetext"))
      .head()
    assert(row.getString(0).nonEmpty)
    assert(row.getString(1).startsWith("1."))
  }

  test("split-invariant: tiny splits give the same games as whole-file") {
    val whole = spark.read.format("pgn").load(dir)
      .select(element_at(col("tags"), "Site").as("site")).orderBy("site")
      .collect().map(_.getString(0)).toSeq
    for (split <- Seq(100, 237, 1000, 5000)) {
      val sliced = spark.read.format("pgn")
        .option("pgn.splitSize", split.toString).load(dir)
        .select(element_at(col("tags"), "Site").as("site")).orderBy("site")
        .collect().map(_.getString(0)).toSeq
      assert(sliced === whole, s"splitSize=$split")
    }
  }

  test("identical reads compare equal: a cache on one read serves the next") {
    val first = spark.read.format("pgn").load(dir).cache()
    try {
      assert(first.count() === 200)
      val second = spark.read.format("pgn").load(dir)
      assert(second.queryExecution.withCachedData
        .collectFirst { case r: InMemoryRelation => r }.nonEmpty,
        "second read missed the first read's cache")
      // a different option is a different scan: no match
      val split = spark.read.format("pgn").option("pgn.splitSize", "500").load(dir)
      assert(split.queryExecution.withCachedData
        .collectFirst { case r: InMemoryRelation => r }.isEmpty)
    } finally first.unpersist()
  }

  test("identical exchanges over one uncached read are reused") {
    def perEvent = spark.read.format("pgn").load(dir)
      .groupBy(element_at(col("tags"), "Event").as("event")).count()
    val both = perEvent.union(perEvent)
    assert(both.collect().map(_.getLong(1)).sum === 400)
    val reused = collect(both.queryExecution.executedPlan) {
      case r: ReusedExchangeExec => r
    }
    assert(reused.size === 1, s"\n${both.queryExecution.executedPlan}")
  }

  test("tiny splits produce many partitions (scale-out shape)") {
    val df = spark.read.format("pgn").option("pgn.splitSize", "500").load(dir)
    assert(df.rdd.getNumPartitions > 10)
  }

  test("gzip-compressed pgn reads whole-file (one partition per file)") {
    val gzDir = Files.createTempDirectory("pgn_gz")
    val src = Files.readAllBytes(Paths.get(dir, "games_00.pgn"))
    val gz = gzDir.resolve("games.pgn.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(gz))
    out.write(src); out.close()
    val df = spark.read.format("pgn")
      .option("pgn.splitSize", "100") // must be ignored for compressed input
      .load(gzDir.toString)
    assert(df.rdd.getNumPartitions === 1)
    assert(df.count() === 50)
  }

  test("zstd-compressed pgn reads whole-file — the reference's .pgn.zst input") {
    val zDir = Files.createTempDirectory("pgn_zst")
    val src = Files.readAllBytes(Paths.get(dir, "games_00.pgn"))
    val zst = zDir.resolve("games.pgn.zst")
    val out = new com.github.luben.zstd.ZstdOutputStream(Files.newOutputStream(zst))
    out.write(src); out.close()
    val df = spark.read.format("pgn")
      .option("pgn.splitSize", "100") // must be ignored for compressed input
      .load(zDir.toString)
    assert(df.rdd.getNumPartitions === 1)
    assert(df.count() === 50)
    // games parse identically to the uncompressed file
    val plain = spark.read.format("pgn").load(Paths.get(dir, "games_00.pgn").toString)
      .select(element_at(col("tags"), "Site").as("site"), col("movetext"))
      .orderBy("site").collect().toSeq
    val packed = df
      .select(element_at(col("tags"), "Site").as("site"), col("movetext"))
      .orderBy("site").collect().toSeq
    assert(packed === plain)
  }

  test("multi-frame .pgn.zst (pzstd-style concatenated frames) reads every frame") {
    // tools like pzstd and chunked re-compressors emit one zstd FRAME
    // per chunk; a frame-bounded reader would silently drop everything
    // after frame 1 — the worst failure mode (truncation, no error)
    val zDir = Files.createTempDirectory("pgn_zst_frames")
    val out = Files.newOutputStream(zDir.resolve("multi.pgn.zst"))
    for (f <- 0 until 3) {
      // one complete frame per chunk, byte-concatenated like pzstd
      val src = Files.readAllBytes(Paths.get(dir, f"games_0$f.pgn"))
      val bos = new java.io.ByteArrayOutputStream()
      val z = new com.github.luben.zstd.ZstdOutputStream(bos)
      z.write(src)
      z.close()
      out.write(bos.toByteArray)
    }
    out.close()
    val df = spark.read.format("pgn").load(zDir.toString)
    assert(df.count() === 150, "frames after the first were dropped")
  }

  test("nested year/month/*.pgn.zst tree: recursive listing, one partition per file") {
    // lichess-style layout: root/2024/01/*.pgn.zst, root/2024/02/...
    val root = Files.createTempDirectory("pgn_tree")
    val src = Files.readAllBytes(Paths.get(dir, "games_00.pgn")) // 50 games
    var written = 0
    for (month <- Seq("01", "02", "03")) {
      val mdir = root.resolve("2024").resolve(month)
      Files.createDirectories(mdir)
      for (i <- 0 until 2) {
        val out = new com.github.luben.zstd.ZstdOutputStream(
          Files.newOutputStream(mdir.resolve(s"part_$i.pgn.zst")))
        out.write(src); out.close()
        written += 1
      }
    }
    // hidden subtree + marker file must be pruned at every level
    val hid = root.resolve("_staging"); Files.createDirectories(hid)
    Files.writeString(hid.resolve("junk.pgn"), "[Event \"x\"]\n\n1. e4 *\n")
    Files.writeString(root.resolve("2024").resolve("_SUCCESS"), "")
    val df = spark.read.format("pgn").load(root.toString)
    assert(df.rdd.getNumPartitions === written) // 6 compressed files
    assert(df.count() === written * 50L)
  }

  test("malformed input: garbage between games and a truncated tail survive") {
    val d = Files.createTempDirectory("pgn_malformed")
    val pgn =
      "[Event \"Good game\"]\n" +
      "[Site \"https://lichess.org/ok1\"]\n" +
      "\n" +
      "1. e4 e5 1-0\n" +
      "\n" +
      "%% stray escape line the PGN spec allows\n" +
      "random garbage that is not a tag pair and not movetext }{[\n" +
      "\n" +
      "[Event \"Second game\"]\n" +
      "[Site \"https://lichess.org/ok2\"]\n" +
      "[BadTag no quotes here\n" +
      "\n" +
      "1. d4 d5 1/2-1/2\n" +
      "\n" +
      "[Event \"Truncated at EOF\"]\n" +
      "[Site \"https://lichess.org/ok3\"]\n" // no blank line, no movetext
    Files.writeString(d.resolve("bad.pgn"), pgn)
    val df = spark.read.format("pgn").load(d.toString)
    // every [Event block surfaces as a game — a malformed tag or a
    // truncated tail must degrade THAT row, not abort the scan or
    // swallow the rest of the split
    assert(df.count() === 3)
    val sites = df.select(element_at(col("tags"), "Site")).collect()
      .map(_.getString(0)).toSet
    assert(sites === Set("https://lichess.org/ok1", "https://lichess.org/ok2",
      "https://lichess.org/ok3"))
    // the well-formed tags of the damaged game still parse
    val second = df.filter(element_at(col("tags"), "Site") === "https://lichess.org/ok2").head()
    assert(second.getAs[Map[String, String]]("tags")("Event") === "Second game")
  }

  test("handles games with comments, missing tags, CRLF") {
    val d = Files.createTempDirectory("pgn_edge")
    val pgn =
      "[Event \"Casual game\"]\r\n" +
      "[Site \"https://lichess.org/x1\"]\r\n" +
      "[Result \"*\"]\r\n" +
      "\r\n" +
      "1. e4 { best by test } e5 2. Nf3 *\r\n" +
      "\r\n" +
      "[Event \"Another\"]\n" +
      "[Site \"https://lichess.org/x2\"]\n" +
      "\n" +
      "1. d4 1-0\n"
    Files.writeString(d.resolve("edge.pgn"), pgn)
    val df = spark.read.format("pgn").load(d.toString)
    assert(df.count() === 2)
    val first = df.filter(element_at(col("tags"), "Site") === "https://lichess.org/x1").head()
    assert(first.getAs[Map[String, String]]("tags")("Event") === "Casual game")
    assert(first.getAs[String]("movetext").contains("best by test"))
  }
}
