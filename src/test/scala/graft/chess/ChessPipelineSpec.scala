package graft.chess

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.UnionExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import graft.SparkSpec

class ChessPipelineSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Four hand-crafted games with known stats. alice plays 3 games
    * (2 Blitz, 1 Bullet), bob 2, carol 2, dave 1.
    */
  private lazy val pgnDir: String = {
    val d = Files.createTempDirectory("pgn_pipe")
    val pgn =
      """[Event "Rated Blitz game"]
        |[Site "https://lichess.org/g1"]
        |[White "alice"]
        |[Black "bob"]
        |[Result "1-0"]
        |[UTCDate "2024.03.01"]
        |[UTCTime "10:00:00"]
        |[WhiteElo "1500"]
        |[BlackElo "1600"]
        |[WhiteRatingDiff "+8"]
        |[BlackRatingDiff "-8"]
        |[ECO "B20"]
        |[Opening "Sicilian Defense"]
        |[TimeControl "300+0"]
        |[Termination "Normal"]
        |
        |1. e4 c5 2. Nf3 d6 3. d4 cxd4 4. Nxd4 Nf6 5. Nc3 1-0
        |
        |[Event "Rated Blitz tournament https://lichess.org/tournament/xyz"]
        |[Site "https://lichess.org/g2"]
        |[White "carol"]
        |[Black "alice"]
        |[Result "0-1"]
        |[UTCDate "2024.03.01"]
        |[UTCTime "11:00:00"]
        |[WhiteElo "?"]
        |[BlackElo "1520"]
        |[WhiteRatingDiff "?"]
        |[BlackRatingDiff "+5"]
        |[ECO "C20"]
        |[Opening "King's Pawn Game"]
        |[TimeControl "300+0"]
        |[Termination "Time forfeit"]
        |
        |1. e4 { [%eval 0.3] } e5 { [%eval 0.1] } 2. Nf3 Nc6 3. Bb5 a6 4. Ba4 Nf6 0-1
        |
        |[Event "Rated Bullet game"]
        |[Site "https://lichess.org/g3"]
        |[White "alice"]
        |[Black "carol"]
        |[Result "1/2-1/2"]
        |[UTCDate "2024.03.02"]
        |[UTCTime "09:00:00"]
        |[WhiteElo "1490"]
        |[BlackElo "1410"]
        |[WhiteRatingDiff "+0"]
        |[BlackRatingDiff "+0"]
        |[WhiteTitle "GM"]
        |[ECO "A00"]
        |[Opening "Polish Opening"]
        |[TimeControl "60+0"]
        |[Termination "Normal"]
        |
        |1. b4 e5 2. Bb2 Bxb4 3. Bxe5 Nf6 1/2-1/2
        |
        |[Event "Rated Blitz game"]
        |[Site "https://lichess.org/g4"]
        |[White "bob"]
        |[Black "dave"]
        |[Result "1-0"]
        |[UTCDate "2024.03.02"]
        |[UTCTime "10:30:00"]
        |[WhiteElo "1650"]
        |[BlackElo "1700"]
        |[WhiteRatingDiff "+7"]
        |[BlackRatingDiff "-7"]
        |[ECO "B20"]
        |[Opening "Sicilian Defense"]
        |[TimeControl "300+0"]
        |[Termination "Normal"]
        |
        |1. e4 c5 2. Nf3 1-0
        |""".stripMargin
    Files.writeString(d.resolve("t.pgn"), pgn)
    d.toString
  }

  private lazy val raw: DataFrame = spark.read.format("pgn").load(pgnDir)

  private lazy val games = ChessPipeline.parseGames(raw)
  private lazy val pgr = ChessPipeline.fromPgn(raw)

  test("parses and cleans tags") {
    val g2 = games.filter(col("ID") === "g2").head()
    assert(g2.getAs[String]("Event") === "Rated Blitz") // tournament suffix stripped
    assert(g2.getAs[Boolean]("Tournament"))
    assert(g2.getAs[Any]("WhiteElo") == null) // "?" -> null
    assert(g2.getAs[Int]("BlackElo") === 1520)
    assert(g2.getAs[Any]("WhiteRatingDiff") == null)
    assert(g2.getAs[Int]("BlackRatingDiff") === 5) // "+5" -> 5
    assert(g2.getAs[Boolean]("Evaluation_flag"))
    val g1 = games.filter(col("ID") === "g1").head()
    assert(!g1.getAs[Boolean]("Tournament"))
    assert(g1.getAs[String]("Event") === "Rated Blitz game")
    assert(!g1.getAs[Boolean]("Evaluation_flag"))
    // moves truncated at "4."
    assert(g1.getAs[String]("Moves") === "1. e4 c5 2. Nf3 d6 3. d4 cxd4 ")
    assert(g1.getAs[java.sql.Timestamp]("DateTime").toString === "2024-03-01 10:00:00.0")
  }

  test("title flag and missing title") {
    val g3 = games.filter(col("ID") === "g3").head()
    assert(g3.getAs[String]("WhiteTitle") === "GM")
    assert(g3.getAs[Boolean]("WhiteTitle_flag"))
    assert(g3.getAs[Any]("BlackTitle") == null)
    assert(!g3.getAs[Boolean]("BlackTitle_flag"))
  }

  test("player-game-role doubling with result reversal") {
    assert(pgr.count() === 8) // 4 games x 2 roles
    val g1 = pgr.filter(col("ID") === "g1").orderBy(desc("Role_player")).collect()
    val w = g1(0); val b = g1(1)
    assert(w.getAs[String]("Role_player") === "White")
    assert(w.getAs[String]("Player") === "alice")
    assert(w.getAs[String]("Opponent") === "bob")
    assert(w.getAs[String]("Result") === "1-0")
    assert(b.getAs[String]("Role_player") === "Black")
    assert(b.getAs[String]("Player") === "bob")
    assert(b.getAs[String]("Opponent") === "alice")
    assert(b.getAs[String]("Result") === "0-1") // reversed
    // draw is not reversed
    val g3b = pgr.filter(col("ID") === "g3" && col("Role_player") === "Black").head()
    assert(g3b.getAs[String]("Result") === "1/2-1/2")
  }

  test("cumulative game counts follow (DateTime, ID) order") {
    val alice = pgr.filter(col("Player") === "alice")
      .orderBy("DateTime")
      .select("ID", "Player_cum_games_total", "Player_cum_games_type")
      .collect()
    // g1 (Blitz) -> total 1, type 1; g2 (Blitz tournament, same cleaned
    // type "Rated Blitz"? no: g1 type is "Rated Blitz game", g2 is
    // "Rated Blitz") -> total 2, type 1; g3 (Bullet) -> total 3, type 1
    assert(alice.map(_.getInt(1)).toSeq === Seq(1, 2, 3))
    assert(alice.map(_.getInt(2)).toSeq === Seq(1, 1, 1))
  }

  test("running max Elo, '?' keeps previous (0 if none)") {
    // carol: g2 (White, Elo "?", event "Rated Blitz") -> max 0
    //        g3 (Black, 1410, event "Rated Bullet game") -> max 1410
    val carol = pgr.filter(col("Player") === "carol").orderBy("DateTime")
      .select("ID", "PlayerElo_max", "PlayerElo_max_faced").collect()
    assert(carol.map(_.getInt(1)).toSeq === Seq(0, 1410))
    // reference bug replicated: max_faced == max (ingester.py:210-218)
    assert(carol.map(_.getInt(2)).toSeq === Seq(0, 1410))
  }

  test("stable per-player random is consistent across rows") {
    val r = pgr.filter(col("Player") === "alice")
      .select("Player_random").distinct().collect()
    assert(r.length === 1)
    val v = r(0).getDouble(0)
    assert(v >= 0.0 && v < 1.0)
    // opponent side sees the same number
    val o = pgr.filter(col("Opponent") === "alice")
      .select("Opponent_random").distinct().collect()
    assert(o.length === 1 && o(0).getDouble(0) === v)
  }

  test("elo bin labels match the reference cut()") {
    val bins = pgr.select("PlayerElo", "PlayerElo_bin").distinct().collect()
    bins.foreach { row =>
      Option(row.get(0)).foreach { elo =>
        val e = elo.asInstanceOf[Int]
        val lo = math.ceil(e / 200.0).toInt * 200 - 200
        assert(row.getString(1) === s"($lo, ${lo + 200}]", s"elo=$e")
      }
    }
  }

  test("withStats computes the window stage once (pivot, not two side-joins)") {
    val df = ChessPipeline.withStats(games)
    df.collect() // AQE finalizes stages at execution
    // AQE's toString appends "== Initial Plan ==" after the final
    // plan — count nodes in the final plan only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the long-form explode and each window spec must appear exactly
    // once; the old two-side-join shape duplicated the whole subtree
    val nGenerate = "Generate explode".r.findAllIn(plan).size
    val nWindow = "Window \\[".r.findAllIn(plan).size
    assert(nGenerate === 1, s"explode ran $nGenerate times:\n$plan")
    assert(nWindow <= 2, s"window stage duplicated ($nWindow nodes):\n$plan")
  }

  test("withStats keeps games with null Event and null player name") {
    // a missing White/Black tag -> null name; Event '?' -> null. The
    // windows keep null partition keys as their own groups, or these
    // games would vanish.
    val g = games
      .withColumn("Event",
        when(col("ID") === "g1", lit(null).cast("string")).otherwise(col("Event")))
      .withColumn("White",
        when(col("ID") === "g4", lit(null).cast("string")).otherwise(col("White")))
    assert(ChessPipeline.withStats(g).count() === games.count())
  }

  test("withStats keeps rows with null DateTime") {
    // a malformed date parses to null and must not vanish
    val g = games.limit(1).withColumn("DateTime",
      lit(null).cast("timestamp"))
      .unionByName(games)
    assert(ChessPipeline.withStats(g).count() === games.count() + 1)
  }

  test("incremental ingestion carries prior state for null-keyed players") {
    // the prior-offset joins must be null-safe as well: alice's g2 has
    // a null Event, and a null-named player spans both batches
    val g = games
      .withColumn("Event",
        when(col("ID") === "g2", lit(null).cast("string")).otherwise(col("Event")))
      .withColumn("White", when(col("ID").isin("g1", "g4"),
        lit(null).cast("string")).otherwise(col("White")))
    val b1 = g.filter(col("DateTime") < "2024-03-02")
    val b2 = g.filter(col("DateTime") >= "2024-03-02")
    val state1 = ChessPipeline.statsState(b1)
    val incremental = ChessPipeline.withStats(b1)
      .unionByName(ChessPipeline.withStats(b2, Some(state1)))
    val full = ChessPipeline.withStats(g)
    val cols = full.columns.sorted.map(col)
    val a = incremental.select(cols: _*).orderBy("ID").collect().toSeq
    val b = full.select(cols: _*).orderBy("ID").collect().toSeq
    assert(a.size === games.count(), "dropped rows")
    assert(a === b)
  }

  test("incremental two-batch ingestion equals one full batch") {
    // split by day: batch1 = Mar 1 games, batch2 = Mar 2 games
    val g = ChessPipeline.parseGames(raw)
    val b1 = g.filter(col("DateTime") < "2024-03-02")
    val b2 = g.filter(col("DateTime") >= "2024-03-02")
    val state1 = ChessPipeline.statsState(b1)
    val incremental = ChessPipeline.toPlayerGameRole(ChessPipeline.withStats(b1))
      .unionByName(ChessPipeline.toPlayerGameRole(
        ChessPipeline.withStats(b2, Some(state1))))
    val full = ChessPipeline.fromPgn(raw)
    val cols = full.columns.sorted.map(col)
    val a = incremental.select(cols: _*).orderBy("ID", "Role_player").collect()
    val b = full.select(cols: _*).orderBy("ID", "Role_player").collect()
    assert(a.toSeq === b.toSeq)
  }

  /** The role doubling as a union of two projections, the shape
    * [[ChessPipeline.toPlayerGameRole]] replaced: kept here as the
    * reference its one-pass output must equal, schema and rows.
    */
  private def unionRoles(games: DataFrame): DataFrame = {
    val gameCols = Seq("ID", "ID_random", "Event", "Tournament", "ECO",
      "Opening", "TimeControl", "Termination", "DateTime", "Moves",
      "Evaluation_flag").filter(games.columns.contains(_))
    val resultRev = when(col("Result") === "1-0", "0-1")
      .when(col("Result") === "0-1", "1-0").otherwise(col("Result"))
    def perspective(me: String, opp: String, result: Column): DataFrame =
      games.select(gameCols.map(col) ++ Seq(
        result.as("Result"),
        lit(me).as("Role_player"),
        col(me).as("Player"),
        col(opp).as("Opponent"),
        col(s"${me}Elo").as("PlayerElo"),
        col(s"${opp}Elo").as("OpponentElo"),
        col(s"${me}Elo_max").as("PlayerElo_max"),
        col(s"${opp}Elo_max").as("OpponentElo_max"),
        col(s"${me}Elo_max_faced").as("PlayerElo_max_faced"),
        col(s"${opp}Elo_max_faced").as("OpponentElo_max_faced"),
        col(s"${me}Title").as("PlayerTitle"),
        col(s"${opp}Title").as("OpponentTitle"),
        col(s"${me}Title_flag").as("PlayerTitle_flag"),
        col(s"${opp}Title_flag").as("OpponentTitle_flag"),
        col(s"${me}RatingDiff").as("PlayerRatingDiff"),
        col(s"${opp}RatingDiff").as("OpponentRatingDiff"),
        col(s"${me}_random").as("Player_random"),
        col(s"${opp}_random").as("Opponent_random"),
        col(s"${me}_cum_games_total").as("Player_cum_games_total"),
        col(s"${opp}_cum_games_total").as("Opponent_cum_games_total"),
        col(s"${me}_cum_games_type").as("Player_cum_games_type"),
        col(s"${opp}_cum_games_type").as("Opponent_cum_games_type")): _*)
    perspective("White", "Black", col("Result"))
      .unionByName(perspective("Black", "White", resultRev))
      .withColumn("PlayerElo_bin", graft.functions.binLabel(col("PlayerElo"), 200))
      .orderBy(col("DateTime"), col("ID"), col("Role_player").desc)
  }

  /** Three games beside the four-game fixture: a missing White tag (a
    * null player name, twice, across both days of the split below),
    * a missing Black tag, `?` Elos, a `?` Event and an unfinished
    * `*` result.
    */
  private lazy val oddDir: String = {
    val d = Files.createTempDirectory("pgn_odd")
    Files.writeString(d.resolve("odd.pgn"),
      """[Event "?"]
        |[Site "https://lichess.org/o1"]
        |[Black "bob"]
        |[Result "0-1"]
        |[UTCDate "2024.03.01"]
        |[UTCTime "12:00:00"]
        |[WhiteElo "?"]
        |[BlackElo "1610"]
        |
        |1. f3 e5 2. g4 Qh4# 0-1
        |
        |[Event "Rated Blitz game"]
        |[Site "https://lichess.org/o2"]
        |[White "erin"]
        |[Result "*"]
        |[UTCDate "2024.03.02"]
        |[UTCTime "12:00:00"]
        |[WhiteElo "1800"]
        |[BlackElo "?"]
        |[WhiteTitle "FM"]
        |
        |1. d4 *
        |
        |[Event "Rated Blitz game"]
        |[Site "https://lichess.org/o3"]
        |[Black "erin"]
        |[Result "1-0"]
        |[UTCDate "2024.03.02"]
        |[UTCTime "13:00:00"]
        |[WhiteElo "?"]
        |[BlackElo "1790"]
        |
        |1. e4 e5 1-0
        |""".stripMargin)
    d.toString
  }

  test("one-pass role doubling equals the union form: schema and rows, with and without prior") {
    val g = ChessPipeline.parseGames(spark.read.format("pgn").load(pgnDir, oddDir))
    val b1 = g.filter(col("DateTime") < "2024-03-02")
    val b2 = g.filter(col("DateTime") >= "2024-03-02")
    val prior = ChessPipeline.statsState(b1)
    for ((label, stats) <- Seq(
        "no prior" -> ChessPipeline.withStats(g),
        "prior" -> ChessPipeline.withStats(b2, Some(prior)))) {
      val one = ChessPipeline.toPlayerGameRole(stats)
      val two = unionRoles(stats)
      assert(one.schema === two.schema, s"$label: schema differs")
      assert(one.schema.map(_.nullable) === two.schema.map(_.nullable), label)
      val rows = one.collect().toSeq
      assert(rows === two.collect().toSeq, s"$label: rows differ")
      assert(rows.exists(_.getAs[String]("Player") == null), s"$label: no null name")
      assert(rows.exists(_.getAs[Any]("PlayerElo") == null), s"$label: no '?' Elo")
    }
  }

  test("one-pass role doubling writes the union form's parquet schema") {
    // a sink the union form wrote keeps one schema when later months
    // append: compare the footers (parquet types and repetition) and
    // the Spark row schema Spark stamps into them (nullability)
    def footer(df: DataFrame): (String, String) = {
      val out = Files.createTempDirectory("pgr_schema").toString
      ChessPipeline.writePartitioned(df, out)
      val part = new java.io.File(out, "year_month=2024_03").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.toString),
        spark.sessionState.newHadoopConf())
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val meta = reader.getFooter.getFileMetaData
        (meta.getSchema.toString,
          meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      } finally reader.close()
    }
    val stats = ChessPipeline.withStats(
      ChessPipeline.parseGames(spark.read.format("pgn").load(pgnDir, oddDir)))
    assert(footer(ChessPipeline.toPlayerGameRole(stats)) === footer(unionRoles(stats)))
  }

  test("role doubling over cached games plans the stats once: two windows, no union") {
    // games built the way IngestCore builds them: a pgn read, parsed
    // and cached, plus a prior state read back from parquet. The union
    // form planned its whole input twice here (four windows): neither
    // the cached relation nor AQE's exchange reuse shares the branches
    val stateDir = Files.createTempDirectory("pgr_prior").toString
    ChessPipeline.statsState(ChessPipeline.parseGames(raw))
      .write.mode("overwrite").parquet(stateDir)
    val prior = spark.read.parquet(stateDir)
    val g = ChessPipeline.parseGames(spark.read.format("pgn").load(pgnDir)).cache()
    try {
      val df = ChessPipeline.toPlayerGameRole(ChessPipeline.withStats(g, Some(prior)))
      assert(df.collect().length === 8) // AQE finalizes stages at execution
      val plan = df.queryExecution.executedPlan
      val windows = collect(plan) { case w: WindowExec => w }
      val unions = collect(plan) { case u: UnionExec => u }
      assert(windows.size === 2, s"${windows.size} windows:\n$plan")
      assert(unions.isEmpty, s"union in the doubling:\n$plan")
    } finally g.unpersist()
  }

  test("partitioned sorted sink writes month partitions") {
    val out = Files.createTempDirectory("pgr_out").toString
    ChessPipeline.writePartitioned(pgr, out)
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("year_month="))
    assert(dirs.toSet === Set("year_month=2024_03"))
    val back = spark.read.parquet(out)
    assert(back.count() === 8)
  }

  test("sink compression knob: snappy default, gzip for reference parity") {
    // the reference writes gzip parquet (ingester.py:418-421); Spark
    // stamps the codec into the part-file name — assert the footer
    // codec by that stamp for both modes
    def write(compression: String): String = {
      val out = Files.createTempDirectory(s"pgr_codec_$compression").toString
      ChessPipeline.writePartitioned(pgr, out, compression = compression)
      out
    }
    def partNames(out: String): Seq[String] =
      new java.io.File(out, "year_month=2024_03").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSeq
    val snappyOut = write("snappy")
    assert(partNames(snappyOut).nonEmpty &&
      partNames(snappyOut).forall(_.contains(".snappy.")))
    val gzipOut = write("gzip")
    assert(partNames(gzipOut).nonEmpty &&
      partNames(gzipOut).forall(_.contains(".gz.")))
    // and the gzip copy reads back row-identical
    assert(spark.read.parquet(gzipOut).orderBy("ID", "Role_player")
      .drop("year_month").collect().toSeq ===
      spark.read.parquet(snappyOut).orderBy("ID", "Role_player")
        .drop("year_month").collect().toSeq)
  }

  test("--compression=gzip reaches the sink from the IngestMain CLI") {
    val out = Files.createTempDirectory("ingest_cli_gzip").toString
    IngestMain.run(spark,
      Array("--compression=gzip", SamplePgn.ensureWritten(), out),
      stagingDir = "/tmp/unused", baseUrl = None)
    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("year_month="))
      .flatMap(_.listFiles()).map(_.getName).filter(_.endsWith(".parquet"))
    assert(parts.nonEmpty && parts.forall(_.contains(".gz.")),
      s"expected gzip-stamped part files, got ${parts.take(3).mkString(",")}")
  }

  test("sink fans one month over multiple range-partitioned tasks") {
    // 2000 rows spanning two months: the one-task-per-month hash
    // repartition this sink replaced would write exactly one file per
    // month; range partitioning on (year_month, DateTime, ID) must
    // split each month across several tasks/files while keeping the
    // directory routing and in-file (DateTime, ID) order.
    val df = spark.range(2000).select(
      format_string("id%05d", col("id")).as("ID"),
      expr("timestampadd(MINUTE, CAST(id * 40 AS INT), TIMESTAMP'2024-03-01 00:00:00')")
        .as("DateTime"))
    val planned = ChessPipeline.partitionedForWrite(df, Some(8))
    assert(planned.queryExecution.executedPlan.toString.toLowerCase
      .contains("rangepartitioning"), "sink exchange must be range, not hash")
    val out = Files.createTempDirectory("pgr_range_out").toString
    ChessPipeline.writePartitioned(df, out, Some(8))
    val months = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("year_month=")).sortBy(_.getName)
    assert(months.map(_.getName).toSet ===
      Set("year_month=2024_03", "year_month=2024_04"))
    for (m <- months) {
      val parts = m.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length >= 2, s"${m.getName} written by a single task")
      // every file is internally sorted by (DateTime, ID)
      for (p <- parts) {
        val rows = spark.read.parquet(p.toString)
          .select(col("DateTime").cast("long"), col("ID"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(rows === rows.sorted, s"${p.getName} not sorted")
      }
    }
    // round trip + directory pruning unchanged
    val back = spark.read.parquet(out)
    assert(back.count() === 2000)
    assert(back.filter(col("year_month") === "2024_04").count() ===
      back.filter(month(col("DateTime")) === 4).count())
  }

  test("eval flag reads the KEPT moves: late-eval games flag under Full, not Truncated") {
    // an eval annotation appearing only from move 4 onward is invisible
    // to the truncated default (faithful to the reference, which checks
    // `"eval" in moves` on ITS kept string) but visible under Full
    val d = Files.createTempDirectory("pgn_late_eval")
    Files.writeString(d.resolve("g.pgn"),
      """[Event "Rated Blitz game"]
        |[Site "https://lichess.org/late1"]
        |[Result "1-0"]
        |
        |1. e4 e5 2. Nf3 Nc6 3. Bb5 a6 4. Ba4 { [%eval 0.3] } Nf6 1-0
        |""".stripMargin)
    val raw = spark.read.format("pgn").load(d.toString)
    assert(!ChessPipeline.parseGames(raw)
      .select("Evaluation_flag").head().getBoolean(0))
    assert(ChessPipeline.parseGames(raw, ChessPipeline.MovesMode.Full)
      .select("Evaluation_flag").head().getBoolean(0))
  }

  test("include-moves knob: Truncated default, Full round-trips, Omitted drops") {
    // default unchanged: truncate at "4." (reference include_moves=True)
    val g1Default = ChessPipeline.parseGames(raw)
      .filter(col("ID") === "g1").select("Moves").head().getString(0)
    assert(g1Default === "1. e4 c5 2. Nf3 d6 3. d4 cxd4 ")
    // Full: the entire movetext survives parse AND the full pipeline
    val full = ChessPipeline.parseGames(raw, ChessPipeline.MovesMode.Full)
    val g1Full = full.filter(col("ID") === "g1").select("Moves").head().getString(0)
    assert(g1Full === "1. e4 c5 2. Nf3 d6 3. d4 cxd4 4. Nxd4 Nf6 5. Nc3 1-0")
    val pgrFull = ChessPipeline.fromPgn(raw, movesMode = ChessPipeline.MovesMode.Full)
    assert(pgrFull.filter(col("ID") === "g1").select("Moves")
      .distinct().head().getString(0) === g1Full)
    // Omitted (reference include_moves=False, its default): no Moves
    // column anywhere, Evaluation_flag constant false
    val none = ChessPipeline.parseGames(raw, ChessPipeline.MovesMode.Omitted)
    assert(!none.columns.contains("Moves"))
    assert(none.filter(col("Evaluation_flag")).count() === 0)
    val pgrNone = ChessPipeline.fromPgn(raw, movesMode = ChessPipeline.MovesMode.Omitted)
    assert(!pgrNone.columns.contains("Moves"))
    assert(pgrNone.count() === pgrFull.count())
  }
}
