package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Plot-dataset export (the reference's last mile): `eda.ipynb`'s three
  * chart cells render daily game counts, high-Elo daily counts and the
  * top-opening distribution (img/gamecount.png, highcount.png,
  * openings.png). The engine deliverable ends at the DataFrame — this
  * main materializes exactly those three tables (the same oracle-pinned
  * queries behind `chess_daily_counts`, `chess_daily_high_elo`,
  * `chess_top_openings`) as single-file headered CSVs for whatever
  * plotting frontend the user points at them.
  *
  *   runMain graft.Report [outDir] [ingestParquetDir]
  *
  * With no second argument the charts run over the parsed sample
  * corpus; given the path of a real [[graft.chess.ChessPipeline
  * .writePartitioned]] output (the player-game-role table IngestMain
  * writes), the doubled rows are first collapsed back to one row per
  * game ([[gamesFromIngest]]) so chart semantics — games, not
  * role-rows — are identical on both inputs.
  */
object Report {
  val Datasets: Seq[(String, DataFrame => DataFrame)] = Seq(
    // the three chart cells (img/gamecount.png, highcount.png,
    // openings.png) ...
    "chess_daily_counts" ->
      ((g: DataFrame) => graft.ops.ChessQueries.chessDailyCountsOn(g)),
    "chess_daily_high_elo" ->
      ((g: DataFrame) => graft.ops.ChessQueries.chessDailyHighEloOn(g)),
    "chess_top_openings" ->
      ((g: DataFrame) => graft.ops.ChessQueries.chessTopOpeningsOn(g)),
    // ... plus the five tabular cells (round 9 — full eda.ipynb
    // export parity: every cell's output is now a CSV dataset)
    "chess_count" ->
      ((g: DataFrame) => graft.ops.ChessQueries.chessCountOn(g)),
    "chess_approx_players" ->
      ((g: DataFrame) => graft.ops.ChessQueries.chessApproxPlayersOn(g)),
    "chess_winner_prop" ->
      ((g: DataFrame) => graft.ops.ChessQueries.chessWinnerPropOn(g)),
    "chess_termination" ->
      ((g: DataFrame) => graft.ops.ChessQueries.chessTerminationOn(g)),
    "chess_top_players" ->
      ((g: DataFrame) => graft.ops.ChessQueries.chessTopPlayersOn(g)))

  /** One row per game from a player-game-role ingest parquet: each game
    * appears exactly twice (once per role), so the White-role slice is
    * a complete, duplicate-free game table; the perspective columns
    * map back to the White/Black names the chart queries expect. A
    * narrow filter+project — partition pruning and the in-file
    * (DateTime, ID) sort of the ingest layout both survive.
    */
  def gamesFromIngest(roles: DataFrame): DataFrame =
    roles.filter(col("Role_player") === "White")
      .select(col("ID"), col("DateTime"), col("Opening"),
        col("Termination"), col("Result"),
        col("Player").as("White"), col("Opponent").as("Black"),
        col("PlayerElo").as("WhiteElo"), col("OpponentElo").as("BlackElo"))

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_report")
    val spark = Session.start()
    val games = args.lift(1) match {
      case Some(ingestDir) => gamesFromIngest(spark.read.parquet(ingestDir))
      case None => graft.ops.ChessQueries.sampleGames(spark)
    }
    run(spark, games, outDir)
    spark.stop()
  }

  /** Writes one `<name>.csv/` per dataset; single file (these are
    * chart-sized aggregates — day counts and a top-20 — not data), with
    * header so the CSV is self-describing. `games` is the one-row-per-
    * game input the charts aggregate; `outDir` is ONLY written to.
    * The three chart cells are additionally RENDERED as PNGs under
    * `outDir/img` ([[charts]]) — full presentation parity with
    * eda.ipynb's plotnine saves, not just data parity.
    */
  def run(spark: SparkSession, games: DataFrame, outDir: String): Unit = {
    for ((name, query) <- Datasets) {
      query(games)
        .coalesce(1)
        .write.mode("overwrite").option("header", "true")
        .csv(s"$outDir/$name.csv")
      System.err.println(s"[report] wrote $outDir/$name.csv")
    }
    charts(games, outDir)
  }

  /** Renders eda.ipynb's three PNGs (cells 10-12: gamecount_plot,
    * highcount_plot, opening_plot — same names, same 1000×600
    * geometry) from the same oracle-pinned aggregates the CSVs
    * export. The collect is chart-sized by construction: one row per
    * day / a top-20.
    */
  def charts(games: DataFrame, outDir: String): Unit = {
    import graft.ops.ChessQueries._
    def f(name: String) = new java.io.File(s"$outDir/img/$name.png")
    val daily = chessDailyCountsOn(games).collect()
      .map(r => (String.valueOf(r.get(0)), r.getLong(1))).toSeq
    Charts.linePng(daily, "Number of chess games played",
      "Daily lichess popularity", f("gamecount_plot"))
    val high = chessDailyHighEloOn(games).collect()
      .map(r => (String.valueOf(r.get(0)), r.getLong(1))).toSeq
    Charts.linePng(high, "Number of games with Elo rating > 2000",
      "High-elo games per day", f("highcount_plot"))
    val openings = chessTopOpeningsOn(games).collect()
      .map(r => (String.valueOf(r.get(0)), r.getLong(1))).toSeq
    Charts.barhPng(openings, "Number of uses", "20 most common openings",
      f("opening_plot"))
    for (n <- Seq("gamecount_plot", "highcount_plot", "opening_plot"))
      System.err.println(s"[report] wrote $outDir/img/$n.png")
  }
}
