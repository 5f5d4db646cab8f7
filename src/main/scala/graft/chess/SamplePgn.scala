package graft.chess

import java.nio.file.{Files, Path, Paths}

/** Deterministic synthetic PGN corpus (seeded RNG) used by the driver
  * contract queries and the specs — the driver's testdata dirs contain
  * only parquet tables, so the PGN source demonstrates on generated
  * files. Shapes mirror the lichess dumps: tag-pair section, movetext
  * with optional `[%eval ...]` comments, `?` missing markers,
  * tournament events, multi-game multi-file layout.
  */
object SamplePgn {

  /** Bump whenever the generated CONTENT changes (day spread, tags,
    * game count, …): it keys both this object's cross-JVM cache dir
    * and [[graft.ops.ChessQueries]]'s derived games-parquet cache, so
    * the two can never skew (v2: games spread over ~25 days).
    */
  val ContentVersion = 2

  val Players = Vector("alice", "bob", "carol", "dave", "erin", "frank",
    "grace", "heidi", "ivan", "judy")
  val Events = Vector("Rated Blitz game", "Rated Bullet game",
    "Rated Classical game", "Rated Blitz tournament https://lichess.org/tournament/abc123")
  val Openings = Vector(
    ("A00", "Polish Opening"), ("B20", "Sicilian Defense"),
    ("C20", "King's Pawn Game"), ("D02", "Queen's Pawn Game"),
    ("E00", "Catalan Opening"))
  val Terminations = Vector("Normal", "Time forfeit", "Abandoned")
  val Results = Vector("1-0", "0-1", "1/2-1/2")

  def game(rng: scala.util.Random, idx: Int): String = {
    val white = Players(rng.nextInt(Players.size))
    val black = Players.filter(_ != white)(rng.nextInt(Players.size - 1))
    val event = Events(rng.nextInt(Events.size))
    val (eco, opening) = Openings(rng.nextInt(Openings.size))
    val result = Results(rng.nextInt(Results.size))
    val whiteElo = if (rng.nextInt(10) == 0) "?" else (800 + rng.nextInt(1800)).toString
    val blackElo = if (rng.nextInt(10) == 0) "?" else (800 + rng.nextInt(1800)).toString
    val minute = idx % 60
    val hour = (idx / 60) % 24
    // spread games over ~25 distinct days so daily-grouping queries
    // (and their DuckDB oracles) compare many rows, not one
    val day = 1 + (idx / 8) % 28
    val withEval = rng.nextInt(4) == 0
    val moves =
      if (withEval)
        "1. e4 { [%eval 0.2] } e5 { [%eval 0.18] } 2. Nf3 Nc6 3. Bb5 a6 4. Ba4 Nf6 5. O-O " + result
      else
        "1. d4 d5 2. c4 e6 3. Nc3 Nf6 4. Bg5 Be7 5. e3 O-O " + result
    val title = if (rng.nextInt(8) == 0) "\n[WhiteTitle \"GM\"]" else ""
    f"""[Event "$event"]
       |[Site "https://lichess.org/game$idx%05d"]
       |[White "$white"]
       |[Black "$black"]
       |[Result "$result"]
       |[UTCDate "2024.01.$day%02d"]
       |[UTCTime "$hour%02d:$minute%02d:00"]
       |[WhiteElo "$whiteElo"]
       |[BlackElo "$blackElo"]
       |[WhiteRatingDiff "+${rng.nextInt(20)}"]
       |[BlackRatingDiff "-${rng.nextInt(20)}"]$title
       |[ECO "$eco"]
       |[Opening "$opening"]
       |[TimeControl "300+0"]
       |[Termination "${Terminations(rng.nextInt(Terminations.size))}"]
       |
       |$moves
       |""".stripMargin
  }

  /** A game for the SKEWED corpus ([[ensureWrittenSkewed]]): player
    * selection is lichess-realistic heavy-tailed — each side is a bot
    * account with probability `hotShare` (a handful of bots play a
    * large share of ALL games on lichess; the documented straggler
    * case for the per-player running-stats window), otherwise one of
    * `nTail` tail players. Dates stripe over `months` consecutive
    * months so the monthly sink has real month boundaries.
    */
  private def gameSkewed(rng: scala.util.Random, idx: Int, months: Int,
      hotShare: Double, nBots: Int, nTail: Int): String = {
    def pick(excl: String): String = {
      val p =
        if (rng.nextDouble() < hotShare) s"BOT_hot${rng.nextInt(nBots)}"
        else f"tail${rng.nextInt(nTail)}%06d"
      if (p == excl) f"tail${rng.nextInt(nTail)}%06d" else p
    }
    val white = pick("")
    val black = pick(white)
    val event = Events(rng.nextInt(Events.size))
    val (eco, opening) = Openings(rng.nextInt(Openings.size))
    val result = Results(rng.nextInt(Results.size))
    val month = 1 + idx % months
    val day = 1 + (idx / months) % 28
    val hour = (idx / 8) % 24
    val minute = idx % 60
    f"""[Event "$event"]
       |[Site "https://lichess.org/skew$idx%07d"]
       |[White "$white"]
       |[Black "$black"]
       |[Result "$result"]
       |[UTCDate "2024.$month%02d.$day%02d"]
       |[UTCTime "$hour%02d:$minute%02d:00"]
       |[WhiteElo "${800 + rng.nextInt(1800)}"]
       |[BlackElo "${800 + rng.nextInt(1800)}"]
       |[ECO "$eco"]
       |[Opening "$opening"]
       |[TimeControl "300+0"]
       |[Termination "${Terminations(rng.nextInt(Terminations.size))}"]
       |
       |1. d4 d5 2. c4 e6 3. Nc3 Nf6 $result
       |""".stripMargin
  }

  /** Writes a HOT-PLAYER corpus: `nFiles` × `gamesPerFile` games where
    * `hotShare` of all seats are one of `nBots` bot accounts (so each
    * bot plays ~hotShare/nBots · 2 · games seats — at 1M games and the
    * defaults, ~10⁵ games per bot, the straggler shape), spread over
    * `months` months — the corpus of SkewSpec's full-ingest straggler
    * check. Idempotent per JVM temp dir like [[ensureWritten]]; the dir
    * name encodes every dial.
    */
  def ensureWrittenSkewed(nFiles: Int = 32, gamesPerFile: Int = 31250,
      months: Int = 3, hotShare: Double = 0.3, nBots: Int = 3,
      nTail: Int = 50000): String =
    writeOnce(s"graft_pgn_skew_v${ContentVersion}_${nFiles}x${gamesPerFile}" +
        s"_m${months}_h${(hotShare * 100).toInt}_b${nBots}_t$nTail",
        seed = 4242, nFiles, gamesPerFile, f => f"skew_$f%03d.pgn") {
      (rng, idx) => gameSkewed(rng, idx, months, hotShare, nBots, nTail)
    }

  /** Writes `nFiles` PGN files × `gamesPerFile` games; idempotent per
    * JVM temp dir. Returns the directory path.
    */
  def ensureWritten(nFiles: Int = 4, gamesPerFile: Int = 50): String =
    // the dir name versions the CONTENT (the cross-JVM marker would
    // otherwise serve a stale corpus after a generator change)
    writeOnce(s"graft_pgn_sample_v${ContentVersion}_${nFiles}x$gamesPerFile",
        seed = 42, nFiles, gamesPerFile, f => f"games_$f%02d.pgn")(game)

  /** The write-once loop behind both corpora: unless `dirName` under
    * the JVM temp dir already holds the `_done` marker, writes
    * `nFiles` files of `gamesPerFile` games each, every game drawn
    * from one `seed`ed RNG with its corpus-wide index. Returns the
    * directory path.
    */
  private def writeOnce(dirName: String, seed: Long, nFiles: Int,
      gamesPerFile: Int, fileName: Int => String)(
      gen: (scala.util.Random, Int) => String): String = {
    val dir: Path = Paths.get(System.getProperty("java.io.tmpdir"), dirName)
    val marker = dir.resolve("_done")
    if (!Files.exists(marker)) {
      Files.createDirectories(dir)
      val rng = new scala.util.Random(seed)
      var idx = 0
      for (f <- 0 until nFiles) {
        val sb = new StringBuilder
        for (_ <- 0 until gamesPerFile) { sb.append(gen(rng, idx)).append("\n"); idx += 1 }
        Files.writeString(dir.resolve(fileName(f)), sb.toString)
      }
      Files.writeString(marker, "ok")
    }
    dir.toString
  }
}
