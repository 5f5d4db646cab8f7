package graftbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every input the program sees is written by
  * this object from the workload seed; the same seed gives the same
  * bytes.
  */
object Gen {

  /** Shape of the generated lichess-style monthly dumps. */
  final case class PgnShape(months: Seq[(Int, Int)], gamesPerMonth: Int,
      tailPlayers: Int, botSeatShare: Double = 0.30)

  val Bots = Vector("maia1_bot", "stockfish_lvl8", "leela_knight")
  private val Speeds = Vector("Blitz", "Bullet", "Rapid", "Classical")
  private val Openings = Vector(
    ("A00", "Polish Opening"), ("A45", "Indian Game"),
    ("B01", "Scandinavian Defense"), ("B20", "Sicilian Defense"),
    ("B22", "Sicilian Defense: Alapin Variation"), ("C00", "French Defense"),
    ("C20", "King's Pawn Game"), ("C42", "Petrov's Defense"),
    ("C50", "Italian Game"), ("C60", "Ruy Lopez"),
    ("D00", "Queen's Pawn Game"), ("D02", "Queen's Pawn Game: London System"),
    ("D30", "Queen's Gambit Declined"), ("E00", "Catalan Opening"),
    ("E60", "King's Indian Defense"), ("A40", "Englund Gambit"),
    ("B10", "Caro-Kann Defense"), ("B06", "Modern Defense"),
    ("A10", "English Opening"), ("C44", "Scotch Game"),
    ("B07", "Pirc Defense"), ("D10", "Slav Defense"))
  private val Terminations = Vector("Normal", "Normal", "Normal",
    "Time forfeit", "Time forfeit", "Abandoned")
  private val Moves = Vector("e4", "d4", "Nf3", "c4", "e5", "d5", "Nc6",
    "Nf6", "c5", "e6", "Bb5", "Bc4", "O-O", "Qe2", "Re1", "a6", "h3", "g6")
  private val Base62 =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"

  def dumpName(y: Int, m: Int): String =
    f"lichess_db_standard_rated_$y%04d-$m%02d.pgn.zst"

  private def gameId(seed: Long, n: Long): String = {
    // a seed-keyed bijection of the running game number, 8 base62 chars
    var v = (n * 0x9E3779B97F4A7C15L) ^ (seed * 0xBF58476D1CE4E5B9L)
    val sb = new StringBuilder
    var i = 0
    while (i < 8) { sb.append(Base62(java.lang.Math.floorMod(v, 62L).toInt)); v /= 62; i += 1 }
    sb.append(Base62((n % 62).toInt)).append(Base62(((n / 62) % 62).toInt))
      .append(Base62(((n / 3844) % 62).toInt)).append(Base62(((n / 238328) % 62).toInt))
    sb.toString
  }

  /** Zipf-like draw over the tail players: index ∝ u^3 puts most
    * seats on low indices while every player stays reachable.
    */
  private def tailPlayer(r: SplittableRandom, n: Int): String = {
    val u = r.nextDouble()
    "p" + (u * u * u * n).toInt
  }

  private def seat(r: SplittableRandom, shape: PgnShape): String =
    if (r.nextDouble() < shape.botSeatShare) Bots(r.nextInt(Bots.size))
    else tailPlayer(r, shape.tailPlayers)

  /** Writes one `.pgn.zst` per month into `dir` and returns the
    * generator's own per-player seat tally (every seat of every game),
    * which the ingest check compares with the final cumulative count.
    */
  def writePgnMonths(dir: Path, seed: Long, shape: PgnShape): Map[String, Long] = {
    Files.createDirectories(dir)
    val r = new SplittableRandom(seed)
    val tally = scala.collection.mutable.HashMap.empty[String, Long]
    var n = 0L
    for ((y, m) <- shape.months) {
      val file = dir.resolve(dumpName(y, m))
      val days = java.time.YearMonth.of(y, m).lengthOfMonth()
      val spanSec = days * 86400L
      val out = new BufferedWriter(new OutputStreamWriter(
        new com.github.luben.zstd.ZstdOutputStream(
          new FileOutputStream(file.toFile), 3), StandardCharsets.UTF_8), 1 << 16)
      try {
        for (i <- 0 until shape.gamesPerMonth) {
          // lichess dumps are time-sorted: spread games evenly over the
          // month with a jitter that keeps the order
          val sec = (i.toLong * spanSec) / shape.gamesPerMonth +
            r.nextLong(math.max(1L, spanSec / shape.gamesPerMonth))
          val t = java.time.LocalDateTime.of(y, m, 1, 0, 0).plusSeconds(sec)
          val white = seat(r, shape)
          var black = seat(r, shape)
          while (black == white) black = seat(r, shape)
          tally(white) = tally.getOrElse(white, 0L) + 1
          tally(black) = tally.getOrElse(black, 0L) + 1
          val speed = Speeds(r.nextInt(Speeds.size))
          val event =
            if (r.nextInt(5) == 0) s"Rated $speed tournament https://lichess.org/tournament/${gameId(seed, n).take(8)}"
            else s"Rated $speed game"
          val (eco, opening) = Openings(
            math.min(Openings.size - 1, (r.nextDouble() * r.nextDouble() * Openings.size).toInt))
          val result = r.nextInt(100) match {
            case x if x < 48 => "1-0"
            case x if x < 93 => "0-1"
            case _ => "1/2-1/2"
          }
          def elo(): String =
            if (r.nextInt(50) == 0) "?" else (700 + r.nextInt(2200)).toString
          val we = elo()
          val be = elo()
          val sb = new StringBuilder(640)
          sb.append("[Event \"").append(event).append("\"]\n")
          sb.append("[Site \"https://lichess.org/").append(gameId(seed, n)).append("\"]\n")
          sb.append(f"[Date \"$y%04d.$m%02d.${t.getDayOfMonth}%02d\"]\n")
          sb.append("[Round \"-\"]\n")
          sb.append("[White \"").append(white).append("\"]\n")
          sb.append("[Black \"").append(black).append("\"]\n")
          sb.append("[Result \"").append(result).append("\"]\n")
          sb.append(f"[UTCDate \"$y%04d.$m%02d.${t.getDayOfMonth}%02d\"]\n")
          sb.append(f"[UTCTime \"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d\"]\n")
          sb.append("[WhiteElo \"").append(we).append("\"]\n")
          sb.append("[BlackElo \"").append(be).append("\"]\n")
          sb.append("[WhiteRatingDiff \"+").append(r.nextInt(15)).append("\"]\n")
          sb.append("[BlackRatingDiff \"-").append(r.nextInt(15)).append("\"]\n")
          if (Bots.contains(white)) sb.append("[WhiteTitle \"BOT\"]\n")
          if (Bots.contains(black)) sb.append("[BlackTitle \"BOT\"]\n")
          sb.append("[ECO \"").append(eco).append("\"]\n")
          sb.append("[Opening \"").append(opening).append("\"]\n")
          sb.append("[TimeControl \"").append(60 * (1 + r.nextInt(10))).append("+0\"]\n")
          sb.append("[Termination \"").append(Terminations(r.nextInt(Terminations.size))).append("\"]\n\n")
          val plies = 10 + r.nextInt(60)
          val evals = r.nextInt(4) == 0 // lichess annotates a share of games
          var p = 0
          while (p < plies) {
            if (p % 2 == 0) sb.append(p / 2 + 1).append(". ")
            else if (evals) sb.append(p / 2 + 1).append("... ")
            sb.append(Moves(r.nextInt(Moves.size))).append(' ')
            if (evals) sb.append(f"{ [%%eval ${r.nextInt(400) / 100.0 - 2.0}%.2f] [%%clk 0:0${r.nextInt(10)}:${r.nextInt(60)}%02d] } ")
            p += 1
          }
          sb.append(result).append("\n\n")
          out.write(sb.toString)
          n += 1
        }
      } finally out.close()
    }
    tally.toMap
  }

  /** Shape of the generated text corpus and embedding table. */
  final case class DocShape(docs: Int, vectors: Int, dim: Int = 64, labels: Int = 8)

  val Vocab = Vector("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group", "agg",
    "filter", "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "customer", "join", "vector", "the", "index", "page", "token", "model",
    "shard", "cache", "graph", "node", "edge", "rank")
  private val Langs = Vector("en", "en", "en", "en", "de", "fr", "zh", "es")
  private val Sources = Vector("src0", "src1", "src2", "src3", "src4")

  /** `documents.parquet` and `embeddings.parquet` under `dir`, in the
    * schema of the sf test tables. A share of documents are exact
    * or one-word-edited copies of earlier ones so dedup finds clusters;
    * vectors are noisy copies of `labels` centroids so the kNN graph
    * has structure.
    */
  def writeDocs(spark: SparkSession, dir: Path, seed: Long, shape: DocShape): Unit = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val texts = new Array[String](shape.docs)
    val rows = (0 until shape.docs).map { i =>
      val text =
        if (i > 10 && r.nextInt(10) == 0) texts(r.nextInt(i)) // exact copy
        else if (i > 10 && r.nextInt(8) == 0) { // near copy
          val w = texts(r.nextInt(i)).split(" ")
          w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.size))
          w.mkString(" ")
        } else {
          val len = 3 + (r.nextDouble() * r.nextDouble() * 120).toInt
          Iterator.fill(len)(Vocab(
            math.min(Vocab.size - 1, (r.nextDouble() * r.nextDouble() * Vocab.size * 1.4).toInt)))
            .mkString(" ")
        }
      texts(i) = text
      Row(i.toLong, text, Langs(r.nextInt(Langs.size)), Sources(r.nextInt(Sources.size)),
        text.length.toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), docSchema)
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)

    val centers = Array.fill(shape.labels, shape.dim)(r.nextGaussian())
    val vecs = (0 until shape.vectors).map { i =>
      val label = r.nextInt(shape.labels)
      val v = Array.tabulate(shape.dim)(d => centers(label)(d) + 0.9 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(vecs, 1), vecSchema)
      .write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
  }
}
