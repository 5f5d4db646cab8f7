package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.chess.{Acquire, ChessPipeline, IngestMain, StateSwap}

/** One timed operation of a pass. */
final case class Op(name: String, run: () => Unit)

/** A workload: its seeded inputs, the operations of one pass, the same
  * pass re-driven with spans around each layer, and what the output
  * checks need.
  */
abstract class Workload(val spark: SparkSession, val work: Path, val seed: Long) {
  /** Writes this workload's inputs under `dir` and points it at them. */
  def generate(dir: Path): Unit
  /** The operations of pass `k`, run back to back by one client. */
  def ops(k: Int): Seq[Op]
  /** Pass `k` again, through the modules' public functions, with a
    * span around every call into a layer.
    */
  def traced(k: Int, t: Trace): Unit
  /** Per-layer metrics of the traced pass `k` just run. */
  def layerMetrics(t: Trace, k: Int, p: Main.Pass): Map[String, Double]
  /** Rows one pass processes: games for ingest, documents and
    * vectors for curate and dedup_graph.
    */
  def rowsPerPass: Long
  /** Parquet bytes pass `k` wrote, and the rows they hold. */
  def storedBytes(k: Int): Long
  def storedRows(k: Int): Long
  def inputSizes: Map[String, Any]
  /** What run.py needs to check the outputs against DuckDB. */
  def checkManifest: Map[String, Any]
  /** Output checks made inside the JVM (pass-to-pass agreement). */
  def jvmFailures: Seq[String] = failures.toSeq

  protected val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  protected def passDir(k: Int): Path = work.resolve(f"pass$k%03d")

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Parquet {
  /** Bytes and count of the parquet files under `dir`. */
  def bytesAndFiles(dir: Path): (Long, Int) =
    if (!Files.exists(dir)) (0L, 0)
    else {
      val walk = Files.walk(dir)
      try {
        val fs = walk.iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toList
        (fs.map(Files.size).sum, fs.size)
      } finally walk.close()
    }
}

/** `graft.chess.IngestMain.run`, one call per month, over three seeded
  * lichess-shaped monthly `.pgn.zst` dumps that are already staged, so
  * `Acquire.fetch` short-circuits. Each pass gets a fresh sink and
  * state dir, so the month-to-month counter carry runs every pass.
  */
class Ingest(spark: SparkSession, work: Path, seed: Long) extends Workload(spark, work, seed) {
  val shape = Gen.PgnShape(Seq((2024, 1), (2024, 2), (2024, 3)),
    gamesPerMonth = 1500, tailPlayers = 1500)
  private var staging: Path = _
  private var tally: Map[String, Long] = Map.empty

  def generate(dir: Path): Unit = {
    staging = dir.resolve("staging")
    tally = Gen.writePgnMonths(staging, seed, shape)
    Files.write(dir.resolve("tally.csv"),
      ("name,n\n" + tally.toSeq.sorted.map { case (n, c) => s"$n,$c" }.mkString("\n") + "\n")
        .getBytes("UTF-8"))
  }

  def rowsPerPass: Long = shape.months.size.toLong * shape.gamesPerMonth

  private def ingestMonth(out: Path, state: Path, y: Int, m: Int): Unit =
    IngestMain.run(spark, Array(f"--month=$y%04d-$m%02d", out.toString, state.toString),
      stagingDir = staging.toString, baseUrl = None)

  def ops(k: Int): Seq[Op] = shape.months.map { case (y, m) =>
    Op(f"ingest_$y%04d-$m%02d", () =>
      ingestMonth(passDir(k).resolve("out"), passDir(k).resolve("state"), y, m))
  }

  private val spanTimes = scala.collection.mutable.HashMap.empty[String, Double]
  private var gamesScanned = 0L

  /** IngestMain's per-month chain re-driven one prefix at a time:
    * scan → parseGames (cached, as IngestCore caches it) → withStats →
    * toPlayerGameRole → writePartitioned, then the state commit. A
    * layer's time is its prefix's time minus the previous prefix's.
    */
  def traced(k: Int, t: Trace): Unit = {
    spanTimes.clear()
    gamesScanned = 0L
    def add(n: String, s: Double): Unit = spanTimes(n) = spanTimes.getOrElse(n, 0.0) + s
    val out = passDir(k).resolve("out").toString
    val stateDir = passDir(k).resolve("state").toString
    for ((y, m) <- shape.months) t.span("ingest.month") {
      val fs = new org.apache.hadoop.fs.Path(stateDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val cur = StateSwap.resolve(fs, stateDir)
      val applied = cur.map(p => StateSwap.appliedIds(fs, p)).getOrElse(Set.empty[Long])
      val prior = cur.map(p => spark.read.parquet(p.toString))
      val staged = Acquire.fetchMonth(y, m, staging.toString, None)
      val raw = spark.read.format("pgn").load(staged.toString)
      val scan = t.span("pgn.scan") { gamesScanned += raw.count() }
      val g = ChessPipeline.parseGames(raw, ChessPipeline.MovesMode.Omitted).cache()
      try {
        val parse = t.span("chess.parse") { g.count() }
        val stats = t.span("chess.stats") { noop(ChessPipeline.withStats(g, prior)) }
        val roles = t.span("chess.roles") {
          noop(ChessPipeline.toPlayerGameRole(ChessPipeline.withStats(g, prior)))
        }
        val sink = t.span("chess.sink") {
          ChessPipeline.writePartitioned(
            ChessPipeline.toPlayerGameRole(ChessPipeline.withStats(g, prior)), out)
        }
        val state = t.span("chess.state") {
          val next = s"$stateDir/${StateSwap.Next}"
          ChessPipeline.statsState(g, prior).write.mode("overwrite").parquet(next)
          StateSwap.writeApplied(fs, new org.apache.hadoop.fs.Path(next),
            applied + (y.toLong * 12 + (m - 1)))
          StateSwap.commit(fs, stateDir)
        }
        add("pgn.scan_s", scan)
        add("chess.parse_s", math.max(0.0, parse - scan))
        add("chess.stats_s", stats)
        add("chess.roles_s", math.max(0.0, roles - stats))
        add("chess.sink_s", math.max(0.0, sink - roles))
        add("chess.state_s", state)
      } finally g.unpersist()
    }
    eda(t, passDir(k).resolve("out"))
  }

  def layerMetrics(t: Trace, k: Int, p: Main.Pass): Map[String, Double] = {
    val scan = t.counts("pgn.scan")
    val statsC = t.counts("chess.stats")
    val scanS = spanTimes("pgn.scan_s")
    val (bytes, files) = Parquet.bytesAndFiles(passDir(k).resolve("out"))
    spanTimes.toMap ++ Map(
      "pgn.scan_task_cpu_s" -> scan.cpuNs / 1e9,
      "pgn.games_per_s" -> gamesScanned / scanS,
      "pgn.partitions" -> scan.tasks.toDouble / shape.months.size,
      "pgn.core_util" -> scan.runMs / 1e3 / (scanS * Runtime.getRuntime.availableProcessors()),
      "chess.stats_shuffle_mb" -> (statsC.shuffleWriteB + statsC.shuffleReadB) / 1048576.0,
      "chess.stats_task_skew" -> statsC.skew,
      "chess.spill_mb" -> t.countsWithPrefix("chess.").spillB / 1048576.0,
      "chess.sink_bytes" -> bytes.toDouble,
      "chess.sink_files" -> files.toDouble) ++ edaMetrics(t)
  }

  def storedBytes(k: Int): Long = Parquet.bytesAndFiles(passDir(k).resolve("out"))._1
  def storedRows(k: Int): Long = 2 * rowsPerPass // one row per player per game

  /** The eight eda.ipynb queries (`graft.Report.Datasets`) over
    * `Report.gamesFromIngest` of the sink the layered pass just wrote:
    * the read path of the files ingest writes.
    */
  private val edaMs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val edaResults =
    scala.collection.mutable.LinkedHashMap.empty[String, (Seq[String], Seq[Seq[Any]])]
  private var edaGames: DataFrame = _
  private var edaSink: Path = _

  private def eda(t: Trace, sink: Path): Unit = {
    edaSink = sink
    edaGames = graft.Report.gamesFromIngest(spark.read.parquet(sink.toString))
    for ((key, q) <- graft.Report.Datasets) edaMs(key) = 1e3 * t.span(s"eda.$key") {
      val df = q(edaGames)
      val rows = df.collect().toSeq.map(_.toSeq.map {
        case d: java.sql.Date => d.toString
        case d: java.time.LocalDate => d.toString
        case x => x
      })
      edaResults(key) = (df.columns.toSeq, rows)
    }
  }

  private def edaMetrics(t: Trace): Map[String, Double] = {
    val c = t.countsWithPrefix("eda.")
    edaMs.map { case (key, ms) => s"eda.${key}_ms" -> ms }.toMap ++ Map(
      "eda.scan_mb" -> c.inputB / 1048576.0,
      "eda.files_read" -> (edaGames.inputFiles.length * graft.Report.Datasets.size).toDouble,
      "eda.shuffle_mb" -> c.shuffleWriteB / 1048576.0)
  }

  def inputSizes: Map[String, Any] = Map(
    "months" -> shape.months.size, "games_per_month" -> shape.gamesPerMonth,
    "games" -> rowsPerPass, "players" -> tally.size, "bots" -> Gen.Bots.size,
    "bot_seat_share" -> Gen.Bots.map(b => tally.getOrElse(b, 0L)).sum.toDouble / (2 * rowsPerPass),
    "dump_bytes" -> Files.list(staging).iterator().asScala.map(Files.size).sum)

  def checkManifest: Map[String, Any] = Map(
    "kind" -> "ingest",
    "games" -> rowsPerPass,
    "tally" -> staging.getParent.resolve("tally.csv").toString,
    "sinks" -> Files.list(work).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("pass") && Files.exists(p.resolve("out")))
      .map(_.resolve("out").toString).toSeq.sorted,
    "eda" -> Option(edaSink).map(sink => Map(
      "sink" -> sink.toString,
      "results" -> edaResults.map { case (key, (cols, rows)) =>
        key -> Map("cols" -> cols, "rows" -> rows) },
      "oracle_sql" -> graft.Report.Datasets.map(_._1)
        .flatMap(key => graft.SparkEntry.oracleSql.get(key).map(key -> _)).toMap)))
}

/** Documents and embeddings for the curation and dedup/graph
  * workloads: a seeded corpus in the schema of the sf tables.
  */
abstract class DocWorkload(spark: SparkSession, work: Path, seed: Long)
    extends Workload(spark, work, seed) {
  def shape: Gen.DocShape
  protected var dir: Path = _
  def generate(d: Path): Unit = {
    dir = d.resolve("sf")
    Gen.writeDocs(spark, dir, seed, shape)
  }
  def inputSizes: Map[String, Any] = Map(
    "documents" -> shape.docs, "vectors" -> shape.vectors, "dim" -> shape.dim,
    "documents_bytes" -> Parquet.bytesAndFiles(dir.resolve("documents.parquet"))._1,
    "embeddings_bytes" -> Parquet.bytesAndFiles(dir.resolve("embeddings.parquet"))._1)
  protected val spanS = scala.collection.mutable.HashMap.empty[String, Double]
  /** results per pass; every pass must agree with the first */
  protected val counts = scala.collection.mutable.LinkedHashMap.empty[Int, Map[String, Long]]
  protected def keep(k: Int, c: Map[String, Long]): Unit = {
    counts.headOption.foreach { case (_, first) =>
      if (first != c) failures += s"pass $k: $c differs from the first pass $first" }
    counts(k) = c
  }
}

/** `graft.Pipeline.run`: gate → perplexity tercile → mixture →
  * grouped split → partitioned write.
  */
class Curate(spark: SparkSession, work: Path, seed: Long) extends DocWorkload(spark, work, seed) {
  val shape = Gen.DocShape(docs = 300, vectors = 0)
  def rowsPerPass: Long = shape.docs

  def ops(k: Int): Seq[Op] = Seq(Op("pipeline_run", () =>
    keep(k, graft.Pipeline.run(spark, dir.toString, passDir(k).toString))))

  /** Pipeline.run's own sequence of prefixes, each in its span. */
  def traced(k: Int, t: Trace): Unit = {
    import graft.ops.{Sampling, TextOps}
    val sf = dir.toString
    val outDir = passDir(k).toString
    var total, nGated, nPpl, nMixed = 0L
    var gated, headMid, mixed: DataFrame = null
    spanS("textops.gate_s") = t.span("textops.gate") {
      val docs = graft.Tables.load(spark, sf, "documents")
      total = docs.count()
      val kept = TextOps.curationGate(spark, sf).filter(col("keep")).select("doc_id")
      gated = docs.join(kept, Seq("doc_id"), "left_semi")
      nGated = gated.count()
    }
    spanS("textops.ppl_s") = t.span("textops.ppl") {
      val tail = TextOps.textPplBucketsOn(gated).filter(col("bucket") === "tail").select("doc_id")
      headMid = gated.join(tail, Seq("doc_id"), "left_anti")
      nPpl = headMid.count()
    }
    spanS("sampling.mixture_s") = t.span("sampling.mixture") {
      val picked = Sampling.sampleMixtureOn(
        headMid.select(col("doc_id"), col("source"), col("text")), 10000L).select("doc_id")
      mixed = headMid.join(picked, Seq("doc_id"), "left_semi")
      nMixed = mixed.count()
    }
    var split: DataFrame = null
    spanS("sampling.split_s") = t.span("sampling.split") {
      split = Sampling.sampleSplitGrouped(spark, sf).select(col("doc_id"), col("split"))
      noop(split)
    }
    spanS("curate.sink_s") = t.span("curate.sink") {
      mixed.join(split, Seq("doc_id")).write.mode("overwrite").partitionBy("split")
        .parquet(s"$outDir/corpus")
      val bySplit = spark.read.parquet(s"$outDir/corpus").groupBy("split").count().collect()
        .map(r => s"n_${r.getString(0)}" -> r.getLong(1)).toMap
      keep(k, Map("n_input" -> total, "n_kept" -> nGated, "n_ppl_kept" -> nPpl,
        "n_mixture" -> nMixed) ++ bySplit)
    }
  }

  def layerMetrics(t: Trace, k: Int, p: Main.Pass): Map[String, Double] = spanS.toMap

  def storedBytes(k: Int): Long = Parquet.bytesAndFiles(passDir(k).resolve("corpus"))._1
  def storedRows(k: Int): Long = counts.get(k).map(_("n_mixture")).getOrElse(0L)

  def checkManifest: Map[String, Any] = Map(
    "kind" -> "curate", "sf" -> dir.toString,
    "corpora" -> counts.keys.filter(_ >= 0).map(k => passDir(k).resolve("corpus").toString).toSeq,
    "counts" -> counts.headOption.map(_._2).getOrElse(Map.empty),
    "oracle_sql" -> Seq("curation_gate", "sample_split_grouped")
      .map(key => key -> graft.SparkEntry.oracleSql(key)).toMap)
}

/** `Dedup.dedupClusters` (written, as the oracle dump does), then
  * `Pipeline.graphAudit`: the kNN build, the loop rounds of the
  * connected-components and PageRank riders, and shingle dedup.
  */
class DedupGraph(spark: SparkSession, work: Path, seed: Long) extends DocWorkload(spark, work, seed) {
  val shape = Gen.DocShape(docs = 300, vectors = 200)
  def rowsPerPass: Long = shape.docs + shape.vectors

  private def clusters(k: Int): Unit =
    graft.ops.Dedup.dedupClusters(spark, dir.toString)
      .write.mode("overwrite").parquet(passDir(k).resolve("clusters").toString)

  def ops(k: Int): Seq[Op] = Seq(
    Op("dedup_clusters", () => clusters(k)),
    Op("graph_audit", () => keep(k, graft.Pipeline.graphAudit(spark, dir.toString))))

  /** The clusters write, then graphAudit's kNN build alone, then the
    * whole graphAudit: the riders' time is the second prefix minus the
    * first.
    */
  def traced(k: Int, t: Trace): Unit = {
    spanS("dedup.clusters_s") = t.span("dedup.clusters") { clusters(k) }
    val knn = t.span("similarity.knn") {
      val edges = graft.ops.Similarity.knnGraph(spark, dir.toString).transform(graft.Lineage.cut)
      graft.Lineage.free(edges)
    }
    val audit = t.span("graph.audit") { keep(k, graft.Pipeline.graphAudit(spark, dir.toString)) }
    spanS("similarity.knn_s") = knn
    spanS("similarity.riders_s") = math.max(0.0, audit - knn)
  }

  def layerMetrics(t: Trace, k: Int, p: Main.Pass): Map[String, Double] = {
    val lineage = t.bySite.filter(_._1.contains("Lineage.scala:")).values
    spanS.toMap ++ Map(
      "lineage.jobs" -> lineage.map(_._1).sum.toDouble,
      "lineage.cpu_s" -> lineage.map(_._2).sum / 1e9)
  }

  def storedBytes(k: Int): Long = Parquet.bytesAndFiles(passDir(k).resolve("clusters"))._1
  def storedRows(k: Int): Long = shape.docs // one cluster id per document

  def checkManifest: Map[String, Any] = Map(
    "kind" -> "dedup_graph", "sf" -> dir.toString,
    "clusters" -> Files.list(work).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("pass") && Files.exists(p.resolve("clusters")))
      .map(_.resolve("clusters").toString).toSeq.sorted,
    "counts" -> counts.headOption.map(_._2).getOrElse(Map.empty),
    "oracle_sql" -> Seq("dedup_clusters", "knn_graph", "knn_density", "knn_classify",
      "semantic_clusters", "knn_hubness", "pagerank")
      .map(key => key -> graft.SparkEntry.oracleSql(key)).toMap)
}

/** Per-layer metric names (the `per_layer` list of BENCHMARK.json) and
  * the Spark-runtime and JVM metrics every traced pass reports.
  */
object Layers {
  val Exprs: Seq[String] = Seq("minhashSig", "shingleIds", "simhash64", "cosine",
    "cosTopK", "srpSig", "pqEncode", "wordSetHits", "c4LineFilter", "unigramViterbi")

  val Names: Seq[String] = Seq(
    "pgn.scan_s", "pgn.scan_task_cpu_s", "pgn.games_per_s", "pgn.partitions", "pgn.core_util",
    "chess.parse_s", "chess.stats_s", "chess.stats_shuffle_mb", "chess.stats_task_skew",
    "chess.roles_s", "chess.state_s", "chess.spill_mb",
    "chess.sink_s", "chess.sink_bytes", "chess.sink_files") ++
    graft.Report.Datasets.map { case (k, _) => s"eda.${k}_ms" } ++ Seq(
    "eda.scan_mb", "eda.files_read", "eda.shuffle_mb",
    "textops.gate_s", "textops.ppl_s", "sampling.mixture_s", "sampling.split_s", "curate.sink_s",
    "dedup.clusters_s", "similarity.knn_s", "similarity.riders_s", "lineage.jobs", "lineage.cpu_s") ++
    Exprs.map(e => s"functions.${e}_ns_per_row") ++ Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_s", "spark.task_run_s",
    "spark.sched_delay_s", "spark.core_util", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
    "spark.spill_mb", "spark.driver_cpu_s", "jvm.gc_s", "jvm.peak_heap_mb",
    "trace.attributed_share", "trace.unattributed_s",
    "trace.listener_wall_s", "trace.layered_wall_s")

  /** Spark-runtime and JVM numbers of one pass run with the listener on. */
  def runtime(t: Trace, p: Main.Pass, cores: Int): Map[String, Double] = {
    val c = t.allCounts
    Map(
      "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble, "spark.task_cpu_s" -> c.cpuNs / 1e9,
      "spark.task_run_s" -> c.runMs / 1e3, "spark.sched_delay_s" -> c.schedDelayMs / 1e3,
      "spark.core_util" -> c.runMs / 1e3 / (p.wall * cores),
      "spark.shuffle_read_mb" -> c.shuffleReadB / 1048576.0,
      "spark.shuffle_write_mb" -> c.shuffleWriteB / 1048576.0,
      "spark.spill_mb" -> c.spillB / 1048576.0,
      "spark.driver_cpu_s" -> (p.cpu - c.cpuNs / 1e9),
      "jvm.gc_s" -> p.gcS, "jvm.peak_heap_mb" -> p.peakHeapB / 1048576.0)
  }

  /** How much of the layered pass the layer spans (the leaves) cover. */
  def coverage(t: Trace, p: Main.Pass): Map[String, Double] = {
    val spans = t.closedSpans
    val leaves = spans.filter(s => !spans.exists(_.parent == s.id))
    val covered = leaves.map(s => (s.end - s.start) / 1e9).sum
    Map("trace.attributed_share" -> covered / p.wall,
      "trace.unattributed_s" -> (p.wall - covered))
  }
}
