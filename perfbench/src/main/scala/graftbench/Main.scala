package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *
  * Set-up (session start and input generation) is timed as `setup_s`.
  * Then one client runs the workload's operations back to back, once:
  * the measured pass is the first time they run in this JVM, which is
  * what each invocation of graft's command-line mains pays. If that
  * pass ends before `S` seconds, further (warm) passes run until `S`
  * and are recorded apart, never mixed into the end-to-end numbers.
  * With `--trace 1`, the same pass runs with the span listener on (its
  * wall time against the untraced runs' `wall_s` is the tracing
  * overhead), then the workload's chain is re-driven layer by layer for
  * the per-layer numbers. Writes `DIR/result.json`, which `run.py`
  * checks and turns into the benchmark's output line.
  */
object Main {

  val Workloads: Seq[String] = Seq("ingest", "curate", "dedup_graph")

  /** Generations timed for `setup_s` (the median is reported). */
  private val GenReps = 3

  private def workloadFor(name: String, spark: SparkSession, work: Path, seed: Long): Workload =
    name match {
      case "ingest" => new Ingest(spark, work, seed)
      case "curate" => new Curate(spark, work, seed)
      case "dedup_graph" => new DedupGraph(spark, work, seed)
    }

  /** One unmeasured ingest pass: run under `-XX:ArchiveClassesAtExit`
    * at build time, it records the classes it loads (most of them
    * Spark's, shared by every workload) into a class-data-sharing
    * archive that later runs map instead of loading and verifying them
    * again. One workload keeps the build short.
    */
  private def train(work: Path): Unit = {
    val spark = Session.start(Runtime.getRuntime.availableProcessors(), work)
    try {
      val wl = workloadFor("ingest", spark, work, 0L)
      wl.generate(work.resolve("input"))
      runPass(spark, wl, 0, None, redrive = false)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    if (workload == "train") return train(Paths.get(opt("work")).toAbsolutePath)
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    Heap.install()
    val load0 = Heap.loadAvg()
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = Session.start(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val wl = workloadFor(workload, spark, work, seed)
      // generated GenReps times into fresh dirs; the workload uses the last
      val genS = (0 until GenReps).map { i =>
        val g0 = System.nanoTime()
        wl.generate(work.resolve(s"input$i"))
        (System.nanoTime() - g0) / 1e9
      }
      val setupS = sessionS + Stats.median(genS)
      System.err.println(f"[bench] setup: session $sessionS%.2fs, generate ${genS.mkString(",")}")

      var warmPasses = Seq.empty[Pass]
      var layered: Option[Pass] = None
      var perLayer = Map.empty[String, Double]
      var spans = Seq.empty[Map[String, Any]]
      var sites = Map.empty[String, Map[String, Double]]
      System.gc() // the measured pass starts from a collected heap
      val m0 = System.nanoTime()
      val measured = if (!traced) {
        val p = runPass(spark, wl, 0, None, redrive = false)
        while ((System.nanoTime() - m0) / 1e9 < seconds)
          warmPasses :+= runPass(spark, wl, 1 + warmPasses.size, None, redrive = false)
        p
      } else {
        // the workload's own operations with the listener on (its wall,
        // against the untraced runs' wall_s, is the tracing overhead),
        // then the chain re-driven layer by layer for the per-layer numbers
        val t = new Trace(spark.sparkContext)
        val listened = runPass(spark, wl, 0, Some(t), redrive = false)
        val runtime = Layers.runtime(t, listened, cores)
        val l = runPass(spark, wl, 1, Some(t), redrive = true)
        layered = Some(l)
        perLayer = wl.layerMetrics(t, 1, l) ++ runtime ++ Layers.coverage(t, l) +
          ("trace.listener_wall_s" -> listened.wall) + ("trace.layered_wall_s" -> l.wall)
        spans = t.closedSpans.take(400).map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "start_ms" -> (s.start - m0) / 1e6,
          "end_ms" -> (s.end - m0) / 1e6, "self_ms" -> t.selfNs(s) / 1e6))
        sites = t.bySite.toMap.map { case (s, (j, c)) =>
          s -> Map("jobs" -> j.toDouble, "task_cpu_s" -> c / 1e9) }
        val exprs = Exprs.nsPerRow(spark, t)
        perLayer = Layers.Names.map(n => n -> perLayer.getOrElse(n, exprs.getOrElse(n, 0.0))).toMap
        listened
      }

      val ops = measured.ops
      val attempted = ops ++ layered.toSeq.flatMap(_.ops) ++ warmPasses.flatMap(_.ops)
      val lat = ops.filter(_.ok).map(_.ms).sorted.toIndexedSeq
      val (tailPct, tailMs) = Stats.tail(lat)
      val failures = attempted.filterNot(_.ok).map(o => s"${o.name}: ${o.error}") ++
        wl.jvmFailures
      val e2e = Map(
        "wall_s" -> measured.wall,
        "cpu_s" -> measured.cpu,
        "op_p50_ms" -> Stats.median(lat),
        "op_tail_ms" -> tailMs,
        "rows_per_s" -> wl.rowsPerPass / measured.wall,
        "stored_bytes_per_row" ->
          wl.storedBytes(0).toDouble / math.max(1L, wl.storedRows(0)),
        "peak_heap_mb" -> measured.liveHeapB / 1048576.0,
        "setup_s" -> setupS,
        "error_rate" -> failures.size.toDouble / attempted.size)
      val record = Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
        "cores" -> cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "attempted" -> attempted.size, "failed" -> failures.size, "failures" -> failures.take(20),
        "op_count" -> lat.size, "op_tail_percentile" -> tailPct,
        "op_ms" -> ops.map(o => Map(o.name -> o.ms)),
        "warm_pass_wall_s" -> warmPasses.map(_.wall),
        "loadavg" -> Map("start" -> load0, "end" -> Heap.loadAvg()),
        "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS),
        "input" -> wl.inputSizes,
        "metrics" -> e2e, "per_layer" -> perLayer,
        "site_jobs_cpu" -> sites,
        "spans" -> spans,
        "check" -> wl.checkManifest)
      Files.writeString(work.resolve("result.json"), Json(record) + "\n")
    } finally spark.stop()
  }

  final case class OpResult(name: String, ms: Double, cpuS: Double, gcS: Double,
      ok: Boolean, error: String)
  final case class Pass(k: Int, ops: Seq[OpResult], liveHeapB: Long, peakHeapB: Long) {
    /** time, process CPU and GC time inside the operations */
    def wall: Double = ops.map(_.ms).sum / 1e3
    def cpu: Double = ops.map(_.cpuS).sum
    def gcS: Double = ops.map(_.gcS).sum
  }

  /** One pass: the workload's operations back to back. Only `NonFatal`
    * failures are counted; anything else (an OutOfMemoryError) ends the
    * run without a result. After the pass, outside its timing, the heap
    * it left live is read after full collections.
    */
  def runPass(spark: SparkSession, wl: Workload, k: Int, trace: Option[Trace],
      redrive: Boolean): Pass = {
    Heap.reset()
    trace.foreach(_.attach())
    def attempt(name: String)(body: => Unit): OpResult = {
      val c0 = Cpu.processNs()
      val g0 = Heap.gcMs()
      val s = System.nanoTime()
      val err = try { body; "" } catch { case NonFatal(e) => e.toString }
      OpResult(name, (System.nanoTime() - s) / 1e6, (Cpu.processNs() - c0) / 1e9,
        (Heap.gcMs() - g0) / 1e3, err.isEmpty, err)
    }
    val results = trace match {
      case Some(t) if redrive => Seq(attempt("layered_pass")(wl.traced(k, t)))
      case Some(t) => wl.ops(k).map(op => attempt(op.name)(t.span(s"op.${op.name}")(op.run())))
      case None => wl.ops(k).map(op => attempt(op.name)(op.run()))
    }
    trace.foreach(_.detach())
    val peak = Heap.peak()
    val live = Heap.liveAfterGc(spark)
    graft.Caches.sweep(spark)
    Pass(k, results, live, peak)
  }
}

object Session {
  /** `local[cores]` with the session settings `graft.Bench` uses; all
    * scratch space stays under the run's work directory.
    */
  def start(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 131072)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", 1024)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processNs(): Long = os.getProcessCpuTime
}

/** Heap used after each collection, from the collectors' own
  * notifications, plus a reading after the explicit GC between passes.
  */
object Heap {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val peakB = new java.util.concurrent.atomic.AtomicLong(0L)

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, h: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
                case (pool, u) if !pool.contains("Metaspace") && !pool.contains("Code") &&
                  !pool.contains("Compressed") => u.getUsed
              }.sum
              peakB.accumulateAndGet(used, (a, b) => math.max(a, b))
            }
        }, null, null)
      case _ => ()
    }

  def reset(): Unit =
    peakB.set(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)

  /** the highest heap use after any collection since `reset` */
  def peak(): Long = peakB.get

  /** The heap a pass left live. The listener bus is drained first, so
    * no queued event is counted; then three full collections 200 ms
    * apart (a pause for Spark's asynchronous cleanup: unpersists, the
    * context cleaner), each read from the collection's own after-GC
    * figures, so what other threads allocate once it ends (a fresh TLAB
    * is megabytes) is not counted. The lowest reading is reported.
    */
  def liveAfterGc(spark: SparkSession): Long = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    (0 until 3).map { i =>
      if (i > 0) Thread.sleep(200)
      System.gc()
      afterFullGc()
    }.min
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  /** Heap in use when the latest full collection ended (G1 reports
    * System.gc() under its old-generation collector).
    */
  private def afterFullGc(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.collectFirst {
      case b: com.sun.management.GarbageCollectorMXBean
          if b.getName == "G1 Old Generation" && b.getLastGcInfo != null =>
        b.getLastGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
    }.getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)

  def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim catch { case NonFatal(_) => "" }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest whole percentile with at least ten samples above it
    * (nearest rank), and its value. Below 20 samples no percentile
    * above the median qualifies; the median is reported then.
    */
  def tail(sorted: IndexedSeq[Double]): (Int, Double) = {
    val n = sorted.size
    if (n < 20) (50, median(sorted))
    else {
      val p = (100 * (n - 10)) / n
      val rank = math.ceil(p / 100.0 * n).toInt.max(1)
      (p, sorted(rank - 1))
    }
  }
}
