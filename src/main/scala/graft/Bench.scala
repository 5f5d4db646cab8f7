package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (SURVEY §6): runs the headline query set against
  * `SPARK_GRAFT_SF_DIR`, forcing full materialization through the
  * noop sink (count() would let Catalyst prune the expensive
  * projection work), and prints ONE JSON line.
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q1_pricing", "q3_shipping", "q5_volume", "q_top_users",
    "q_sessionize", "dedup_minhash", "ann_bruteforce", "text_quality",
    "cum_counts",
    // round-5 widening: the operators recent rounds made native or
    // added, previously perf-invisible between rounds
    "dedup_jaccard", "dedup_clusters", "pack_contexts", "ann_ivf",
    "ann_lsh", "dedup_embed",
    // round 6: the reference's CORE workload — PGN parse + running
    // stats + role doubling + range-partitioned monthly sink — timed
    // end to end (20k-game corpus, real parquet write; everything
    // else here is analytics over already-ingested data)
    "pgn_ingest",
    // round 6 (cont.): the cross-doc duplicate-span scan — corpus-wide
    // gram exchange, the heaviest new round-6 analytics operator
    "text_dup_spans",
    // round 6 (cont. 5): the bigram-LM build + scoring joins (the
    // corpus-model train/apply shape), the Bloom-prefiltered
    // incremental dedup (broadcast membership + exact verify), the
    // composed curation gate (every native text scan in one pass +
    // the digest window), and the k-means refinement (row-local
    // assignment + one keyed update + driver centroid roundtrip)
    "text_perplexity", "dedup_incremental_bloom", "curation_gate",
    "embed_kmeans",
    // round 7: SemDeDup — the composed cluster-then-scoped-near-dup
    // pipeline (k-means assignment + cluster-keyed SRP buckets +
    // exact verify), the heaviest new round-7 operator
    "dedup_semantic",
    // round 8: BM25 retrieval scoring — the query-term-pruned tf
    // shuffle + broadcast-df + bounded top-k shape
    "text_bm25",
    // round 9: product-quantized ANN (codebook train + code-only ADC
    // join + bounded exact re-rank), the full C4 cleaning pipeline
    // (row-local page rules + the md5-keyed corpus-wide span dedup),
    // and perceptual-hash image near-dup (decode + dHash in the
    // multimodal batch scan, then SimHash banding) — the first
    // multimodal entry in the headline set
    "ann_ivfpq", "text_c4_clean", "dedup_image",
    // round 9 (cont.): the tokenizer-apply workload — the D22 train
    // loop (20 count→argmax→rewrite rounds on the collapsed
    // vocabulary) plus the corpus-wide encode join
    "bpe_encode",
    // round 10: incremental image admission — decode+dHash of the
    // whole corpus, history band-index probe, within-batch collapse
    "dedup_image_incremental",
    // round 11: the corpus-wide kNN graph build (IVF-decomposed
    // self-join, √n lists, bounded top-k) — the substrate of the
    // density/label-propagation/cluster family
    "knn_graph",
    // round 12: the composed graph-family session — ONE cut kNN
    // build feeding density/classify/clusters/pagerank/hubness
    // through the *On seams (Pipeline.graphAudit); tracks the
    // shared-build scaling the riders actually pay in a pipeline
    "graph_audit",
    // round 13: the held-out NB quality scorer — representative of the
    // r12 Collapse re-seamed held-out trio (3 of the 5 heaviest
    // long-tail CPU keys), promoted so the re-seam's scaling is
    // tracked at sf1/sf10 instead of only in the single-sample tail
    "text_quality_classifier_heldout")

  /** One attempt at a bench entry: by default the registered query
    * into the noop sink. `pgn_ingest` is one full ingest pass — 20k
    * sample games through parse → withStats → role doubling → the
    * range-partitioned sink, written to a throwaway dir (a real
    * parquet write: the sink IS part of the measured workload); the
    * sample corpus write and the dir's delete stay outside the timed
    * span. `graph_audit`'s counts ARE its materialization (each rider
    * runs through an action inside graphAudit).
    */
  private def once(spark: SparkSession, sfDir: String, name: String): Runner.Attempt =
    name match {
      case "pgn_ingest" =>
        import graft.chess.{ChessPipeline, SamplePgn}
        val src = SamplePgn.ensureWritten(nFiles = 8, gamesPerFile = 2500)
        val out = java.nio.file.Files.createTempDirectory("bench_ingest")
        try Runner.attempt(spark, "bench", name) {
          ChessPipeline.writePartitioned(
            ChessPipeline.toPlayerGameRole(ChessPipeline.withStats(
              ChessPipeline.parseGames(spark.read.format("pgn").load(src)))),
            out.toString)
        } finally
          // don't bloat /tmp across the timed+warm-up runs — including
          // a failed one's partial write
          LocalFs.deleteRecursively(out)
      case "graph_audit" =>
        Runner.attempt(spark, "bench", name)(Pipeline.graphAudit(spark, sfDir))
      case _ =>
        Runner.attempt(spark, "bench", name)(SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save())
    }

  /** The -1 entry of a query with no successful sample. */
  private val Missing = Runner.Attempt(-1.0, -1.0, -1.0, Nil, None)

  /** An integer env setting, or usage exit 2 when it does not parse. */
  private def intEnv(key: String, default: Int): Int =
    sys.env.get(key).fold(default)(v => v.toIntOption.getOrElse {
      System.err.println(s"[bench] $key must be an integer, got '$v'")
      sys.exit(2)
    })

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // huge-SF tiers (sf100) run ONE timed pass with no warm-up — a
    // 2-3 h single pass can't afford 4x, and at that scale per-query
    // JIT noise is a rounding error against multi-minute queries —
    // over an explicit subset (the ladder-relevant heavies + linear
    // controls; a full sf100 headline pass is ~2.5 h alone)
    val rounds = intEnv("SPARK_GRAFT_BENCH_ROUNDS", 3)
    val warmup = intEnv("SPARK_GRAFT_BENCH_WARMUP", 1) > 0
    val headline = sys.env.get("SPARK_GRAFT_BENCH_QUERIES") match {
      case Some(qs) => Bench.headline.filter(qs.split(",").toSet)
      case None => Bench.headline
    }
    val spark = Session.start()
    // Warm the session (parquet footer reads, codegen of a trivial
    // plan) so the first measured query doesn't pay session init.
    Tables.names.foreach(n =>
      if (n == "events") Tables.events(spark, sfDir).schema
      else Tables.load(spark, sfDir, n).schema)
    // Noise-robust timing. This host's wall clock is contended: the
    // round-7 driver bench measured every query 1.2-2.6x slower (and
    // one 13x) than identical code the round before, because external
    // load arrived during ONE query's consecutive samples and left
    // during another's. Three defenses, per the round-7 adjudication:
    //   1. INTERLEAVED sampling — one untimed warm-up pass over all
    //      queries (JIT + janino codegen, paid once on a real
    //      cluster), then 3 ROUND-ROBIN passes (q1..qN, q1..qN, ...)
    //      instead of 3 back-to-back samples per query. A contention
    //      window now inflates every query's sample i roughly
    //      equally, leaving each query's min-of-N from a quieter
    //      pass, instead of destroying all samples of whichever
    //      query it landed on.
    //   2. min-of-N wall per query, with up to 2 extra samples for
    //      queries whose spread is still >3x after the rounds.
    //   3. PROCESS CPU seconds and GC time recorded per sample: CPU
    //      is what the engine actually charges and moves only with
    //      code (compare "cpu" across rounds to separate regression
    //      from noise); GC time exposes heap-pressure drifts that
    //      masquerade as compute regressions (the r5 clusters drift).
    def attempt(name: String) = once(spark, sfDir, name)

    // warm-up pass (discarded); a query that throws here is reported
    // as -1 and skipped in the timed rounds
    val failed = if (warmup) headline.filterNot(n => attempt(n).ok).toSet else Set.empty[String]
    val live = headline.filterNot(failed)
    val samples = scala.collection.mutable.Map.empty[String, Vector[Runner.Attempt]]
      .withDefaultValue(Vector.empty)
    def sample(name: String): Runner.Attempt = {
      val a = attempt(name)
      if (a.ok) samples(name) = samples(name) :+ a
      a
    }
    for (r <- 1 to rounds; name <- live) {
      val a = sample(name)
      if (a.ok) System.err.println(f"[bench] pass $r: $name ${a.wall}%.1fs cpu ${a.cpu}%.1f")
    }
    // queries still noisy after interleaving get up to 2 extra samples
    for (name <- live; _ <- 1 to 2) {
      val walls = samples(name).map(_.wall)
      if (walls.nonEmpty && walls.max > 3 * walls.min) sample(name)
    }

    val results: Seq[(String, Runner.Attempt, Vector[Runner.Attempt])] =
      headline.map { name =>
        val ss = samples(name)
        (name, if (ss.isEmpty) Missing else ss.minBy(_.wall), ss)
      }
    def field(f: Runner.Attempt => Double): String =
      results.map { case (k, best, _) => f""""$k":${f(best)}%.3f""" }
        .mkString("{", ",", "}")
    def rawField(f: Runner.Attempt => Double): String =
      results.map { case (k, _, ss) =>
        s""""$k":${ss.map(s => f"${f(s)}%.3f").mkString("[", ",", "]")}"""
      }.mkString("{", ",", "}")
    val total = results.map(_._2.wall).filter(_ >= 0).sum
    val totalCpu = results.map(_._2.cpu).filter(_ >= 0).sum
    // "order" records the interleave sequence (each timed pass visits
    // queries in exactly this order), so cross-round sample-i
    // alignment is reconstructible from the record alone
    val order = live.map(n => s""""$n"""").mkString("[", ",", "]")
    // --full: one [wall, cpu, gc] sample for EVERY registered query
    // not in the headline set — the long-tail regression radar
    // (round-10 verdict item 6: 79 of 107 keys had no tracked number;
    // a regression in mm_resize or export_shards was invisible).
    // Single-sample wall is noisy on this host — the CPU column is
    // the cross-round comparison signal, same as the headline runs.
    val fullJson = if (!args.contains("--full")) "" else {
      val tail = SparkEntry.queries.keys.toSeq.sorted
        .filterNot(headline.contains)
      val entries = tail.map { name =>
        val s = Some(attempt(name)).filter(_.ok).getOrElse(Missing)
        System.err.println(f"[bench] full: $name ${s.wall}%.2fs cpu ${s.cpu}%.2f")
        f""""$name":[${s.wall}%.3f,${s.cpu}%.3f,${s.gc}%.3f]"""
      }
      s""","full":${entries.mkString("{", ",", "}")}"""
    }
    val totals = f""""metric":"total","value":$total%.3f,"unit":"sec","cpu_total":$totalCpu%.3f"""
    val best = s""""queries":${field(_.wall)},"cpu":${field(_.cpu)},"gc":${field(_.gc)}"""
    val sf = s""""sf":"$sfDir""""
    val json = s"""{$totals,$best,"runs":${rawField(_.wall)},"cpu_runs":${rawField(_.cpu)},"gc_runs":${rawField(_.gc)},"order":$order$fullJson,$sf}"""
    // Stdout gets ONLY the compact summary line (metric/value/queries/
    // cpu — the driver contract), ~2 KB. The driver's capture keeps a
    // bounded TAIL of stdout; r13 and r14 both shipped `parsed: null`
    // because the detail line (runs/cpu_runs/gc_runs/--full arrays,
    // tens of KB) had its HEAD cut by that bound. The full detail
    // lives in the durable file below, where it always did.
    println(s"{$totals,$best,$sf}")
    // FINAL stdout line is a minimal record (<120 bytes): the driver
    // keeps only the last 2,000 bytes of stdout, and the compact line
    // above grew past that bound (r13–r15 all shipped `parsed: null`,
    // r15 missing by 89 bytes). The tail now always ends with one
    // complete parseable JSON line regardless of how many queries the
    // headline set grows to; per-query detail stays in the compact
    // line and the durable file.
    println(s"{$totals,$sf}")
    // Durable twin with the per-sample detail (VERDICT r8 item 7: the
    // driver's BENCH_r08 capture truncated to 6 of 23 queries — the
    // committed file makes the per-query record survive a lossy
    // capture). Path overridable so ad-hoc runs don't clobber the
    // round record; a failed write fails the run, after both stdout
    // lines are out.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    spark.stop()
  }
}
