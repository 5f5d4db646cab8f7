package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe (SURVEY §8): builds a dup-heavy corpus N× the size of a
  * base SF's documents table (each copy re-keyed past the originals,
  * so every doc gains N-1 exact dups — the web-crawl shape the
  * exact-dup collapse exists for) and times the dedup family on it.
  * One line per operator; this is the reproducible form of the ad-hoc
  * 50k-doc probes quoted in SURVEY §8.
  *
  *   runMain graft.Scale [baseSf] [copies]
  *   runMain graft.Scale viral [copies]
  *   runMain graft.Scale viralbatch [copies]
  *
  * `viral` mode is the adversarial-skew tier (round-11): ONE document
  * with `copies` exact copies (default 1e6) plus a 10k-doc unique
  * tail — the single-hot-digest profile that serializes in a
  * window-based collapse. Per query it also records the STRAGGLER
  * RATIO (max/median task wall) from a task listener, the number the
  * [[graft.ops.Collapse]] seam is graded on.
  *
  * `viralbatch` mode (round-12) is the same profile moved into the
  * INCREMENTAL-ADMISSION seam: a clean 249-doc history (below the
  * registered splitId) and an arriving batch whose viral digest
  * history has never seen — every copy survives the anti-join, so
  * the within-batch keep-first alone must absorb the skew (the seam
  * that carried a tkey-keyed window before round 12). Probes
  * dedup_incremental and dedup_incremental_bloom.
  */
object Scale {

  /** The straggler line for everything run in `body`: (global max /
    * median task ms and their ratio, detail for the max task's STAGE).
    * The global max/median mixes stages of very different task weights
    * (a 32-way input scan vs hundreds of tiny exchange tasks), so the detail
    * line localizes the max task — stage id, that stage's own
    * max/median/task-count, and the stage name (scan / exchange /
    * result) — which is what distinguishes "heaviest stage is the
    * splittable input scan" from "one key serialized into one task".
    * The stage NAME (its callsite line) also distinguishes "max task is
    * a broadcast-relation build job" ($anonfun$withThreadLocalCaptured,
    * a bounded model-sized collect) from "one key serialized into one
    * exchange task" — the two readings of a 1-task max stage.
    */
  private def withTaskStats(spark: SparkSession)(body: => Unit)
      : (String, String) = {
    val stages = Trace.during(spark)(body).filter(_.tasks > 0)
    val sorted = stages.flatMap(_.taskMs).sorted
    val (maxT, medT) = if (sorted.isEmpty) (0L, 0L) else (sorted.last, sorted(sorted.size / 2))
    val ratio = if (medT > 0) maxT.toDouble / medT else 0.0
    val detail = if (stages.isEmpty) "no tasks" else {
      val worst = stages.maxBy(_.taskMs.max)
      val stage = worst.taskMs.sorted
      f"max task's stage: ${worst.id} [${worst.name}] (${stage.size} tasks, " +
        f"stage median ${stage(stage.size / 2)}ms, stage max ${stage.last}ms)"
    }
    (f"straggler max/median ${maxT}ms/${medT}ms = $ratio%.1fx", detail)
  }

  private def viralCorpus(spark: SparkSession, copies: Int): String = {
    val viral = "click here to accept cookies and continue to the site content"
    val hot = spark.range(1L, copies.toLong + 1)
      .select(col("id").as("doc_id"), lit(viral).as("text"))
    // tail tokens are id-derived so tail docs share NO shingle: the
    // probe isolates exact-dup skew — a templated tail would add 1e8
    // legitimate near-dup candidate pairs (its own, different workload)
    val tail = spark.range(copies.toLong + 1, copies.toLong + 10001)
      .select(col("id").as("doc_id"), format_string(
        "u%1$da u%1$db u%1$dc u%1$dd u%1$de u%1$df u%1$dg u%1$dh",
        col("id")).as("text"))
    val dir = s"/tmp/graft_scale_viral_$copies"
    hot.unionByName(tail)
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    System.err.println(
      s"[scale] viral corpus: 1 doc x $copies copies + 10k tail at $dir")
    dir
  }

  /** History (ids 1..249, unique) + viral batch (ids 250..copies+249,
    * ONE text) + unique tail: the incremental-admission skew corpus —
    * splitId 250 puts the viral mass entirely in the BATCH with a
    * digest absent from history.
    */
  private def viralBatchCorpus(spark: SparkSession, copies: Int): String = {
    val viral = "subscribe to our newsletter for the latest updates and offers"
    val hist = spark.range(1L, 250L)
      .select(col("id").as("doc_id"), format_string(
        "h%1$da h%1$db h%1$dc h%1$dd h%1$de h%1$df", col("id")).as("text"))
    val hot = spark.range(250L, copies.toLong + 250)
      .select(col("id").as("doc_id"), lit(viral).as("text"))
    val tail = spark.range(copies.toLong + 250, copies.toLong + 10250)
      .select(col("id").as("doc_id"), format_string(
        "u%1$da u%1$db u%1$dc u%1$dd u%1$de u%1$df u%1$dg u%1$dh",
        col("id")).as("text"))
    val dir = s"/tmp/graft_scale_viralbatch_$copies"
    hist.unionByName(hot).unionByName(tail)
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    System.err.println(s"[scale] viral-batch corpus: 249 history + " +
      s"$copies-copy batch + 10k tail at $dir")
    dir
  }

  /** One tight cluster of `hot` vectors + gaussian noise to `total`
    * vectors, ALL unique (the post-dedup contract holds) — with the
    * cluster placed on the vec_ids whose `md5("ivf:"||id)` ranks
    * LARGEST, so the hash-pivot selection (smallest ranks) can never
    * put a pivot inside the ball: every cluster member's nearest pivot
    * is the same outside pivot and the whole ball lands in ONE Voronoi
    * cell. The knn_graph join-output-skew worst case.
    */
  private def knnSkewCorpus(spark: SparkSession, hot: Int, total: Int): String = {
    val d = 16
    val ranked = spark.range(1L, total.toLong + 1)
      .select(col("id").as("vec_id"),
        md5(concat(lit("ivf:"), col("id").cast("string"))).as("hk"))
      .orderBy(desc("hk")).limit(hot).select("vec_id")
      .withColumn("is_hot", lit(true))
    val base = spark.range(1L, total.toLong + 1)
      .select(col("id").as("vec_id"))
      .join(ranked, Seq("vec_id"), "left")
      .withColumn("is_hot", coalesce(col("is_hot"), lit(false)))
    val dims = (0 until d).map { k =>
      when(col("is_hot"),
        lit(1.0) + lit(0.001) * randn(1000L + k))
        .otherwise(randn(2000L + k))
    }
    val dir = s"/tmp/graft_scale_knnskew_${hot}_$total"
    base.select(col("vec_id"),
        array(dims: _*).cast("array<float>").as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    System.err.println(s"[scale] knn-skew corpus: $hot-vector ball " +
      s"(pivot-free by hash rank) + ${total - hot} noise at $dir")
    dir
  }

  /** The knn_graph hot-Voronoi-cell probe (round 13, SURVEY §8):
    * measures the list-id join's straggler ratio on the degenerate
    * corpus under (a) plain join + default AQE, (b) plain join with
    * the AQE skew byte-threshold floored, (c) the hot-list salt.
    * Also reports whether OptimizeSkewedJoin ever engaged
    * (`skewed=true` in the final adaptive plan).
    */
  private def knnSkewProbe(spark: SparkSession, hot: Int, total: Int): Unit = {
    val dir = knnSkewCorpus(spark, hot, total)
    def run(tag: String, hotSalt: Int): Unit = {
      val t0 = System.nanoTime()
      var plan = ""
      val (straggler, detail) = withTaskStats(spark) {
        val df = graft.ops.Similarity.knnGraph(spark, dir, hotSalt = hotSalt)
        df.write.format("noop").mode("overwrite").save()
        plan = df.queryExecution.executedPlan.toString
      }
      System.err.println(f"[scale] knn_graph[$tag] ${(System.nanoTime() - t0) / 1e9}%.1fs " +
        s"$straggler; aqeSkewEngaged=${plan.contains("skewed=true")}; $detail")
      Caches.sweep(spark)
    }
    run("plain, default AQE", hotSalt = 1)
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    try run("plain, AQE byte-threshold floored", hotSalt = 1)
    finally {
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    }
    run(s"hot-list salt x${graft.ops.Similarity.HotSalt}",
      hotSalt = graft.ops.Similarity.HotSalt)
  }

  def main(args: Array[String]): Unit = {
    val knnSkewMode = args.headOption.contains("knnskew")
    val viralBatchMode = args.headOption.contains("viralbatch")
    val viralMode = args.headOption.contains("viral") || viralBatchMode
    val baseSf =
      if (viralMode) "" else args.headOption.getOrElse("/root/testdata/sf0.01")
    val copies = args.lift(1).map(_.toInt).getOrElse(if (viralMode) 1000000 else 10)
    val spark = Session.start()

    if (knnSkewMode) {
      val hot = args.lift(1).map(_.toInt).getOrElse(30000)
      val total = args.lift(2).map(_.toInt).getOrElse(1000000)
      knnSkewProbe(spark, hot, total)
      spark.stop()
      return
    }

    // the viral-batch corpus dictionary-compresses to a few MB, so the
    // default 128 MB split packing would coalesce the whole 2e7-row
    // scan into ONE task and the probe would measure input packing,
    // not operator skew; a 100 TB corpus has thousands of splits — 4 MB
    // packing reproduces that shape at probe size
    if (viralBatchMode)
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    val dir =
      if (viralBatchMode) viralBatchCorpus(spark, copies)
      else if (viralMode) viralCorpus(spark, copies)
      else {
      val base = Tables.load(spark, baseSf, "documents")
      val n = base.count()
      // stride by max id, not row count: a sparse-id corpus (previously
      // deduped/subsampled) would otherwise collide copies into each
      // other and silently corrupt the probe (null-guarded for an empty
      // table, where any stride does)
      val maxId = base.agg(max(col("doc_id"))).head()
      val stride = (if (maxId.isNullAt(0)) 0L else maxId.getLong(0)) + 1
      val big = (0 until copies).map(c =>
          base.select((col("doc_id") + lit(c.toLong * stride)).as("doc_id"),
            col("lang"), col("text")))
        .reduce(_.unionByName(_))
      val d = s"/tmp/graft_scale_${n}x$copies"
      big.write.mode("overwrite").parquet(s"$d/documents.parquet")
      System.err.println(s"[scale] corpus: ${n * copies} docs ($copies x $n) at $d")
      d
    }

    // the dedup family (exact-collapse dup-invariance is THE property
    // under test) plus the two round-5 heavies whose bounded-window /
    // broadcast claims deserve measured numbers on the same corpus:
    // contamination broadcasts the test-split shingle set (which GROWS
    // with the corpus here) and pack_contexts exercises the
    // hierarchical offsets at forced fanout depth
    // text_dup_spans shares the family's exact-collapse invariant: its
    // cross-doc gram exchange runs on UNIQUE texts, so doubling the
    // dup factor must not double its cost either
    // text_perplexity joined round 6 (cont. 5): its model counts come
    // from unique texts weighted by multiplicity, so the dup-heavy
    // corpus must grow its cost sublinearly like the dedup family
    val names =
      if (viralBatchMode)
        // the incremental-admission pair: the whole viral mass sits in
        // the BATCH (history is clean), so these exercise the
        // within-batch keep-first — de-windowed in round 12 onto the
        // Collapse seam — plus exact dedup as the whole-corpus control
        Seq("dedup_exact", "dedup_incremental", "dedup_incremental_bloom")
      else if (viralMode)
        // the collapse-riding family (SURVEY §4 / Collapse scaladoc):
        // every one of these previously carried the digest-keyed
        // window; the straggler ratio is what the rewrite is graded on
        // round-11 late riders: dedup_source_leakage's distinct
        // (digest, source) must collapse the hot digest map-side;
        // text_ppl_buckets runs its grouped ntile on a ONE-language
        // corpus — the exact profile where a lang-keyed window would
        // serialize every doc into one task
        Seq("dedup_exact", "dedup_minhash", "dedup_simhash",
          "dedup_jaccard", "dedup_clusters", "text_dup_spans",
          "text_perplexity", "curation_gate", "text_dsir",
          "text_remove_dup_spans", "text_ppl_buckets",
          "dedup_source_leakage")
      else
        Seq("dedup_exact", "dedup_minhash", "dedup_simhash",
          "dedup_jaccard", "dedup_clusters", "contamination", "pack_contexts",
          "text_dup_spans", "text_perplexity")
    for (name <- names) {
      val t0 = System.nanoTime()
      val (straggler, detail) = withTaskStats(spark) {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
      System.err.println(f"[scale] $name ${(System.nanoTime() - t0) / 1e9}%.1fs $straggler; $detail")
      Caches.sweep(spark) // each probe measures ITS cost, not leftovers
    }

    // AQE skew evidence on the collapse join-back itself: isolate
    // Collapse.reps + docToRep on the corpus with broadcast joins off
    // (so the tiny probe reps side can't sidestep the exchange — the
    // shuffle-join path is what a 100 TB corpus with billions of
    // distinct digests gets) and report whether OptimizeSkewedJoin
    // carved the hot key's partition in the FINAL adaptive plan.
    if (viralMode) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val docs = Tables.load(spark, dir, "documents")
          .select(col("doc_id"), graft.ops.Collapse.textKey(col("text")).as("k"))
        val d2r = graft.ops.Collapse.docToRep(
          docs, graft.ops.Collapse.reps(docs, "k"), "k")
        d2r.write.format("noop").mode("overwrite").save()
        val plan = d2r.queryExecution.executedPlan.toString
        val skewed = plan.contains("skewed=true")
        System.err.println(s"[scale] collapse join-back final plan: " +
          (if (skewed) "AQE skew-split ENGAGED (skewed=true)"
           else "no skew split in final plan") +
          s"; AQEShuffleRead=${plan.contains("AQEShuffleRead")}")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    spark.stop()
  }
}
