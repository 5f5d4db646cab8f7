package graft

/** Reproducible merge-count scaling probe for the BPE trainer (SURVEY
  * §8; round-9 verdict item 8): `bpe_encode` trains 20 merges — a toy
  * count. This drives `Bpe.train` at production-shaped merge counts
  * on a real corpus and prints the cost curve, so the documented
  * pattern (ONE (pair, count) driver row per merge, vocabulary-only
  * rewrites) is demonstrated to hold, not assumed.
  *
  * Usage: runMain graft.BpeProbe <sfDir|synth> [mergeCounts…]
  * (default 20 100 500). `synth` builds a rich-vocabulary corpus
  * (5000 docs × 200 words over ~20k distinct 2-8-char shapes) — the
  * sf corpora's synthetic vocabulary exhausts its pair supply after
  * ~107 merges, so demonstrating the 500-merge regime needs word
  * shapes with real character diversity.
  */
object BpeProbe {
  def main(args: Array[String]): Unit = {
    val sfDirArg = args.head
    val counts = if (args.length > 1) args.tail.map(_.toInt).toSeq
                 else Seq(20, 100, 500)
    val spark = Session.start("ERROR")
    val sfDir =
      if (sfDirArg != "synth") sfDirArg
      else {
        import spark.implicits._
        val dir = java.nio.file.Files.createTempDirectory("bpe_synth").toString
        val rng = new scala.util.Random(19)
        // ~20k distinct word shapes over a 26-letter alphabet: enough
        // pair diversity for 500+ learnable merges
        def word(r: scala.util.Random): String =
          Array.fill(2 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
        val vocab = Array.fill(20000)(word(rng))
        (0 until 5000).map { i =>
          val r = new scala.util.Random(i)
          (i.toLong, Array.fill(200)(vocab(r.nextInt(vocab.length))).mkString(" "))
        }.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
        dir
      }
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    for (n <- counts) {
      val t0 = System.nanoTime()
      val c0 = osBean.getProcessCpuTime
      val (merges, vocab) = ops.Bpe.train(spark, sfDir, n)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      val vocabSyms = vocab.selectExpr("sum(size(sym))").head.getLong(0)
      vocab.unpersist()
      println(f"[bpeprobe] merges=$n learned=${merges.size} " +
        f"wall=$wall%.1fs cpu=$cpu%.1fs per_merge=${wall / math.max(1, merges.size)}%.3fs " +
        f"vocab_syms=$vocabSyms")
      Caches.sweep(spark)
    }
    spark.stop()
  }
}
