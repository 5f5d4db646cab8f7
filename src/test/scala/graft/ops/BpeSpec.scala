package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** BPE trainer semantics (SURVEY §2.D22) on hand-computable corpora:
  * the merge sequence, greedy rewrite, and weighted pair counts.
  */
class BpeSpec extends SparkSpec {

  /** One-doc corpus whose word frequencies are exactly `words`. */
  private def corpus(words: (String, Int)*): String = {
    import spark.implicits._
    val d = Files.createTempDirectory("bpe_spec").toString
    val text = words.flatMap { case (w, n) => Seq.fill(n)(w) }.mkString(" ")
    Seq(Doc(1, text, "en", "s", text.length))
      .toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("bpe train reproduces the classic newest/widest merge sequence") {
    // Sennrich et al. 2016 §3.2's worked example (plus 'low'/'lower'):
    // (e,s), then (es,t), then (est,</w>) — all count 9, found in
    // that order under the (cnt desc, p1, p2) tie-break
    val d = corpus("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3)
    val (merges, vocab) = Bpe.train(spark, d, 3)
    assert(merges === Seq(Bpe.Merge("e", "s", 9),
      Bpe.Merge("es", "t", 9), Bpe.Merge("est", "</w>", 9)))
    val syms = vocab.filter(col("word") === "newest")
      .select("sym").collect()(0).getSeq[String](0)
    assert(syms === Seq("n", "e", "w", "est</w>"))
    vocab.unpersist()
  }

  test("bpe merge rewrite is greedy left-to-right on overlapping pairs") {
    // "aaa" under merge (a,a): greedy gives [aa, a], never [a, aa];
    // the merged symbol must not cascade-merge with the next token
    // within the same round
    val d = corpus("aaa" -> 1)
    val (merges, vocab) = Bpe.train(spark, d, 2)
    assert(merges === Seq(Bpe.Merge("a", "a", 2), Bpe.Merge("a", "</w>", 1)))
    val syms = vocab.select("sym").collect()(0).getSeq[String](0)
    assert(syms === Seq("aa", "a</w>"))
    vocab.unpersist()
  }

  test("bpe_pairs counts pair occurrences weighted by word frequency") {
    val d = corpus("ab" -> 3, "ba" -> 2)
    val rows = Bpe.bpePairs(spark, d).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    // "ab" x3 -> (a,b):3 (b,</w>):3; "ba" x2 -> (b,a):2 (a,</w>):2;
    // output in (cnt desc, p1, p2) order
    assert(rows.toSeq === Seq(("a", "b", 3L), ("b", "</w>", 3L),
      ("a", "</w>", 2L), ("b", "a", 2L)))
  }

  test("bpe_encode: counts and first-word encoding on a hand-computed corpus") {
    // "abab" x4, "ab" x2: merges learned in order (a,b) 10, (ab,</w>) hm —
    // trace: v0 pairs: (a,b):10, (b,a):4, (b,</w>):6 → merge1 (a,b)
    // v1: abab→[ab,ab,</w>], ab→[ab,</w>]; pairs: (ab,ab):4, (ab,</w>):6
    //   → merge2 (ab,</w>)
    // v2: abab→[ab,ab</w>], ab→[ab</w>]; pairs: (ab,ab</w>):4 → merge3
    // v3: abab→[abab</w>], ab→[ab</w>] — no pairs left, train stops
    val d = corpus("abab" -> 4, "ab" -> 2)
    val enc = Bpe.bpeEncode(spark, d, nMerges = 5).collect()
    assert(enc.length === 1)
    val r = enc(0)
    // the one doc holds 6 words; 4 encode to 1 symbol, 2 to 1 symbol
    assert(r.getLong(1) === 6L)   // n_words
    assert(r.getLong(2) === 6L)   // n_bpe: every word fully merged
    // doc text starts with "abab" (corpus builder order)
    assert(r.getString(3) === "abab</w>")
  }

  test("bpe_encode: partially merged words keep multi-symbol encodings") {
    // merges stop at 1: only (a,b) learned; "aba" → [ab, a, </w>]
    val d = corpus("ab" -> 5, "aba" -> 1)
    val enc = Bpe.bpeEncode(spark, d, nMerges = 1).collect()
    val r = enc(0)
    assert(r.getLong(1) === 6L)
    // "ab" → [ab, </w>] (2 syms) x5 + "aba" → [ab, a, </w>] (3) = 13
    assert(r.getLong(2) === 13L)
    assert(r.getString(3) === "ab </w>")
  }

  test("bpe train survives chains past RddChainCap (the 300-round StackOverflow regression)") {
    // the default Lineage.cut keeps RDD lineage; without the periodic
    // cutHard, ~300 accumulated rounds overflow the task-deser stack
    // (found at 500 merges, SURVEY §8). 2·cap + 10 rounds crosses two
    // hard-cut windows; a vocabulary of random 6-char words over 8
    // letters supplies enough distinct pairs to actually learn them.
    val rng = new scala.util.Random(7)
    val words = Seq.fill(400)(
      Array.fill(6)(('a' + rng.nextInt(8)).toChar).mkString -> 1)
    val n = 2 * Bpe.RddChainCap + 10
    val d = corpus(words: _*)
    val (merges, vocab) = Bpe.train(spark, d, n)
    vocab.unpersist()
    assert(merges.size === n, s"expected $n merges, learned ${merges.size}")
  }

  test("bpe train stops early when no pairs remain") {
    // single-char word: syms [x, </w>] -> one pair, then nothing
    val d = corpus("x" -> 4)
    val (merges, vocab) = Bpe.train(spark, d, 5)
    assert(merges === Seq(Bpe.Merge("x", "</w>", 4)))
    assert(vocab.select("sym").collect()(0).getSeq[String](0) === Seq("x</w>"))
    vocab.unpersist()
  }

  test("bpe_fertility totals == bpe_encode totals; ratio arithmetic") {
    val dir = "/root/testdata/sf0.001"
    val fert = Bpe.bpeFertility(spark, dir).collect()
    assert(fert.nonEmpty)
    // (source, n_words, n_bpe, n_chars, bpe_per_word, chars_per_bpe)
    for (r <- fert) {
      assert(r.getDouble(4) === r.getLong(2).toDouble / r.getLong(1).toDouble)
      assert(r.getDouble(5) === r.getLong(3).toDouble / r.getLong(2).toDouble)
      // every word is at least one symbol; merges only shrink, so the
      // symbol count never exceeds chars + sentinel
      assert(r.getDouble(4) >= 1.0)
      assert(r.getLong(2) <= r.getLong(3) + r.getLong(1))
    }
    // corpus-level conservation against the per-doc encode
    val enc = Bpe.bpeEncode(spark, dir).collect()
    assert(fert.map(_.getLong(1)).sum === enc.map(_.getLong(1)).sum)
    assert(fert.map(_.getLong(2)).sum === enc.map(_.getLong(2)).sum)
  }
}
