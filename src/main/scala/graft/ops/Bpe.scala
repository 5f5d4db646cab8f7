package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** D22: BPE tokenizer training — the pair-counting core (Sennrich et
  * al. 2016; GPT-2's byte-level variant counts the same statistic
  * over bytes). Training a tokenizer on a 100 TB corpus is itself a
  * large-scale data job, and its inner loop is exactly one Spark
  * aggregation: count adjacent symbol pairs over the DISTINCT word
  * shapes weighted by word frequency.
  *
  * Scale shape: the corpus collapses to its vocabulary first (one
  * partial-aggregated word count — the dedup-family invariant: pair
  * work runs on unique words, never the corpus), then a row-local
  * symbol explode bounded by word length and a second partial agg on
  * pair keys. Nothing is quadratic; the iterative trainer's only
  * driver traffic is ONE (pair, count) row per merge (the CC-loop
  * driver-scalar pattern, Dedup.dedupClusters).
  *
  * Symbols are code points with the `</w>` end-of-word sentinel
  * (Sennrich's formulation — the sentinel is what lets a learned
  * merge distinguish word-final from word-internal contexts).
  */
object Bpe {

  /** (word, wc) vocabulary frame of the documents table — the Collapse
    * front-end both tokenizer trainers (BPE here, [[Unigram]]) ride:
    * all training statistics run over UNIQUE words weighted by
    * frequency, never the corpus.
    */
  private[ops] def wordCounts(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenRows(Tables.load(s, dir, "documents"))
      .groupBy(col("token").as("word"))
      .agg(count(lit(1)).as("wc"))

  /** Adjacent-pair rows (p1, p2, wc) of a (word, wc, …) frame where
    * `sym` holds the word's current symbol sequence. One row per pair
    * OCCURRENCE (a word with "aaa" under symbols [a,a,a,</w>] yields
    * (a,a) twice), so sum(wc) per (p1, p2) is the classic BPE count.
    */
  private def pairRows(words: DataFrame): DataFrame =
    words
      .filter(size(col("sym")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(1, size(sym) - 1), " +
          "i -> struct(element_at(sym, i) AS p1, element_at(sym, i + 1) AS p2))"))
        .as("p"))
      .select(col("p.p1").as("p1"), col("p.p2").as("p2"), col("wc"))

  /** Initial symbol column: the word's code points plus `</w>`. */
  private def initialSyms(word: Column): Column =
    concat(
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
      array(lit("</w>")))

  /** The counting stage as a query: top-k adjacent symbol pairs of
    * the INITIAL (character) alphabet over the whole corpus — merge 0
    * of training, and the statistic every subsequent merge re-ranks.
    * Deterministic total order (cnt desc, then the pair) so top-k is
    * engine-exact.
    */
  def bpePairs(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    pairRows(wordCounts(s, dir).withColumn("sym", initialSyms(col("word"))))
      .groupBy("p1", "p2").agg(sum(col("wc")).as("cnt"))
      .orderBy(desc("cnt"), col("p1"), col("p2"))
      .limit(k)

  final case class Merge(p1: String, p2: String, cnt: Long)

  /** The full training loop: `nMerges` rounds of count → argmax →
    * merge. Returns the learned merge list and the final symbolized
    * vocabulary. Each round is two distributed jobs (pair count +
    * symbol rewrite); only the winning (pair, count) row crosses to
    * the driver. The rewrite is a greedy left-to-right fold (the
    * reference BPE semantics: "aaa" + merge (a,a) → ["aa", "a"]),
    * expressed as a Catalyst `aggregate` HOF — row-local, bounded by
    * word length. Ties break (cnt desc, p1 asc, p2 asc), making
    * training fully deterministic.
    *
    * Each round's vocabulary is Lineage.cut to truncate the
    * growing lineage, and the previous round's blocks are unpersisted
    * once the next materializes (the CC-loop hygiene, Dedup). Every
    * [[RddChainCap]]-th round the cut is the HARD form
    * ([[graft.Lineage.cutHard]]) that truncates RDD lineage too: the
    * default cut keeps a recomputable RDD chain, and at production
    * merge counts (~300+) that chain's recursive task
    * deserialization overflows the stack (found at 500 merges, round
    * 10 — SURVEY §8; BpeSpec trains past two caps to pin it).
    */
  val RddChainCap = 64

  def train(s: SparkSession, dir: String, nMerges: Int): (Seq[Merge], DataFrame) = {
    var words = wordCounts(s, dir)
      .withColumn("sym", initialSyms(col("word")))
      .transform(graft.Lineage.cut)
    // r17: each round's rewritten vocabulary is cut LAZILY — the next
    // round's pair-count collect is its materializing action, so the
    // loop runs ONE distributed job per merge instead of two (the cut's
    // eager count was pure latency; same plan-lineage truncation).
    // Consequence: the previous round's blocks are the lazy frame's
    // recompute source, so they are freed AFTER the collect below, not
    // at rewrite time — and with Lineage.free, which unpersists the
    // cut's underlying RDD (the old `words.unpersist()` was a
    // CacheManager call that never matched a persistCut frame, so the
    // round blocks silently accumulated until the end-of-query sweep).
    var prev: Option[org.apache.spark.sql.DataFrame] = None
    val merges = Seq.newBuilder[Merge]
    var done = false
    var i = 0
    while (i < nMerges && !done) {
      val top = pairRows(words)
        .groupBy("p1", "p2").agg(sum(col("wc")).as("cnt"))
        .orderBy(desc("cnt"), col("p1"), col("p2"))
        .limit(1).collect()
      // `words` is materialized now; the round before it has no reader
      prev.foreach(graft.Lineage.free)
      prev = None
      if (top.isEmpty) done = true
      else {
        val m = Merge(top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += m
        // r17 negative result, reverted: gating this fold behind an
        // array_position(sym, p1) precheck (skip words that cannot
        // contain the pair) measured WORSE at 20 merges — early
        // winning pairs have very common single-char p1 ('e', 't',
        // '</w>'-mates), so the precheck scanned every word and almost
        // never skipped: bpe_encode bench CPU 6.2 -> 9.7 s sf0.1,
        // paired same-window A/B. A convergence-depth trainer (300+
        // merges, rare pairs) may want it back; at the registered
        // dials it is pure overhead.
        val merged = aggregate(col("sym"),
          array().cast("array<string>"),
          (acc, x) =>
            when(size(acc) > 0 &&
                element_at(acc, -1) === lit(m.p1) && x === lit(m.p2),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(concat(element_at(acc, -1), x))))
              .otherwise(concat(acc, array(x))))
        val next = words.withColumn("sym", merged).transform(
          if ((i + 1) % RddChainCap == 0) graft.Lineage.cutHard
          else graft.Lineage.cutLazy)
        prev = Some(words)
        words = next
      }
      i += 1
    }
    // the final vocabulary materializes at its first consumer (the
    // encode joins / the registered train query's sink); its
    // predecessor must stay readable until then, so it is NOT freed
    // here — the end-of-query sweep reclaims both blocks
    (merges.result(), words)
  }

  /** D32: BPE ENCODING — applying the trained tokenizer to the corpus
    * (the tokenize-everything job that follows D22's training and
    * precedes every token-budget stage: D16 packing, D26 batching and
    * token accounting all want BPE counts, not whitespace counts).
    * Trains `nMerges` merges with [[train]], then encodes via the
    * dedup-family invariant: the VOCABULARY is encoded once (train's
    * final symbolization IS the encoded vocabulary — unique words,
    * never the corpus), and the corpus just joins each token
    * occurrence to its word's symbol count. Output per document:
    * token count, BPE token count, and the first word's full symbol
    * sequence (`first_enc` pins actual symbol streams, not just
    * counts, through the hash compare).
    *
    * Scale shape: training as D22 (one (pair,count) driver row per
    * merge); encoding is one narrow posexplode + one vocabulary join
    * + one doc-keyed partial agg. The vocab join is broadcast here
    * (test-scale vocabularies are model-sized); a web-scale
    * vocabulary (10⁸+ words) drops the hint and the same plan is a
    * word-keyed shuffle join — nothing else changes.
    *
    * The oracle is the full unrolled re-derivation: DuckDB replays
    * all `nMerges` training rounds (pair count → (cnt desc, pair)
    * argmax → greedy left-to-right rewrite as a list-of-lists fold)
    * and re-encodes every document — so a drifted tie-break, a wrong
    * merge order, or a non-greedy rewrite all hash-mismatch.
    */
  def bpeEncode(s: SparkSession, dir: String, nMerges: Int = 20): DataFrame = {
    val (_, vocab) = train(s, dir, nMerges)
    // AGGREGATE SHAPE is a measured plan decision (round 14): the old
    // single groupBy carried `min_by(sym, pos)` — an ARRAY-valued
    // aggregation buffer, which Spark cannot hash-aggregate (buffers
    // must be fixed-width), so the WHOLE per-doc rollup planned as
    // SortAggregate: every exploded token row (corpus-linear, wide —
    // tok + the joined sym array) was buffered and SORTED per task.
    // Per-task sort runs grow with the corpus, and the measured
    // per-token CPU grew 2.3-3.7x per decade (sf10 1.6 -> sf100 13.7
    // us/token, §8 r14) — the bpe_encode 25-37x/decade residual. The
    // fix splits the query by buffer width: token counts are a pure
    // fixed-width HashAggregate (count + sum LONGs, codegen, no sort
    // at any scale), and the first word's symbol string — constant per
    // doc, never an aggregate at all — comes from a narrow one-row-
    // per-doc scan (regexp_extract of the first token, O(token) not
    // O(text)) broadcast-joined to the vocabulary. min_by(sym, pos)
    // == sym(pos 0) == the first token's encoding: pos 0 always joins
    // because the vocabulary is built from the same corpus.
    val enc = vocab.select(col("word"), col("sym"),
      size(col("sym")).cast("long").as("n_sym"))
    val encCnt = enc.select(col("word"), col("n_sym"))
    // serialized (space-joined), NOT an array column: the driver's
    // pandas hash-compare cannot sort/factorize list cells, so every
    // registered query ships scalar columns only (ScalarOutputSpec
    // guards this structurally). A symbol can never contain a space
    // (tokens are whitespace-split), so the join is lossless.
    val encStr = enc.select(col("word").as("w0"),
      array_join(col("sym"), " ").as("first_enc"))
    // explode, not posexplode (r17): the counts aggregate never reads
    // the position, and the exploded token stream is the widest frame
    // of the query — one less int per row through the hot codegen span
    // (the occupancy-bound stage of the r16 §5 attribution)
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        explode(filter(TextOps.wsTokens(col("text")), _ =!= "")).as("tok"))
    val counts = toks.join(broadcast(encCnt), toks("tok") === encCnt("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe"))
    val firsts = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        regexp_extract(col("text"), "^\\s*(\\S+)", 1).as("tok0"))
      .filter(col("tok0") =!= "")
      .join(broadcast(encStr), col("tok0") === col("w0"))
      .select(col("doc_id"), col("first_enc"))
    counts.join(firsts, Seq("doc_id"))
      .select("doc_id", "n_words", "n_bpe", "first_enc")
      .orderBy("doc_id")
  }

  /** The [[bpeEncode]] oracle: `w`/`v0` as bpe_pairs, then `nMerges`
    * unrolled (pair-count → argmax → fold-rewrite) stages, then the
    * per-document re-encode. The rewrite folds ONE-TOKEN LISTS so the
    * accumulator type matches the element type (DuckDB's list_reduce
    * takes no initial value); `acc[-1] = p1 AND x = p2 → pop+append
    * merged` is exactly the engine's greedy left-to-right `aggregate`
    * lambda.
    */
  /** The shared CTE prefix of the encode-family oracles: `w`/`v0` as
    * bpe_pairs, `nMerges` unrolled (pair-count → argmax →
    * fold-rewrite) stages, ending at `enc(word, sym, n_sym)` — the
    * trained vocabulary every encode consumer joins against.
    */
  private def encodePrefixSql(nMerges: Int): StringBuilder = {
    val sb = new StringBuilder
    sb.append(
      raw"""WITH w AS (
        |  SELECT token AS word, count(*) AS wc FROM (
        |    SELECT unnest(string_split_regex(text, '\s+')) AS token
        |    FROM documents)
        |  WHERE token <> '' GROUP BY token),
        |v0 AS MATERIALIZED (
        |  SELECT word, wc,
        |    list_append(list_transform(range(1, length(word) + 1),
        |      i -> substr(word, CAST(i AS INT), 1)), '</w>') AS sym
        |  FROM w)""")
    for (k <- 1 to nMerges) {
      sb.append(s""",
        |p$k AS MATERIALIZED (
        |  SELECT sym[CAST(i AS INT)] AS p1, sym[CAST(i AS INT) + 1] AS p2, wc
        |  FROM (SELECT wc, sym, unnest(range(1, len(sym))) AS i FROM v${k - 1})),
        |m$k AS (
        |  SELECT p1, p2 FROM p$k GROUP BY p1, p2
        |  ORDER BY sum(wc) DESC, p1, p2 LIMIT 1),
        |v$k AS MATERIALIZED (
        |  SELECT word, wc,
        |    list_reduce(list_transform(sym, t -> [t]),
        |      (acc, x) -> CASE WHEN m.p1 IS NOT NULL
        |                       AND acc[-1] = m.p1 AND x[1] = m.p2
        |                  THEN list_append(array_pop_back(acc), m.p1 || m.p2)
        |                  ELSE list_append(acc, x[1]) END) AS sym
        |  FROM v${k - 1} LEFT JOIN m$k m ON TRUE)""")
    }
    sb.append(raw""",
        |enc AS (SELECT word, sym, CAST(len(sym) AS BIGINT) AS n_sym FROM v$nMerges)""")
    sb
  }

  /** D37: per-source tokenizer fertility — the compression diagnostic
    * of tokenizer papers (symbols per word, chars per symbol) computed
    * under the trained vocabulary, per corpus source. A source whose
    * fertility is an outlier is poorly served by the tokenizer (the
    * multilingual-tokenizer audit: under-trained scripts fragment to
    * near-char granularity) — the curation signal this table exists
    * for. Same scale shape as [[bpeEncode]]: the vocabulary (model,
    * small) broadcasts; the corpus explode is map-side; one partial
    * aggregation per source. Ratios are double divisions of exact
    * integer totals — engine-identical, no fold-order care.
    */
  def bpeFertility(s: SparkSession, dir: String,
      nMerges: Int = 20): DataFrame = {
    val (_, vocab) = train(s, dir, nMerges)
    val enc = vocab.select(col("word"),
      size(col("sym")).cast("long").as("n_sym"))
    val toks = Tables.load(s, dir, "documents")
      .select(col("source"),
        explode(filter(TextOps.wsTokens(col("text")), _ =!= "")).as("tok"))
    toks.join(broadcast(enc), toks("tok") === enc("word"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym")).as("n_bpe"),
        sum(length(col("tok")).cast("long")).as("n_chars"))
      .withColumn("bpe_per_word",
        col("n_bpe").cast("double") / col("n_words").cast("double"))
      .withColumn("chars_per_bpe",
        col("n_chars").cast("double") / col("n_bpe").cast("double"))
      .orderBy("source")
  }

  private[ops] def fertilityOracleSql(nMerges: Int): String = {
    val sb = encodePrefixSql(nMerges)
    sb.append(raw""",
        |toks AS (
        |  SELECT source, unnest(list_filter(string_split_regex(text, '\s+'),
        |                                    t -> t <> '')) AS tok
        |  FROM documents)
        |SELECT t.source, count(*) AS n_words,
        |  CAST(sum(e.n_sym) AS BIGINT) AS n_bpe,
        |  CAST(sum(length(t.tok)) AS BIGINT) AS n_chars,
        |  CAST(sum(e.n_sym) AS DOUBLE) / count(*) AS bpe_per_word,
        |  CAST(sum(length(t.tok)) AS DOUBLE) / CAST(sum(e.n_sym) AS DOUBLE)
        |    AS chars_per_bpe
        |FROM toks t JOIN enc e ON t.tok = e.word
        |GROUP BY t.source ORDER BY t.source""")
    sb.toString.stripMargin
  }

  private[ops] def encodeOracleSql(nMerges: Int): String = {
    val sb = encodePrefixSql(nMerges)
    sb.append(raw""",
        |toks AS (
        |  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos, arr[CAST(i AS INT)] AS tok
        |  FROM (SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS i
        |        FROM (SELECT doc_id,
        |                list_filter(string_split_regex(text, '\s+'),
        |                            t -> t <> '') AS arr
        |              FROM documents)))
        |SELECT t.doc_id, count(*) AS n_words,
        |  CAST(sum(e.n_sym) AS BIGINT) AS n_bpe,
        |  array_to_string(arg_min(e.sym, t.pos), ' ') AS first_enc
        |FROM toks t JOIN enc e ON t.tok = e.word
        |GROUP BY t.doc_id ORDER BY t.doc_id""")
    sb.toString.stripMargin
  }

  val queries: Seq[Q] = Seq(
    Q("bpe_encode", (s, d) => bpeEncode(s, d), Some(encodeOracleSql(20))),
    // rides the same unrolled-merge prefix; ratios are double
    // divisions of identical exact integer totals on both engines
    Q("bpe_fertility", (s, d) => bpeFertility(s, d),
      Some(fertilityOracleSql(20))),
    // full re-derivation: DuckDB rebuilds the char+sentinel pair
    // multiset per distinct word via substr arithmetic; sum(wc) is
    // HUGEINT there, cast back to BIGINT. Both engines index strings
    // by code point and compare strings bytewise, so the (cnt desc,
    // pair) total order is engine-exact.
    Q("bpe_pairs", (s, d) => bpePairs(s, d), Some(
      raw"""WITH w AS (
        |  SELECT token AS word, count(*) AS wc FROM (
        |    SELECT unnest(string_split_regex(text, '\s+')) AS token
        |    FROM documents)
        |  WHERE token <> '' GROUP BY token),
        |p AS (
        |  SELECT wc,
        |    substr(word, CAST(i AS INT), 1) AS p1,
        |    CASE WHEN i < length(word)
        |         THEN substr(word, CAST(i AS INT) + 1, 1)
        |         ELSE '</w>' END AS p2
        |  FROM (SELECT word, wc, unnest(range(1, length(word) + 1)) AS i
        |        FROM w))
        |SELECT p1, p2, CAST(sum(wc) AS BIGINT) AS cnt
        |FROM p GROUP BY p1, p2
        |ORDER BY cnt DESC, p1, p2 LIMIT 20""".stripMargin))
  )
}
