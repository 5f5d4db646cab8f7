package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for a training-data pipeline (SURVEY §2.D8–
  * D11): token counting, quality scoring, language ID, fingerprinting.
  *
  * All row-local (narrow) — they scale linearly with no shuffle; every
  * scoring expression is built from Catalyst built-ins (regexp, HOFs)
  * so the whole stage stays in WholeStageCodegen. No UDFs.
  *
  * Null-text semantics: a null `text` yields NULL counts/scores
  * throughout (the native scans are null-in/null-out). Note this
  * differs from the pre-native `size(split(text, "\\s+"))`
  * formulation, which returned -1 for null text under Spark's default
  * non-ANSI `sizeOfNull` config — null is the deliberate convention
  * here (a missing document has no token count, not a count of -1).
  */
object TextOps {

  /** The documents scan, spread across cores: every operator here
    * front-loads per-row native text scans (the CPU-dense part), and
    * the documents file is single-row-group small at test scale — one
    * scan task would serialize all of it (see [[graft.Tables.spread]];
    * no-op on a well-partitioned cluster read).
    */
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.load(s, dir, "documents"))

  /** Whitespace tokens. */
  def wsTokens(text: Column): Column = split(text, "\\s+")

  /** BPE-ish pre-tokenization count: letter runs, single digits,
    * single punctuation marks (GPT-2-style pre-tokenizer shape).
    */
  val BpePattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  private[ops] val StopWords = Seq("the", "a", "of", "to", "and", "in", "is")

  private[ops] val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ich", "mit", "ein", "zu"),
    "en" -> Seq("the", "and", "is", "of", "to", "in", "that", "it", "for", "was"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "es", "en", "un"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est", "que", "pour", "dans", "un"))
  private[ops] def profilePattern(words: Seq[String]): String =
    "\\b(" + words.mkString("|") + ")\\b"

  /** D10: token counting, whitespace + BPE-ish. The BPE count runs
    * through the native [[graft.functions.BpeTokenCount]] DFA —
    * bit-identical to `regexp_count(text, BpePattern)` (spec-pinned,
    * fuzzed), one pass, no regex engine.
    */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        graft.functions.wsTokenCount(col("text")).as("ws_tokens"),
        graft.functions.bpeTokenCount(col("text")).as("bpe_tokens"))
      .orderBy("doc_id")

  /** D28: document chunking — fixed token windows with overlap, the
    * stage between raw documents and context assembly that every
    * training pipeline runs on long documents (and the unit RAG
    * indexes embed; D16 packs SHORT documents into budgets, this
    * splits LONG ones into windows). Chunk k of an n-token document
    * covers token positions [k·stride, min(k·stride + window, n))
    * with stride = window − overlap; chunk count is
    * max(1, ⌈(n − overlap)/stride⌉) for n ≥ 1 and 0 for an empty
    * document — so consecutive chunks share exactly `overlap` tokens
    * and the trailing chunk is emitted only if it adds new tokens.
    *
    * Engine-exactness: pure integer arithmetic (the ceil is the
    * (x + stride − 1) div stride integer form in BOTH engines — no
    * float division to diverge), identical tokenization, and
    * space-joined chunk text. Scale shape: one narrow scan, a
    * row-local sequence explode (fan-out bounded by n/stride), zero
    * shuffle before the deterministic output sort — at 100 TB this is
    * a pure map stage.
    */
  def textChunks(s: SparkSession, dir: String, window: Int = 64,
      overlap: Int = 16): DataFrame = {
    require(window > overlap && overlap >= 0,
      s"invalid dials: window=$window overlap=$overlap")
    val stride = window - overlap
    docs(s, dir)
      .select(col("doc_id"),
        filter(wsTokens(col("text")), t => t =!= "").as("a"))
      .withColumn("n", size(col("a")).cast("long"))
      .filter(col("n") > 0)
      .withColumn("n_chunks",
        // `div` = exact integer division in both engines (the D26
        // lesson: never let a float quotient near an integer boundary)
        greatest(lit(1L),
          expr(s"(n - $overlap + ${stride - 1}) div $stride")))
      .withColumn("chunk_id",
        explode(sequence(lit(0L), col("n_chunks") - 1)))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride).as("start_tok"),
        least(lit(window.toLong), col("n") - col("chunk_id") * stride)
          .as("n_tokens"),
        concat_ws(" ", slice(col("a"),
          (col("chunk_id") * stride + 1).cast("int"), lit(window)))
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** D29: C4-style LINE-level filtering (Raffel et al. 2020 §2.2 —
    * the cleaning stage that runs BEFORE document-level quality
    * gates): a web page's boilerplate lives in its short,
    * unpunctuated lines (nav menus, cookie banners, button text), so
    * each line is kept only if it ends in terminal punctuation
    * (./!/?) and has at least `minWords` whitespace tokens. Output is
    * one row per document: line counts, the kept-line reassembly, and
    * the document-level `keep` verdict (≥ `minLines` surviving lines
    * — C4's three-sentence rule).
    *
    * Engine-exactness: pure string/integer operations (split on
    * '\n', suffix tests, non-empty-token counts, '\n' re-join) — no
    * floats anywhere. Scale shape: entirely row-local (one narrow
    * scan, no shuffle before the output sort; a pure map stage at
    * 100 TB).
    */
  def textLineFilter(s: SparkSession, dir: String, minWords: Int = 3,
      minLines: Int = 3): DataFrame = {
    // round 10: the native one-pass line scan (the nested per-line
    // HOFs were ~10x the page-build cost — see C4LineFilter);
    // bit-identical to [[lineRuleHof]], fuzz-pinned
    val lf = graft.functions.c4LineFilter(col("text"), minWords)
    docs(s, dir)
      .select(col("doc_id"),
        lf.getField("n_lines").as("n_lines"),
        size(lf.getField("kept")).cast("long").as("n_kept"),
        concat_ws("\n", lf.getField("kept")).as("cleaned_text"))
      .withColumn("keep", col("n_kept") >= minLines)
      .orderBy("doc_id")
  }

  /** The HOF line rule the native [[graft.functions.C4LineFilter]]
    * replaced — kept as the equality-spec twin (the D13 convention):
    * `struct(n_lines, kept)` from split + nested lambda filters.
    */
  private[ops] def lineRuleHof(text: Column, minWords: Int): Column = {
    val lines = split(text, "\n")
    val kept = filter(lines, l =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?")) &&
        size(filter(wsTokens(l), t => t =!= "")) >= minWords)
    struct(size(lines).cast("long").as("n_lines"), kept.as("kept"))
  }

  /** D29b: FULL C4 §2.2 cleaning (Raffel et al. 2020) — the round-8
    * verdict's completion of [[textLineFilter]]'s line rule with the
    * page-level filters and the corpus-wide span dedup:
    *
    *  1. LINE rule (as D29): keep lines ending in ./!/? with ≥
    *     `minWords` tokens.
    *  2. PAGE rules: drop pages containing "lorem ipsum" (any case)
    *     or a curly brace, or with fewer than `minLines` surviving
    *     lines.
    *  3. SPAN dedup: every three consecutive surviving sentences
    *     forms a span (sentence = kept line — the unit the line rule
    *     already guarantees is terminal-punctuated); of all
    *     occurrences of the same span text across the corpus, only
    *     the first (smallest (doc_id, position)) is kept — sentences
    *     covered by any non-first occurrence are removed from their
    *     page ("we discarded all but one of any three-sentence span
    *     occurring more than once", C4 §2.2).
    *
    * Output: one row per SURVIVING page — (doc_id, n_lines, n_kept,
    * n_dropped, final_text).
    *
    * Scale shape: stages 1-2 are a pure row-local map; stage 3 is ONE
    * md5-keyed exchange of span digests (16-byte keys — never the
    * span text), a min-struct winner aggregate, and a bounded
    * per-doc drop-set join back onto the page row (positions, not
    * text). The rebuild is row-local lambda filtering. No window over
    * the corpus, no global sort before the output ORDER BY.
    */
  def textC4Clean(s: SparkSession, dir: String, minWords: Int = 3,
      minLines: Int = 3): DataFrame =
    textC4CleanOn(c4Pages(docs(s, dir)), minWords, minLines)

  /** Deterministic page derivation for the C4 oracle (the mm_meta
    * convention: the raw documents corpus has no newlines, so both
    * engines BUILD multi-line pages from it the same way and the
    * oracle exercises every rule non-vacuously): tokens grouped six
    * per line with a terminal '.', a fixed three-line boilerplate
    * block prepended on doc_id % 7 (the cross-page duplicate span),
    * a one-word nav line on % 5 (line-rule kill), a curly-brace line
    * on % 11 and a "lorem ipsum" line on % 13 (page-rule kills).
    */
  private[graft] def c4Pages(documents: DataFrame): DataFrame = {
    val toks = filter(wsTokens(col("text")), t => t =!= "")
    def maybe(m: Int, lines: Seq[String]): Column =
      when(col("doc_id") % m === 0, array(lines.map(lit): _*))
        .otherwise(array().cast("array<string>"))
    documents
      .select(col("doc_id"), toks.as("tk"))
      .withColumn("nl", expr("size(tk) div 6"))
      .withColumn("base", when(col("nl") >= 1L,
        transform(sequence(lit(1L), col("nl")),
          j => concat(concat_ws(" ",
            slice(col("tk"), ((j - 1) * 6 + 1).cast("int"), lit(6))), lit("."))))
        .otherwise(array().cast("array<string>")))
      .select(col("doc_id"), concat_ws("\n", concat(
        maybe(7, Seq("share this page now.", "follow us on social media.",
          "all rights reserved by the site.")),
        col("base"),
        maybe(5, Seq("menu.")),
        maybe(11, Seq("curly { brace line appears here.")),
        maybe(13, Seq("this page contains lorem ipsum text.")))).as("text"))
  }

  /** [[textC4Clean]] on an arbitrary (doc_id, text) page frame — the
    * seam the crafted-page spec drives.
    */
  private[graft] def textC4CleanOn(pages: DataFrame, minWords: Int = 3,
      minLines: Int = 3): DataFrame = {
    val surv = c4Surv(pages, minWords, minLines)
    val spans = c4Spans(surv)
    val winners = spans.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
    val droppedOcc = spans.join(winners, "h")
      .filter(!(col("doc_id") === col("w.doc_id") && col("pos") === col("w.pos")))
      .select(col("doc_id"), col("pos"))
    c4Rebuild(surv, droppedOcc)
  }

  /** C4 stage 1-2 (page rules + the native line rule) → the surviving
    * pages frame (doc_id, n_lines, sents, n_kept), Lineage-cut (it
    * feeds the span explode AND the final rebuild). One seam shared
    * by the full cleaner, the incremental cleaner and the streaming
    * twin.
    */
  private[graft] def c4Surv(pages: DataFrame, minWords: Int = 3,
      minLines: Int = 3): DataFrame = {
    // round 10: native one-pass line scan (see [[textLineFilter]])
    val lf = graft.functions.c4LineFilter(col("text"), minWords)
    pages
      .filter(!contains(lower(col("text")), lit("lorem ipsum")) &&
        !contains(col("text"), lit("{")))
      .select(col("doc_id"), lf.getField("n_lines").as("n_lines"),
        lf.getField("kept").as("sents"))
      .withColumn("n_kept", size(col("sents")).cast("long"))
      .filter(col("n_kept") >= minLines)
      .transform(graft.Lineage.cut)
  }

  /** Three-consecutive-sentence span digests of a surviving-pages
    * frame — (doc_id, pos, h) rows, projected row-locally: the
    * exchanges downstream carry the 16-byte md5, never span text.
    * Lineage-cut (the full cleaner reads it twice).
    */
  private[graft] def c4Spans(surv: DataFrame): DataFrame = {
    val spanIdx = when(col("n_kept") >= 3L,
      sequence(lit(1L), col("n_kept") - 2)).otherwise(array().cast("array<long>"))
    surv.select(col("doc_id"),
        explode(transform(spanIdx, i => struct(i.as("pos"),
          md5(concat_ws("\n",
            element_at(col("sents"), i.cast("int")),
            element_at(col("sents"), (i + 1).cast("int")),
            element_at(col("sents"), (i + 2).cast("int"))).cast("binary"))
            .as("h")))).as("sp"))
      .select(col("doc_id"), col("sp.pos").as("pos"), col("sp.h").as("h"))
      .transform(graft.Lineage.cut)
  }

  /** The rebuild: expand dropped span occurrences (doc_id, pos) to
    * their three sentence positions and re-join the surviving pages
    * without them.
    */
  private[graft] def c4Rebuild(surv: DataFrame,
      droppedOcc: DataFrame): DataFrame = {
    val dropped = droppedOcc
      .select(col("doc_id"),
        explode(array(col("pos"), col("pos") + 1, col("pos") + 2)).as("dpos"))
      .distinct()
      .groupBy("doc_id").agg(collect_set(col("dpos")).as("dl"))
    surv.join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        coalesce(size(col("dl")), lit(0)).cast("long").as("n_dropped"),
        concat_ws("\n", filter(col("sents"), (x, i) =>
          !array_contains(coalesce(col("dl"), array().cast("array<long>")),
            (i + 1).cast("long")))).as("final_text"))
      .orderBy("doc_id")
  }

  /** D29c: INCREMENTAL C4 cleaning — clean a batch of pages against
    * the spans the corpus has ALREADY seen (the continuous-crawl
    * deployment of D29b, and the text-cleaning member of the
    * incremental-admission family D1b/D5c/D12e): a batch span whose
    * digest exists in history drops ALL its occurrences (the first
    * occurrence was kept when it was first seen); among history-clean
    * spans the smallest (doc_id, pos) batch occurrence wins and later
    * ones drop — exactly the full rule with history as a prefix.
    * The history participates ONLY as its distinct span-digest index
    * (16 bytes per span ever seen — page text is never rescanned).
    * Shared seam with the streaming twin
    * [[graft.streaming.TextStreams.c4CleanStream]].
    */
  def textC4CleanIncremental(s: SparkSession, dir: String,
      splitId: Long = 250L, minWords: Int = 3, minLines: Int = 3): DataFrame = {
    val pages = c4Pages(docs(s, dir)).transform(graft.Lineage.cut)
    val histSpans = c4Spans(
        c4Surv(pages.filter(col("doc_id") < splitId), minWords, minLines))
      .select("h").distinct()
    cleanAgainstHistory(pages.filter(col("doc_id") >= splitId),
      histSpans, minWords, minLines)
  }

  /** The batch-vs-history C4 rule on explicit frames — `histSpans` is
    * the persistent distinct span-digest index a deployment
    * materializes once and appends to.
    */
  private[graft] def cleanAgainstHistory(pages: DataFrame,
      histSpans: DataFrame, minWords: Int = 3,
      minLines: Int = 3): DataFrame = {
    val surv = c4Surv(pages, minWords, minLines)
    cleanCore(surv, c4Spans(surv), histSpans)
  }

  /** The batch-vs-history rule on pre-derived (surv, spans) frames —
    * the exact seam the streaming twin drives (it derives surv/spans
    * once and also feeds `spans` to its index write).
    */
  private[graft] def cleanCore(surv: DataFrame, spans: DataFrame,
      histSpans: DataFrame): DataFrame = {
    val hist = histSpans.select(col("h")).distinct()
    // every occurrence of a history span drops; clean spans keep only
    // their first (smallest (doc_id, pos)) batch occurrence
    val histHit = spans.join(hist, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val cleanSpans = spans.join(hist, Seq("h"), "left_anti")
    val winners = cleanSpans.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
    val batchDup = cleanSpans.join(winners, "h")
      .filter(!(col("doc_id") === col("w.doc_id") && col("pos") === col("w.pos")))
      .select(col("doc_id"), col("pos"))
    c4Rebuild(surv, histHit.unionByName(batchDup))
  }

  /** D9: quality scoring from exact integer counts; the composite
    * score uses only rational double arithmetic (no transcendentals)
    * so it is bit-identical across engines. `distinct_ratio` is the
    * token-diversity signal of the C4/Gopher-style repetition filters
    * (a boilerplate or looped-generation doc repeats tokens, driving
    * the ratio toward 0; prose sits near 1).
    */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val nWords = graft.functions.wsTokenCount(col("text"))
    // native word-boundary scan, bit-identical to
    // regexp_count(text, profilePattern(StopWords)) — spec-pinned and
    // fuzzed
    val nStop = graft.functions.wordSetHits(col("text"), StopWords)
    // native exact-distinct probe scan, bit-identical to
    // size(array_distinct(split)) — spec-pinned and fuzzed (adding
    // this column via the built-ins doubled text_quality's bench time)
    val nDistinct = graft.functions.distinctTokenCount(col("text"))
    docs(s, dir)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        nWords.as("n_words"),
        (nStop.cast("double") / nWords.cast("double")).as("stop_ratio"),
        (nDistinct.cast("double") / nWords.cast("double")).as("distinct_ratio"))
      .withColumn("quality_score",
        (lit(1.0) - col("stop_ratio")) * (least(col("n_words"), lit(100L)).cast("double") / 100.0))
      .orderBy("doc_id")
  }

  /** D8: language-ID heuristic — score each candidate language by its
    * stopword-profile hit count (per 1000 chars), plus a CJK-character
    * override; argmax with alphabetical tie-break. This is the
    * classic n-gram/profile approach compressed to profiles that fit
    * in a closed-form expression. Deterministic; rows-only check.
    */
  def textLangId(s: SparkSession, dir: String): DataFrame = {
    // per-profile hit counts via the native word-set scan (int, like
    // the regexp_count it replaced, so the output schema is unchanged)
    val scores = LangProfiles.map { case (lang, ws) =>
      struct(graft.functions.wordSetHits(col("text"), ws).cast("int").as("hits"),
        lit(lang).as("lang"))
    }
    // argmax by (hits, reverse-alphabetical lang) => greatest struct;
    // tie on hits picks the alphabetically-last language, so order the
    // tuple as (hits, lang) and take greatest — deterministic.
    val best = greatest(scores: _*)
    val hasCjk = graft.functions.containsCjk(col("text"))
    docs(s, dir)
      .select(col("doc_id"), col("lang").as("lang_true"),
        when(hasCjk, "zh").otherwise(best.getField("lang")).as("lang_pred"),
        best.getField("hits").as("profile_hits"))
      .orderBy("doc_id")
  }

  /** D11: rolling polynomial fingerprint over whitespace tokens
    * (Rabin–Karp-style, base 31 mod 2^31-1), built with array
    * `aggregate` — codegen-friendly, no UDF. Modular form keeps every
    * intermediate < 2^36 so it is ANSI-mode safe (no Long overflow).
    * Fingerprint equality => near-certain content equality; used as a
    * cheap dedup key.
    */
  private val FpMod = 2147483647L // 2^31 - 1 (Mersenne prime)
  def fingerprint(text: Column): Column =
    aggregate(wsTokens(text), lit(0L),
      (acc, w) => pmod(acc * lit(31L) + pmod(xxhash64(w), lit(FpMod)), lit(FpMod)))

  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** D9b: PII redaction — the standard pre-training scrub stage.
    * Email-shaped spans are masked and counted; the pattern is kept to
    * a dialect-portable subset (character classes + bounded repeats)
    * that Java regex (Spark) and RE2 (DuckDB) interpret identically.
    * The synthetic corpus contains no emails, so the driver oracle
    * pins cross-engine REGEX DIALECT parity on real text while the
    * SPEC plants PII and pins the actual redaction semantics — same
    * split as the planted-near-dup recall spec.
    */
  private[ops] val EmailRe =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  def redact(text: Column): Column =
    regexp_replace(text, EmailRe, "<EMAIL>")

  def textRedact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        redact(col("text")).as("redacted"),
        regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_redactions"))
      .orderBy("doc_id")

  /** Exploded non-empty whitespace tokens of a (…, text) frame — the
    * ONE tokenize+filter the vocabulary/top-k family shares (batch
    * exact, batch sketch, and the streaming sketch twin): a tokenizer
    * tweak edits here or it silently forks the streaming twin from the
    * batch oracle that pins it.
    */
  private[graft] def tokenRows(docs: DataFrame): DataFrame =
    docs.select(explode(wsTokens(col("text"))).as("token"))
      .filter(col("token") =!= "")

  /** The Misra–Gries sketch of a token frame as (token, cnt) rows —
    * shared by [[textTopkSketch]] and the streaming
    * [[graft.streaming.TextStreams.topTokens]].
    */
  private[graft] def sketchOf(tokens: DataFrame, budget: Int): DataFrame = {
    val mg = udaf(new graft.functions.MisraGriesAgg(budget))
    tokens.agg(mg(col("token")).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.token").as("token"), col("e.count").as("cnt"))
  }

  /** D10b: corpus vocabulary — top-k whitespace tokens by frequency,
    * the counting stage of tokenizer/vocab training. Explode + partial
    * aggregated count + TakeOrderedAndProject: the token histogram
    * shuffles one (token, count) row per distinct token, not the
    * corpus, and the top-k never globally sorts.
    */
  def textVocab(s: SparkSession, dir: String, k: Int = 50): DataFrame =
    tokenRows(docs(s, dir))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("token"))
      .limit(k)

  /** D9c: duplicate n-gram fraction — the Gopher-family repetition
    * filter at the PHRASE level (Rae et al. 2021 §A1.1 use duplicate
    * 2–4-gram character/ngram fractions; [[textQuality]]'s
    * `distinct_ratio` is the single-token version). rep_ratio =
    * 1 - distinct-3-grams / total-3-grams: looped generations and
    * boilerplate repeat whole phrases, driving it toward 1, while
    * prose sits near 0. Composes the native one-pass
    * [[graft.functions.ShingleIds]] scan (distinct count) with plain
    * arithmetic for the total — narrow projection, no shuffle, no new
    * expression needed. Same 64-bit shingle-collision budget as the
    * dedup/contamination oracles.
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        greatest(size(split(col("text"), "\\s+")) - 2, lit(0))
          .cast("long").as("n_shingles"),
        size(graft.functions.shingleIds(col("text")))
          .cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_shingles") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_shingles").cast("double"))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")

  /** D9d: cross-document duplicate span detection (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * per doc, how many of its distinct word-3-grams appear in at
    * least one OTHER document, and the fraction they make up. The
    * pairwise dedup family answers "which docs are near-dups"; this
    * answers the span-level question "how much of THIS doc is
    * boilerplate shared with the rest of the corpus" — the signal
    * behind substring-level dedup and boilerplate filters.
    *
    * Scale shape: exact-dup collapse first (the dedup-family
    * invariant — a gram's doc count splits into "my exact copies"
    * [group size, no pairwise work] + "other unique texts" [the
    * explode runs on UNIQUE content only]), then one explode +
    * partial-aggregated gram count + join back. The gram-count shuffle
    * is the unavoidable cross-doc exchange; everything else is narrow.
    */
  def textDupSpans(s: SparkSession, dir: String): DataFrame = {
    // Exact-dup collapse via the skew-proof [[Collapse]] shape (groupBy
    // + join-back, never a digest window — see Collapse). Shingles are
    // projected once and checkpointed (the frame feeds BOTH the
    // collapse aggregate and the doc→rep join — uncached, each branch
    // would re-run the scan + shingle projection); the rep table is
    // checkpointed too (it feeds the join AND the gram explode). Raw
    // text never crosses a shuffle, and the rep row's shingle array
    // rides min_by — one array per digest per map task.
    val proj = docs(s, dir)
      .select(col("doc_id"),
        graft.functions.shingleIds(col("text")).as("sh"),
        Collapse.textKey(col("text")).as("tkey"))
      .transform(graft.Lineage.cut)
    val reps = Collapse.reps(proj, "tkey", countAs = Some("m"),
        payloads = Seq("sh"))
      .transform(graft.Lineage.cut)
    val docToRep = Collapse.docToRep(proj, reps, "tkey", extra = Seq("m"))
    // shingleIds is already distinct-within-doc, so perRep is a SET
    // of (rep, gram) rows and count(*) per gram == distinct-rep count
    val perRep = reps.select(col("rep"), explode(col("sh")).as("g"))
    val gramReps = perRep.groupBy("g").agg(count(lit(1)).as("nreps"))
    val repStats = perRep.join(gramReps, "g")
      .groupBy("rep").agg(count(lit(1)).as("n_grams"),
        sum(when(col("nreps") >= 2, 1L).otherwise(0L)).as("n_xshared"))
    // a gram of a doc with m exact copies is shared by definition
    // (every copy contains it); for singleton texts shared == present
    // in a second unique text
    docToRep.join(repStats, Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        when(col("m") >= 2, coalesce(col("n_grams"), lit(0L)))
          .otherwise(coalesce(col("n_xshared"), lit(0L))).as("n_dup_grams"))
      .withColumn("dup_ratio",
        when(col("n_grams") > 0,
          col("n_dup_grams").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  /** D36: duplicate-span REMOVAL — the rewrite step D9d only flags
    * (ExactSubstr, Lee et al. ACL 2022 "Deduplicating Training Data
    * Makes Language Models Better": delete every occurrence of a
    * substring that appears more than once in the corpus, rather than
    * dropping whole near-dup documents). Token-stream formulation: a
    * token is removed iff some `k`-gram covering it occurs >= 2 times
    * across the UNIQUE texts (cross-doc or a within-doc repeat — both
    * are verbatim duplication); the cleaned text is the kept tokens
    * joined by single spaces. Sharing is counted over unique texts,
    * NOT copy multiplicity: exact copies are D1's concern, and
    * counting them here would erase the surviving representative's
    * entire content along with its duplicates.
    *
    * Scale shape: the [[Collapse]] front-end (viral copies collapse
    * map-side), positional gram ids as a row-local projection (slices
    * hashed per start offset — the dedup_jaccard 64-bit grouping-key
    * convention), duplicated-gram detection as a partial-aggregated
    * count, the gram join back AQE-splittable, and the per-text
    * reassembly a groupBy(rep) whose state is bounded by CONTENT
    * LENGTH (the legal per-doc aggregation class) — no window, no
    * unbounded state anywhere.
    */
  def textRemoveDupSpans(s: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    // Two narrow scans, NOT one materialized payload frame: the token
    // arrays exist only INSIDE the reps aggregate (map-side min_by
    // keeps one array per digest per task and discards the copies),
    // and the doc→rep branch re-scans just (doc_id, digest). The first
    // draft cut a (doc_id, toks, tkey) frame shared by both — which
    // materializes a full token copy of the corpus (viral-probe
    // measured: ~7 GB at 2e7 docs, pinning the protected storage pool
    // and starving the 32-way sort-aggregate of execution memory until
    // UNABLE_TO_ACQUIRE_MEMORY). Re-hashing the text on a second scan
    // is the 100 TB shape; only the UNIQUE-text reps get materialized.
    val withToks = docs(s, dir)
      .select(col("doc_id"),
        filter(split(col("text"), "\\s+"), t => t =!= "").as("toks"),
        Collapse.textKey(col("text")).as("tkey"))
    val keyed = docs(s, dir)
      .select(col("doc_id"), Collapse.textKey(col("text")).as("tkey"))
    val reps = Collapse.reps(withToks, "tkey", payloads = Seq("toks"))
      .transform(graft.Lineage.cut)
    // gram start offsets 0..n-k (guarded: sequence(0, negative) would
    // generate a DESCENDING range, not an empty one)
    val startsArr = when(size(col("toks")) >= k,
      sequence(lit(0), size(col("toks")) - k))
      .otherwise(array().cast("array<int>"))
    val posGrams = reps.select(col("rep"), posexplode(
        transform(startsArr,
          i => xxhash64(concat_ws("\u0001", slice(col("toks"), i + 1, lit(k))))))
        .as(Seq("p", "gid")))
      .transform(graft.Lineage.cut)
    val dupG = posGrams.groupBy("gid").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("gid")
    val covered = posGrams.join(dupG, "gid")
      .select(col("rep"), explode(sequence(col("p"), col("p") + (k - 1))).as("q"))
      .distinct()
    val posToks = reps.select(col("rep"),
      posexplode(col("toks")).as(Seq("q", "tok")))
    val cleaned = posToks.join(covered, Seq("rep", "q"), "left_anti")
      .groupBy("rep")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("q"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"))
    val sizes = reps.select(col("rep"),
      size(col("toks")).cast("long").as("n_tokens"))
    Collapse.docToRep(keyed, reps, "tkey")
      .join(sizes, "rep")
      .join(cleaned, Seq("rep"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** D41: span-corruption objective materialization — the T5 denoising
    * preprocessing (Raffel et al. 2020 §3.1.4: corrupt ~15% of tokens
    * in contiguous spans, replace each span with a numbered sentinel,
    * emit (input, target) where the target spells each sentinel's
    * dropped tokens) made DETERMINISTIC: position p starts a span iff
    * the first 2 hex chars of md5("span:<doc_id>:<p>") < `thr`
    * ("0d"/256 ≈ 5.1% starts; spans cover `spanLen` tokens, overlaps
    * merging into one longer span — expected mask rate
    * 1-(1-thr/256)^spanLen ≈ 14.5%, the paper's dial). Deterministic
    * masks are what make objective prep reproducible across cluster
    * sizes, retries and engines — the same argument as D14's split,
    * applied to the training objective itself.
    *
    * Per doc: token count, masked count, span count, `input_text`
    * (kept tokens with each masked run replaced by `<extra_id_k>` in
    * first-occurrence order) and `target_text` (each sentinel followed
    * by its dropped tokens — the T5 target layout).
    *
    * Scale shape: ENTIRELY row-local — the whole computation is
    * higher-order array functions over the doc's own tokens (no
    * explode, no shuffle, no state): a pure map stage at 100 TB, the
    * D28 class. Per-row cost is O(n · spans) in the worst case,
    * bounded by content length.
    */
  def textSpanCorrupt(s: SparkSession, dir: String, spanLen: Int = 3,
      thr: String = "0d"): DataFrame = {
    val n = size(col("toks"))
    val posHash = (p: Column) => substring(md5(concat(lit("span:"),
      col("doc_id").cast("string"), lit(":"), p.cast("string"))), 1, 2)
    val isCov = (p: Column) => array_contains(col("covered"), p)
    val sentinel = (q: Column) => concat(lit("<extra_id_"),
      (array_position(col("runstarts"), q) - 1).cast("string"), lit(">"))
    // the run that covers position p is the LAST runstart <= p
    val runOf = (p: Column) =>
      element_at(filter(col("runstarts"), q => q <= p), -1)
    docs(s, dir)
      .select(col("doc_id"),
        filter(split(col("text"), "\\s+"), t => t =!= "").as("toks"))
      // sequence(0, -1) is DESCENDING, not empty — guard the n=0 doc
      .withColumn("pos", when(n >= 1, sequence(lit(0), n - 1))
        .otherwise(array().cast("array<int>")))
      .withColumn("starts", filter(col("pos"), p => posHash(p) < lit(thr)))
      .withColumn("covered", array_sort(array_distinct(flatten(
        transform(col("starts"),
          q => sequence(q, least(q + (spanLen - 1), n - 1)))))))
      .withColumn("runstarts", filter(col("covered"),
        p => !array_contains(col("covered"), p - 1)))
      .withColumn("input_text", array_join(filter(transform(col("pos"), p =>
        when(!isCov(p), element_at(col("toks"), p + 1))
          .when(array_contains(col("runstarts"), p), sentinel(p))
          .otherwise(lit(null))), x => x.isNotNull), " "))
      .withColumn("target_text", array_join(transform(col("runstarts"),
        q => concat(sentinel(q), lit(" "),
          array_join(transform(filter(col("covered"), p => runOf(p) === q),
            p => element_at(col("toks"), p + 1)), " "))), " "))
      .select(col("doc_id"), n.cast("long").as("n_tokens"),
        size(col("covered")).cast("long").as("n_masked"),
        size(col("runstarts")).cast("long").as("n_spans"),
        col("input_text"), col("target_text"))
      .orderBy("doc_id")
  }

  /** D10c: approximate top-k tokens via the Misra–Gries sketch
    * ([[graft.functions.MisraGriesAgg]]) — the heavy-hitters twin of
    * [[textVocab]]. The exact version shuffles one row per distinct
    * token per partition; the sketch shuffles ≤ `budget` counters per
    * partition into one bounded merge — the shape vocabulary-scale
    * counting needs at web-corpus size, with the rigid N/(budget+1)
    * error bound. With `budget` ≥ the corpus vocabulary the sketch is
    * EXACTLY the histogram (how the driver oracle pins it — the same
    * SQL as text_vocab); the approximation guarantees are spec-pinned
    * on a forced-overflow corpus.
    */
  def textTopkSketch(s: SparkSession, dir: String, budget: Int = 256,
      k: Int = 50): DataFrame =
    sketchOf(tokenRows(docs(s, dir)), budget)
      .orderBy(desc("cnt"), col("token"))
      .limit(k)

  /** D20: per-source curation stats — the domain-level view every
    * web-corpus pipeline curates by (RefinedWeb/C4 keep-or-drop whole
    * domains on exactly these signals): per source, doc count, total
    * chars, corpus-level token diversity and the exact-duplicate rate.
    *
    * Engine-exactness: diversity is Σ distinct / Σ words (integer sums
    * divided once), NOT a mean of per-doc double ratios — cross-row
    * float sums depend on the engine's add order, integer sums don't.
    * Scale shape: two partial-aggregated shuffles (dup-group keys,
    * then source) over narrow projections; nothing is quadratic in
    * docs or sources.
    */
  def sourceStats(s: SparkSession, dir: String): DataFrame = {
    // cached (narrow, no raw text): it feeds the dup-key aggregate AND
    // the join probe — uncached, each consumer re-scans the table and
    // re-hashes every text (the two-consumer pattern again)
    val perDoc = docs(s, dir)
      .select(col("source"),
        length(col("text")).cast("long").as("n_chars"),
        graft.functions.wsTokenCount(col("text")).as("n_words"),
        graft.functions.distinctTokenCount(col("text")).as("n_distinct"),
        md5(col("text").cast("binary")).as("tkey"))
      .transform(graft.Caches.share)
    val copies = perDoc.groupBy("tkey").agg(count(lit(1)).as("copies"))
    perDoc.join(copies, "tkey")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_distinct")).cast("double") /
          sum(col("n_words")).cast("double")).as("diversity"),
        sum(when(col("copies") >= 2, 1L).otherwise(0L)).as("dup_docs"))
      .withColumn("dup_ratio",
        col("dup_docs").cast("double") / col("n_docs").cast("double"))
      .orderBy("source")
  }

  /** D21: n-gram LM perplexity scoring — the CCNet quality signal
    * (Wenzek et al. 2020 filter Common Crawl by the perplexity of a
    * KenLM n-gram model; Moore–Lewis data selection scores with the
    * same quantity). A word-bigram LM with add-one smoothing is
    * trained on the corpus itself and every doc scored by its mean
    * negative log2 bigram probability (bits/bigram): formulaic or
    * in-distribution text scores low, gibberish and out-of-domain
    * docs high — threshold it and you have the CCNet keep/drop gate.
    *
    * Cross-engine exactness: every probability is a ratio of exact
    * integer counts, (c12 + 1) / (c1 + V) — one IEEE division + one
    * log2 per bigram; per-doc bits fold over the POSITION-SORTED
    * list (float addition is order-sensitive; both engines fold
    * left-to-right over the same order), and the mean rounds to 6dp
    * (the ann_bruteforce convention — log2 itself may differ in the
    * last ulp across engines). Docs with < 2 tokens carry no bigram
    * evidence: null score, the textTokens null convention.
    *
    * Scale shape: exact-dup collapse first (unique texts weighted by
    * multiplicity — Σ-identical counts, dup-invariant exchange), then
    * two partial-aggregated model counts and scoring as ONE
    * (t1, t2)-keyed join over unique-text bigrams plus a model-sized
    * t1 join; the per-doc fold is bounded by doc length, and the
    * vocabulary size rides a broadcast one-row frame (the
    * withProportion pattern), never a collect. At 100 TB a production
    * variant prunes bigrams below a min count to shrink the model
    * (KenLM-style pruning — the unpruned formulation here is what the
    * oracle can recompute exactly; pruning only changes WHICH c12
    * fall back to 0).
    */
  def textPerplexity(s: SparkSession, dir: String): DataFrame =
    textPerplexityOn(docs(s, dir))

  /** [[textPerplexity]] on an arbitrary (doc_id, text, …) frame — the
    * seam a pipeline stage uses to train/score the LM over exactly
    * the documents that survived its upstream filters (round 12:
    * [[graft.Pipeline]] buckets the GATED frame, not the whole
    * corpus), and the shape the On-seam convention gives every
    * trainable scorer.
    */
  def textPerplexityOn(input: DataFrame): DataFrame = {
    // exact-dup collapse first (the dedup-family invariant), via the
    // skew-proof [[Collapse]] shape (groupBy + join-back, never a
    // digest window — see Collapse): model counts come from UNIQUE
    // texts weighted by their multiplicity m — Σ-identical to counting
    // every copy, so the answer is unchanged while the explode and the
    // scoring joins run on unique content only (a dup-heavy crawl must
    // not multiply the exchange). The token array rides min_by into
    // the rep table (one array per digest per map task); the join-back
    // branch prunes it away entirely — only (doc_id, digest) crosses
    // that exchange, so no cut is needed on the projection (the second
    // scan recomputes one cheap md5, not the tokenization). Positions
    // index non-empty tokens — the same filtered view both engines see.
    val proj = input
      .select(col("doc_id"),
        filter(wsTokens(col("text")), t => t =!= "").as("a"),
        Collapse.textKey(col("text")).as("tkey"))
    val reps = Collapse.reps(proj, "tkey", countAs = Some("m"),
        payloads = Seq("a"))
      .transform(graft.Lineage.cut) // feeds the doc→rep join AND the rep-level model
    val docToRep = Collapse.docToRep(proj, reps, "tkey")
    val repToks = reps.select(col("rep"), col("m"), col("a"))
    val uni = repToks.select(explode(col("a")).as("t1"), col("m"))
      .groupBy("t1").agg(sum(col("m")).as("c1"))
      .transform(graft.Caches.share) // feeds the model join AND the vocab-size total
    val vocab = broadcast(uni.agg(count(lit(1)).as("v")))
    val bigrams = repToks.filter(size(col("a")) >= 2)
      .select(col("rep"), col("m"), posexplode(expr(
        "transform(sequence(1, size(a) - 1), " +
          "i -> struct(element_at(a, i) AS t1, element_at(a, i + 1) AS t2))")))
      .select(col("rep"), col("m"), col("pos"), col("col.t1").as("t1"),
        col("col.t2").as("t2"))
      .transform(graft.Caches.share) // consumed twice: the model aggregate and the scoring rows
    val bi = bigrams.groupBy("t1", "t2").agg(sum(col("m")).as("c12"))
    // attach c1 to the MODEL (distinct-bigram-sized) rather than the
    // corpus-sized scoring rows: one keyed join on (t1,t2) touches the
    // unique-text bigrams, the t1 join runs at model size
    val model = bi.join(uni, "t1")
    // inner joins: scoring the training corpus itself, every doc
    // bigram is in the model by construction (c1 >= 1, c12 >= 1)
    val perRep = bigrams
      .join(model, Seq("t1", "t2"))
      .crossJoin(vocab)
      .withColumn("lp", -log2((col("c12") + 1).cast("double") /
        (col("c1") + col("v")).cast("double")))
      .groupBy("rep")
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("lp")))),
          lit(0.0), (acc, x) => acc + x.getField("lp")).as("bits"))
    docToRep.join(perRep, Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("bits") / col("n_bigrams"), 6).as("avg_bits"))
      .orderBy("doc_id")
  }

  /** D21b: HELD-OUT perplexity — the model trains on the history
    * (doc_id < splitId) and scores the NEW batch, the actual
    * Moore–Lewis / CCNet deployment shape (score incoming crawl
    * against a trusted-corpus LM). Unlike [[textPerplexity]]'s
    * train-on-self form, scored bigrams can be OUT OF VOCABULARY,
    * so this exercises the add-one smoothing fallbacks the self-form
    * never reaches: unseen bigram → (0+1)/(c1+V); unseen first word →
    * (0+1)/(0+V) = 1/V. LEFT joins + coalesce(0) — same
    * engine-exactness argument as D21 (integer-count ratios,
    * position-ordered folds, 6dp round). Round 12: both sides now run
    * behind D21's exact-dup collapse — train counts come from UNIQUE
    * history texts weighted by multiplicity (Σ-identical), and the
    * batch is scored once per unique text with the bits mapped back
    * through the doc→rep join — so a dup-heavy crawl (either side)
    * no longer multiplies the explode or the scoring joins.
    */
  def textPerplexityHeldout(s: SparkSession, dir: String,
      splitId: Long = 250L): DataFrame = {
    val bigramExpr = expr(
      "transform(sequence(1, size(a) - 1), " +
        "i -> struct(element_at(a, i) AS t1, element_at(a, i + 1) AS t2))")
    // exact-dup collapse on BOTH sides (the D21 invariant): train
    // counts from unique history texts weighted by multiplicity m,
    // the batch scored once per unique text and mapped back
    val proj = docs(s, dir)
      .select(col("doc_id"),
        filter(wsTokens(col("text")), t => t =!= "").as("a"),
        Collapse.textKey(col("text")).as("tkey"))
    val trainReps = Collapse.reps(proj.filter(col("doc_id") < splitId),
        "tkey", countAs = Some("m"), payloads = Seq("a"))
      .transform(graft.Lineage.cut) // feeds uni AND bi
    val uni = trainReps.select(explode(col("a")).as("t1"), col("m"))
      .groupBy("t1").agg(sum(col("m")).as("c1"))
      .transform(graft.Caches.share) // feeds the model join AND the vocab-size total
    val vocab = broadcast(uni.agg(count(lit(1)).as("v")))
    val bi = trainReps.filter(size(col("a")) >= 2)
      .select(col("m"), explode(bigramExpr).as("bg"))
      .select(col("m"), col("bg.t1").as("t1"), col("bg.t2").as("t2"))
      .groupBy("t1", "t2").agg(sum(col("m")).as("c12"))
    val batchProj = proj.filter(col("doc_id") >= splitId)
    val batchReps = Collapse.reps(batchProj, "tkey", payloads = Seq("a"))
      .transform(graft.Lineage.cut) // feeds the scoring AND the map-back
    val docToRep = Collapse.docToRep(batchProj, batchReps, "tkey")
    // c1 joins SEPARATELY from the pair: a bigram can be unseen while
    // its first word is known ((0+1)/(c1+V)), so riding c1 on the
    // model row (the D21 fusion) would wrongly zero c1 for novel
    // pairs of known words — two LEFT joins, nulls → the smoothing
    // fallbacks
    val perRep = batchReps.filter(size(col("a")) >= 2)
      .select(col("rep"), posexplode(bigramExpr))
      .select(col("rep"), col("pos"), col("col.t1").as("t1"),
        col("col.t2").as("t2"))
      .join(bi, Seq("t1", "t2"), "left")
      .join(uni, Seq("t1"), "left")
      .crossJoin(vocab)
      .withColumn("lp", -log2(
        (coalesce(col("c12"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")))
      .groupBy("rep")
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("lp")))),
          lit(0.0), (acc, x) => acc + x.getField("lp")).as("bits"))
    docToRep.join(perRep, Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("bits") / col("n_bigrams"), 6).as("avg_bits"))
      .orderBy("doc_id")
  }

  /** D47: CCNet perplexity bucketing — per-language head/middle/tail
    * terciles over the D21 bigram-LM score (Wenzek et al. 2020 §3.3:
    * rank each language's documents by LM perplexity and cut into
    * thirds; "head" is the in-distribution slice most pipelines keep,
    * "tail" the noisy slice they drop or down-weight). Docs with no
    * bigram evidence (< 2 tokens) carry no rank and are excluded —
    * the D21 null-score convention.
    *
    * Exact per-group ntile WITHOUT a language-keyed window (a crawl
    * is one dominant language — the skewed-key profile a window
    * cannot split): the C6b-scalable shape generalized to grouped
    * ranking. Range-partition the corpus on (lang, avg_bits, doc_id)
    * — contiguous key ranges, so the global zipWithIndex order IS the
    * grouped order — then each language's rank = global index minus
    * the language's first index, where per-language offsets/counts
    * come from ONE partial aggregation (two longs of state per lang,
    * hot language collapses map-side) broadcast back. The tercile is
    * pure arithmetic on (rank, n), reproducing SQL ntile's
    * first-`n%3`-buckets-get-`ceil(n/3)` rule exactly.
    */
  def textPplBuckets(s: SparkSession, dir: String): DataFrame =
    textPplBucketsOn(docs(s, dir))

  /** [[textPplBuckets]] on an arbitrary (doc_id, text, lang, …)
    * frame: trains the LM, scores, and cuts terciles over EXACTLY
    * the given documents — so a pipeline's bucket boundaries describe
    * the frame it is filtering, not a corpus containing
    * already-dropped docs (round 12, the [[graft.Pipeline]] stage-2
    * seam).
    *
    * The range exchange takes no explicit count, so AQE sizes it from
    * runtime bytes (up to the session's initial width) instead of
    * running one task per few sample keys. Coalescing keeps the order
    * the ranks depend on: it merges only ADJACENT reducer partitions,
    * so each coalesced partition is still one contiguous key range,
    * and skew splitting never applies to a repartition-by-columns
    * exchange.
    */
  def textPplBucketsOn(input: DataFrame): DataFrame = {
    val s = input.sparkSession
    import s.implicits._
    val scored = textPerplexityOn(input)
      .filter(col("n_bigrams") >= 1)
      .join(input.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id").cast("long"), col("lang"),
        col("avg_bits").cast("double"))
    val sorted = scored
      .repartitionByRange(col("lang"), col("avg_bits"), col("doc_id"))
      .sortWithinPartitions("lang", "avg_bits", "doc_id")
      .transform(graft.Lineage.cut) // zipWithIndex runs 2 jobs over it
    val idxd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      (r.getLong(0), r.getString(1), r.getDouble(2), i)
    }.toDF("doc_id", "lang", "avg_bits", "idx")
      .transform(graft.Lineage.cut) // feeds the lang stats AND the join
    val stats = idxd.groupBy("lang")
      .agg(min(col("idx")).as("off"), count(lit(1)).as("n"))
    // ntile(3): the first n%3 buckets get ceil(n/3) rows; when n < 3
    // every row sits in the first-rem region, so the `otherwise`
    // branch (whose divisor would be 0) is never evaluated for it —
    // CaseWhen evaluates lazily per row
    // Column `/` is double division — values here are < 2^53 so
    // floor(double div) == exact integer division
    val rank = col("idx") - col("off")
    val small = floor(col("n") / lit(3L)).cast("long")
    val rem = col("n") % lit(3L)
    val tercile =
      when(rank < (small + 1) * rem,
        floor(rank / (small + 1)).cast("long") + 1)
        .otherwise(floor((rank - rem) / small).cast("long") + 1)
    idxd.join(broadcast(stats), "lang")
      .select(col("doc_id"), col("lang"), col("avg_bits"),
        tercile.cast("int").as("tercile"))
      .withColumn("bucket",
        when(col("tercile") === 1, "head")
          .when(col("tercile") === 2, "middle").otherwise("tail"))
      .orderBy("doc_id")
  }

  /** D25: the composed curation GATE — the keep/drop decision an
    * actual pipeline applies, joining the library's signals in one
    * query: exact-dup keep-first (D1), token-diversity and length
    * (D9/C4-Gopher), phrase repetition (D9c), and declared-language
    * confirmation (D8). One narrow scan computes every text signal
    * row-locally (native scans, no regex engine), one digest window
    * marks dup copies; the decision itself is INTEGER arithmetic
    * (`10·distinct < 3·words` instead of `distinct/words < 0.3`) so
    * the gate is engine-exact with no float thresholds at all.
    *
    * Each reason ships as its own flag column — a curation pipeline
    * wants drop REASONS (for audits and threshold tuning), not a bare
    * boolean.
    */
  def curationGate(s: SparkSession, dir: String): DataFrame = {
    val nWords = graft.functions.wsTokenCount(col("text"))
    val nDistinct = graft.functions.distinctTokenCount(col("text"))
    val nSh = greatest(size(split(col("text"), "\\s+")) - 2, lit(0)).cast("long")
    val nDsh = size(graft.functions.shingleIds(col("text"))).cast("long")
    val scores = LangProfiles.map { case (lang, ws) =>
      struct(graft.functions.wordSetHits(col("text"), ws).cast("int").as("hits"),
        lit(lang).as("lang"))
    }
    val langPred = when(graft.functions.containsCjk(col("text")), "zh")
      .otherwise(greatest(scores: _*).getField("lang"))
    // dup flag via the skew-proof [[Collapse]] shape (groupBy +
    // join-back, never a digest window — see Collapse). The scored
    // projection is NARROW (a handful of ints + the digest — raw text
    // is gone), so one cut materializes it for its two consumers; the
    // collapse aggregate reads only (doc_id, tkey) from the cut blocks.
    val keyed = docs(s, dir)
      .select(col("doc_id"), col("lang"),
        nWords.as("n_words"), nDistinct.as("n_distinct"),
        nSh.as("n_sh"), nDsh.as("n_dsh"), langPred.as("lang_pred"),
        Collapse.textKey(col("text")).as("tkey"))
      .transform(graft.Lineage.cut)
    keyed.join(Collapse.reps(keyed, "tkey"), "tkey")
      .withColumn("dup", col("rep") =!= col("doc_id"))
      .select(col("doc_id"), col("dup"),
        (col("n_words") < 5).as("too_short"),
        (col("n_distinct") * 10 < col("n_words") * 3).as("low_diversity"),
        ((col("n_sh") - col("n_dsh")) * 2 > col("n_sh")).as("repetitive"),
        (col("lang_pred") =!= col("lang")).as("lang_mismatch"))
      .withColumn("keep", !col("dup") && !col("too_short") &&
        !col("low_diversity") && !col("repetitive") && !col("lang_mismatch"))
      .orderBy("doc_id")
  }

  /** BM25 parameters (Robertson et al.; the Okapi defaults). Written
    * as the LITERAL forms `1.2` / `0.75` in both engines' expression
    * trees (never pre-folded in Scala). CAVEAT on cross-engine literal
    * typing: Spark types a bare `1.2` as DOUBLE, but DuckDB types it
    * DECIMAL and coerces to double only when it meets a DOUBLE
    * operand — so `1.2 + 1` is exact-decimal 2.2 in DuckDB (≠ the
    * double 2.2 once an integer multiplies in) while Spark computes
    * pure double arithmetic. The oracle therefore forces every
    * decimal literal to meet a DOUBLE operand BEFORE any integer
    * arithmetic (`1.2::DOUBLE + 1`); `0.75`/`0.5`/`1 − 0.75` are
    * binary-exact so their coercion order cannot matter, and the
    * `k1·(…)` factor multiplies `1.2` into an already-DOUBLE value.
    */
  private[ops] val Bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "spark window agg",
    1L -> "dup filter scan",
    2L -> "hash join order sort",
    3L -> "the fast query")

  /** D27: BM25 retrieval scoring — the lexical search stage of a
    * training-data pipeline (per-topic corpus slicing, seed-document
    * expansion, eval-set retrieval; BM25 remains the standard sparse
    * baseline the dense ANN family (D6/D7/D17) is compared against).
    * Scores every document against a fixed query set and returns the
    * top-k per query: `score(q, d) = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1−b+b·dl/avgdl))` with the Robertson
    * `idf = ln((N−df+0.5)/(df+0.5)+1)` (always positive).
    *
    * Scale shape: tokens are filtered to the query-term set BEFORE
    * any shuffle (the explode feeds an `isin` that prunes to matching
    * tokens — on a 100 TB corpus the tf shuffle carries only
    * query-term occurrences, a vanishing fraction); df and the query
    * terms are model-sized broadcasts; (N, Σdl) is the one-row
    * broadcast-total pattern; per-query top-k is the bounded
    * [[graft.functions.TopKAgg]] partial aggregate (O(k) state per
    * query — no window over the full candidate list, no global sort).
    *
    * Engine-exactness: tf/df/dl/N are integers; idf is rounded to 6dp
    * BEFORE use in BOTH engines (insuring the one transcendental, the
    * D21 log2 convention); the per-doc sum is a term-ordered fold;
    * ranking uses the bit-exact double (ties broken by doc_id), only
    * the REPORTED score is rounded.
    */
  def textBm25(s: SparkSession, dir: String, k: Int = 10): DataFrame =
    textBm25On(s, docs(s, dir), Bm25Queries, k)

  /** [[textBm25]] on an arbitrary (doc_id, text) frame — the seam the
    * hand-computed spec drives.
    */
  private[graft] def textBm25On(s: SparkSession, documents: DataFrame,
      queriesIn: Seq[(Long, String)], k: Int): DataFrame = {
    import s.implicits._
    val qterms = queriesIn
      .flatMap { case (q, text) =>
        // Java split keeps a leading "" for separator-initial input;
        // an empty term can never equal a (maximal, nonempty) token
        text.split("\\s+").filter(_.nonEmpty).distinct.map(q -> _) }
    val termSet = qterms.map(_._2).distinct
    // every query tokenized to nothing → no term can match any doc;
    // TermTfs requires a non-empty term set, so answer directly
    if (termSet.isEmpty)
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("query_id", "rk", "doc_id", "score")
    // the fused document scan (round 8): ONE native pass per
    // evaluation computes dl + every term's tf ([[graft.functions
    // .TermTfs]]) — no token objects, no explode of the corpus's
    // token stream, and the exchange below carries only matching
    // (doc, term) rows exactly as before. (The HOF formulation
    // tokenized the corpus up to 3x across the stats/tf branches; an
    // aggregate-fold rewrite measured 2x SLOWER than the explodes —
    // SURVEY §8 round-8 negative result. The native scan replaces
    // both.)
    val d = documents.select(col("doc_id"),
      graft.functions.termTfs(col("text"), termSet).as("c"))
    val stats = broadcast(d.agg(count(lit(1)).as("n"),
      sum(element_at(col("c"), 1)).as("sd")))
    val tf = d
      .select(col("doc_id"), element_at(col("c"), 1).as("dl"),
        posexplode(slice(col("c"), 2, termSet.size)).as(Seq("i", "tf")))
      .filter(col("tf") > 0)
      .select(col("doc_id"), col("dl"),
        element_at(typedLit(termSet), col("i") + 1).as("t"), col("tf"))
      .transform(graft.Caches.share) // feeds the df aggregate AND the scoring rows
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val w = tf
      .join(broadcast(dfreq), "t")
      .join(broadcast(qterms.toDF("query_id", "t")), "t")
      .crossJoin(stats)
      .withColumn("idf", round(
        log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + 1), 6))
      .withColumn("w", col("idf") * (col("tf") * (lit(1.2) + 1)) /
        (col("tf") + lit(1.2) * (lit(1) - lit(0.75) +
          (lit(0.75) * col("dl")) / (col("sd").cast("double") / col("n")))))
    val perDoc = w.groupBy("query_id", "doc_id")
      .agg(aggregate(array_sort(collect_list(struct(col("t"), col("w")))),
        lit(0.0), (acc, x) => acc + x.getField("w")).as("score"))
    val topk = udaf(new graft.functions.TopKAgg(k))
    perDoc.groupBy("query_id")
      .agg(topk(-col("score"), col("doc_id")).as("cand"))
      .select(col("query_id"), posexplode(col("cand")).as(Seq("pos", "c")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("c.id").as("doc_id"), round(-col("c.negScore"), 6).as("score"))
      .orderBy("query_id", "rk")
  }

  /** D42: per-document tf-idf keyword extraction — the corpus-audit /
    * topic-labeling signal (sklearn's smooth-idf formulation:
    * `w = tf · (ln((1+N)/(1+df)) + 1)`, idf 6dp-rounded BEFORE the
    * product, the D27 engine-exactness convention). Top `k` terms per
    * document, score-desc with lexicographic tie-break.
    *
    * Scale shape: the [[Collapse]] exact-dup front-end puts tf/df on
    * UNIQUE texts (df = distinct-text document frequency — a viral
    * copy inflates neither df nor the tf work), the tf→df join is
    * term-keyed (a crawl's stopword key is hot but AQE-splittable —
    * unlike a window), and per-doc top-k is the bounded
    * [[graft.functions.TopKStrAgg]] (O(k) map-side state, no
    * `row_number` window anywhere). Only (doc_id, digest) rides the
    * join-back exchange; keyword rows attach at rep granularity.
    */
  def textKeywords(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val proj = docs(s, dir).select(col("doc_id"), col("text"),
      Collapse.textKey(col("text")).as("tkey"))
    val reps = Collapse.reps(proj, "tkey", payloads = Seq("text"))
    val tf = reps
      .select(col("rep"),
        explode(filter(wsTokens(col("text")), t => t =!= "")).as("t"))
      .groupBy("rep", "t").agg(count(lit(1)).as("tf"))
      .transform(graft.Caches.share) // consumed twice: the df aggregate and the scoring rows
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val n = broadcast(reps.agg(count(lit(1)).as("n")))
    val topk = udaf(new graft.functions.TopKStrAgg(k))
    val perRep = tf.join(df, "t").crossJoin(n)
      .withColumn("w", col("tf") * round(
        log((lit(1.0) + col("n")) / (lit(1.0) + col("df"))) + 1.0, 6))
      .groupBy("rep")
      .agg(topk(-col("w"), col("t")).as("cand"))
      .select(col("rep"), posexplode(col("cand")).as(Seq("pos", "c")))
      .select(col("rep"), (col("pos") + 1).cast("long").as("rk"),
        col("c.key").as("token"), round(-col("c.negScore"), 6).as("weight"))
    Collapse.docToRep(proj, reps, "tkey")
      .join(perRep, Seq("rep"))
      .select(col("doc_id"), col("rk"), col("token"), col("weight"))
      .orderBy("doc_id", "rk")
  }

  /** D43: pairwise source vocabulary overlap — the corpus-composition
    * audit (how much does src_i's vocabulary overlap src_j's?): for
    * every unordered source pair, both vocabulary sizes, the
    * intersection size, and the Jaccard coefficient.
    *
    * Scale shape: one `distinct` on (source, token) — partial-agg
    * dedup, a hot (stopword, source) cell collapses map-side — then
    * ONE aggregation per token whose state is the token's source SET
    * (bounded by the number of sources, never by corpus size or copy
    * multiplicity), exploded row-locally into C(s,2) pair rows and
    * count-aggregated. The all-pairs frame joins two copies of the
    * source-count table (sources² rows — catalog-sized, broadcast).
    * No self-join of the (source, token) table on the token key — the
    * collect_set form moves the pairing AFTER the per-token collapse,
    * so a stopword appearing in every source costs C(s,2) rows once,
    * not |docs|² join work.
    */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val st = docs(s, dir)
      .select(col("source"),
        explode(filter(wsTokens(col("text")), t => t =!= "")).as("t"))
      .distinct()
      .transform(graft.Caches.share) // consumed twice: per-source sizes and per-token sets
    val sz = st.groupBy("source").agg(count(lit(1)).as("v"))
    val inter = st.groupBy("t")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .select(explode(expr(
        "flatten(transform(ss, (x, i) -> " +
          "transform(slice(ss, i + 2, size(ss) - i - 1), " +
          "y -> struct(x AS s1, y AS s2))))")).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(count(lit(1)).as("inter"))
    val pairs = broadcast(sz.select(col("source").as("s1"), col("v").as("v1")))
      .join(broadcast(sz.select(col("source").as("s2"), col("v").as("v2"))),
        col("s1") < col("s2"))
    pairs.join(inter, Seq("s1", "s2"), "left")
      .select(col("s1"), col("s2"), col("v1"), col("v2"),
        coalesce(col("inter"), lit(0L)).as("inter"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("v1") + col("v2") - col("inter")), 6))
      .orderBy("s1", "s2")
  }

  /** D56: per-source corpus-health diagnostics — the lexical-statistics
    * audit run before committing a source to a training mix: token
    * mass, vocabulary size, type-token ratio, hapax-legomenon ratio
    * (fraction of the vocabulary seen exactly once — near 0 flags
    * template/boilerplate text, near 1 flags noise/OCR garbage), and
    * the Zipf slope — the least-squares slope of ln(frequency) vs
    * ln(rank) over the top-`k` ranks (natural language sits near −1,
    * Zipf 1949; degenerate or synthetic text drifts far from it; the
    * fit uses the published top-ranks convention since the tail is
    * power-law noisy).
    *
    * Scale shape: ONE (source, token) count aggregation — partial
    * aggregation collapses a hot stopword cell map-side — consumed
    * twice (cached: vocab stats and the rank fit); the per-source
    * top-k is the bounded [[graft.functions.TopKStrAgg]] (O(k)
    * map-side state — never a source-keyed `row_number` window over
    * the vocabulary); the regression folds over the rank-ORDERED
    * top-k array row-locally, so the float sums accumulate in one
    * deterministic order in both engines (the sampleTemperature
    * ordered-fold convention — a grouped SUM() would leave float
    * addition order to the engine).
    */
  def textZipf(s: SparkSession, dir: String, k: Int = 50): DataFrame =
    textZipfOn(docs(s, dir), k)

  /** [[textZipf]] on an arbitrary (source, text) frame — the seam the
    * closed-form fit / hapax / plan-guard specs drive.
    */
  def textZipfOn(docsDf: DataFrame, k: Int = 50): DataFrame = {
    val tf = docsDf
      .select(col("source"),
        explode(filter(wsTokens(col("text")), t => t =!= "")).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("f"))
      .transform(graft.Caches.share) // consumed twice: the vocab stats and the top-k rank fit
    val stats = tf.groupBy("source").agg(
      sum(col("f")).as("n_tokens"),
      count(lit(1)).as("vocab"),
      sum(when(col("f") === 1, 1L).otherwise(0L)).as("hapax"))
    val topk = udaf(new graft.functions.TopKStrAgg(k))
    // rank = array index + 1: TopKStrAgg's (negScore asc, key asc)
    // order IS (f desc, token asc) — the row_number rule, windowless
    val fit = tf.groupBy("source")
      .agg(topk(-col("f").cast("double"), col("t")).as("cand"))
      .select(col("source"),
        expr(
          """aggregate(
            |  transform(cand, (c, i) -> named_struct(
            |    'x', ln(cast(i + 1 as double)),
            |    'y', ln(-c.negScore))),
            |  named_struct('sx', 0.0d, 'sy', 0.0d, 'sxy', 0.0d, 'sxx', 0.0d),
            |  (a, p) -> named_struct(
            |    'sx', a.sx + p.x, 'sy', a.sy + p.y,
            |    'sxy', a.sxy + p.x * p.y, 'sxx', a.sxx + p.x * p.x))""".stripMargin)
          .as("s"),
        size(col("cand")).cast("double").as("kk"))
      .select(col("source"),
        // a single-rank fit (vocab == 1 or k == 1) has zero x-variance:
        // the denominator is 0 and Spark's double division would yield
        // NaN where SQL engines yield NULL — guard to NULL in both
        when(col("kk") >= 2,
          round((col("kk") * col("s.sxy") - col("s.sx") * col("s.sy")) /
            (col("kk") * col("s.sxx") - col("s.sx") * col("s.sx")), 6))
          .as("zipf_slope"))
    stats.join(fit, "source")
      .select(col("source"), col("n_tokens"), col("vocab"),
        round(col("vocab").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(col("hapax").cast("double") / col("vocab"), 6).as("hapax_ratio"),
        col("zipf_slope"))
      .orderBy("source")
  }

  /** D57: PMI collocations — corpus-wide top-`k` adjacent word pairs
    * by pointwise mutual information (the classical collocation
    * extractor, Church & Hanks 1990: pmi = ln(p(x,y) / (p(x)p(y))) with
    * p(x,y) = c_xy/B over adjacent-bigram mass B and p(t) = c_t/N over
    * unigram mass N), with the standard `minCount` floor — PMI is
    * unstable on rare pairs. Used as a tokenizer-vocab seeding signal
    * (multi-word entries), a boilerplate detector (templated corpora
    * show abnormally high-PMI pairs), and a quick drift audit between
    * corpus snapshots.
    *
    * Scale shape: bigrams come from a row-local slice/transform (no
    * self-join); unigram and bigram counts are partial aggregations
    * (hot pairs collapse map-side); the two count joins key on single
    * tokens (AQE-splittable); totals are one-row broadcasts; the final
    * top-k is TakeOrderedAndProject (never a global sort). The PMI
    * double is computed by ONE shared expression shape in both engines
    * (same multiply order), then 6dp-rounded; ordering ties break on
    * the rounded value + (x, y).
    */
  def textPmi(s: SparkSession, dir: String, minCount: Long = 5L,
      k: Int = 50): DataFrame =
    textPmiOn(docs(s, dir), minCount, k)

  /** [[textPmi]] on an arbitrary (text) frame — the seam the
    * closed-form count / floor / tie-break specs drive.
    */
  def textPmiOn(docsDf: DataFrame, minCount: Long = 5L,
      k: Int = 50): DataFrame = {
    // checkpointed: the token-array projection feeds the unigram AND
    // bigram branches — uncut, the tokenization scan runs twice
    val arrs = docsDf
      .select(filter(wsTokens(col("text")), t => t =!= "").as("a"))
      .transform(graft.Lineage.cut)
    val uni = arrs.select(explode(col("a")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .transform(graft.Caches.share) // consumed three times: N total + the x and y joins
    val nTot = broadcast(uni.agg(sum(col("c")).as("n")))
    val big = arrs.filter(size(col("a")) >= 2)
      .select(explode(expr(
        "transform(slice(a, 1, size(a) - 1)," +
          " (t, i) -> named_struct('x', t, 'y', a[i + 1]))")).as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(count(lit(1)).as("c_xy"))
      .transform(graft.Caches.share) // consumed twice: the B total and the scoring rows
    val bTot = broadcast(big.agg(sum(col("c_xy")).as("b")))
    big.filter(col("c_xy") >= minCount)
      .join(uni.select(col("t").as("x"), col("c").as("c_x")), "x")
      .join(uni.select(col("t").as("y"), col("c").as("c_y")), "y")
      .crossJoin(nTot).crossJoin(bTot)
      .withColumn("pmi", round(log(
        (col("c_xy").cast("double") * col("n") * col("n")) /
          (col("b").cast("double") * col("c_x") * col("c_y"))), 6))
      .select(col("x"), col("y"), col("c_xy"), col("pmi"))
      .orderBy(desc("pmi"), col("x"), col("y"))
      .limit(k)
  }

  /** The Gopher repetition-free stopword list (Rae et al. 2021,
    * A1.1): a document must contain at least 2 of these.
    */
  private[ops] val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** D33: Gopher/MassiveText document-quality rules (Rae et al. 2021,
    * appendix A1.1 — the published filter the reference-era pipelines
    * standardized on): word-count bounds [50, 100k], mean word length
    * in [3, 10], symbol-to-word ratio ('#' + '...') <= 0.1, <90% of
    * lines bullet-led, <=30% of lines ellipsis-terminated, >=80% of
    * words containing an alphabetic character, and >=2 of the 8
    * [[GopherStops]].
    *
    * One narrow scan computes every signal as an exact integer count;
    * the pass/fail decision compares integers only (cross-multiplied
    * thresholds — `10*n_sym <= n_words`, never a float threshold to
    * diverge between engines); ratios are emitted as exact-rational
    * doubles for inspection. Row-local: scales linearly, no shuffle.
    */
  def textGopher(s: SparkSession, dir: String): DataFrame = {
    val toks = filter(wsTokens(col("text")), t => t =!= "")
    val lines = split(col("text"), "\n")
    docs(s, dir)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_words"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))
          .as("sum_wlen"),
        size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long").as("n_alpha"),
        (regexp_count(col("text"), lit("#")) +
          regexp_count(col("text"), lit("\\.\\.\\."))).cast("long").as("n_sym"),
        size(lines).cast("long").as("n_lines"),
        size(filter(lines, l => l.rlike("^[-*•] "))).cast("long")
          .as("n_bullet"),
        size(filter(lines, l => l.rlike("\\.\\.\\.$"))).cast("long")
          .as("n_ellipsis"),
        GopherStops.map(w =>
            when(col("text").rlike("\\b" + w + "\\b"), 1L).otherwise(0L))
          .reduce(_ + _).as("stop_hits"))
      .withColumn("mean_word_len",
        when(col("n_words") > 0,
          col("sum_wlen").cast("double") / col("n_words").cast("double")))
      .withColumn("keep",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("sum_wlen") >= col("n_words") * 3 &&
          col("sum_wlen") <= col("n_words") * 10 &&
          col("n_sym") * 10 <= col("n_words") &&
          col("n_bullet") * 10 <= col("n_lines") * 9 &&
          col("n_ellipsis") * 10 <= col("n_lines") * 3 &&
          col("n_alpha") * 5 >= col("n_words") * 4 &&
          col("stop_hits") >= 2)
      .orderBy("doc_id")
  }

  /** D34: DSIR-style importance scoring (Xie et al., NeurIPS 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * per-token unigram importance weight log(p_target(w) / p_raw(w)),
    * averaged per document. Positive score = the document looks more
    * like the target distribution (here the English slice — the
    * curated-corpus stand-in) than the raw pool; `keep` is the
    * threshold-at-0 selection (the resampling step then samples
    * proportional to exp(score/T) — policy, not engine, so the score
    * column is the contract). Add-one smoothing over the shared
    * vocabulary keeps every weight finite.
    *
    * Scale shape: both LMs come from ONE conditional-count aggregate
    * over UNIQUE texts (the skew-proof [[Collapse]] seam, counts
    * weighted by per-digest copy multiplicities — Σ-identical to
    * counting every copy); scoring explodes unique texts only and
    * joins the model on the token key (model-sized, AQE-splittable),
    * then joins back per doc. Per-token weights fold in position
    * order (deterministic double summation) and round to 6dp — the
    * same engine-exactness recipe as D21.
    */
  def textDsir(s: SparkSession, dir: String): DataFrame = {
    val proj = docs(s, dir)
      .select(col("doc_id"),
        filter(wsTokens(col("text")), t => t =!= "").as("a"),
        (col("lang") === "en").as("tgt"),
        Collapse.textKey(col("text")).as("tkey"))
    val reps = Collapse.reps(proj, "tkey", payloads = Seq("a"),
        extraAggs = Seq(
          sum(when(col("tgt"), 1L).otherwise(0L)).as("mt"),
          sum(when(col("tgt"), 0L).otherwise(1L)).as("mr")))
      .transform(graft.Lineage.cut)
    val docToRep = Collapse.docToRep(proj, reps, "tkey")
    val toks = reps.select(col("rep"), col("mt"), col("mr"),
        posexplode(col("a")).as(Seq("pos", "t")))
      .transform(graft.Caches.share) // feeds the model counts AND the scoring rows
    val uni = toks.groupBy("t")
      .agg(sum(col("mt")).as("ct"), sum(col("mr")).as("cr"))
      .transform(graft.Caches.share) // feeds the totals AND the scoring join
    val totals = broadcast(uni.agg(sum(col("ct")).as("nt"),
      sum(col("cr")).as("nr"), count(lit(1)).as("v")))
    // inner join: the model is trained on the scored corpus itself,
    // so every token is in-vocabulary by construction
    val perRep = toks
      .join(uni, "t")
      .crossJoin(totals)
      .withColumn("lw",
        log((col("ct") + 1).cast("double") /
            (col("nt") + col("v")).cast("double")) -
        log((col("cr") + 1).cast("double") /
            (col("nr") + col("v")).cast("double")))
      .groupBy("rep")
      .agg(count(lit(1)).as("n_toks"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("lw")))),
          lit(0.0), (acc, x) => acc + x.getField("lw")).as("sw"))
    docToRep.join(perRep, Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        round(col("sw") / col("n_toks"), 6).as("dsir_score"))
      .withColumn("keep", coalesce(col("dsir_score") > 0, lit(false)))
      .orderBy("doc_id")
  }

  /** D34b: HELD-OUT DSIR — the LMs train on the history (doc_id <
    * splitId) and score the NEW batch, the actual deployment shape
    * (score incoming crawl against a frozen target/raw pair — the
    * D21b pattern applied to D34). Unlike [[textDsir]]'s
    * score-the-training-corpus form, batch tokens can be OUT OF
    * VOCABULARY: LEFT join + coalesce(0) puts them on the smoothing
    * floor in BOTH LMs (weight ln((Nr+V)/(Nt+V)) — an unseen token
    * carries only the corpus-size prior, it does not explode the
    * score). Round 12: the Collapse seam runs on BOTH sides (the
    * D21b/D50b treatment) — train counts from unique history texts
    * with class-conditional multiplicities (Σ-identical), the batch
    * scored once per unique text and mapped back through doc→rep.
    */
  def textDsirHeldout(s: SparkSession, dir: String,
      splitId: Long = 250L): DataFrame = {
    // Collapse on BOTH sides (round 12, the D21b/D50b treatment):
    // train counts from unique history texts with class-conditional
    // multiplicities, the batch scored once per unique text
    val proj = docs(s, dir)
      .select(col("doc_id"), (col("lang") === "en").as("tgt"),
        filter(wsTokens(col("text")), t => t =!= "").as("a"),
        Collapse.textKey(col("text")).as("tkey"))
    val trainReps = Collapse.reps(proj.filter(col("doc_id") < splitId),
        "tkey", payloads = Seq("a"),
        extraAggs = Seq(
          sum(when(col("tgt"), 1L).otherwise(0L)).as("mt"),
          sum(when(col("tgt"), 0L).otherwise(1L)).as("mr")))
      .transform(graft.Lineage.cut)
    val uni = trainReps.select(explode(col("a")).as("t"), col("mt"), col("mr"))
      .groupBy("t").agg(sum(col("mt")).as("ct"), sum(col("mr")).as("cr"))
      .transform(graft.Caches.share) // feeds the totals AND the scoring join
    val totals = broadcast(uni.agg(sum(col("ct")).as("nt"),
      sum(col("cr")).as("nr"), count(lit(1)).as("v")))
    val batchProj = proj.filter(col("doc_id") >= splitId)
    val batchReps = Collapse.reps(batchProj, "tkey", payloads = Seq("a"))
      .transform(graft.Lineage.cut) // feeds the scoring AND the map-back
    val docToRep = Collapse.docToRep(batchProj, batchReps, "tkey")
    val perRep = batchReps
      .select(col("rep"), posexplode(col("a")).as(Seq("pos", "t")))
      .join(uni, Seq("t"), "left")
      .crossJoin(totals)
      .withColumn("lw",
        log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
            (col("nt") + col("v")).cast("double")) -
        log((coalesce(col("cr"), lit(0L)) + 1).cast("double") /
            (col("nr") + col("v")).cast("double")))
      .groupBy("rep")
      .agg(count(lit(1)).as("n_toks"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("lw")))),
          lit(0.0), (acc, x) => acc + x.getField("lw")).as("sw"))
    docToRep.join(perRep, Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        round(col("sw") / col("n_toks"), 6).as("dsir_score"))
      .withColumn("keep", coalesce(col("dsir_score") > 0, lit(false)))
      .orderBy("doc_id")
  }

  /** The curated-source allowlist the quality classifier trains
    * against (caller-overridable; the default marks 4 of the 20
    * synthetic sources so both classes are populated at every SF).
    * In a real deployment this is the high-quality reference corpora
    * list (the WebText/Books/Wikipedia side of the GPT-3 filter).
    */
  val CuratedSources: Seq[String] = Seq("src0", "src1", "src2", "src3")

  /** D50: Naive-Bayes quality classifier — the GPT-3-style quality
    * filter (Brown et al. 2020 §A.2: train a classifier with curated
    * corpora as positives and the raw crawl as negatives, keep crawl
    * documents the classifier scores positive). Multinomial NB makes
    * the filter ONE-PASS trainable on an engine: the whole model is a
    * per-token conditional count table plus two class priors, so
    * "training" is a single aggregation, not SGD. Per document,
    * `nb_score` = ln((dc+1)/(dr+1)) (add-one-smoothed log prior odds)
    * + Σ_tok [ln((ct+1)/(nt+v)) − ln((cr+1)/(nr+v))] (add-one-smoothed
    * log likelihood odds), 6dp-rounded; `keep` = score > 0. Unlike
    * [[textDsir]] (importance weight = per-token MEAN, no prior),
    * NB SUMS evidence and carries the prior — long documents
    * accumulate confidence, the generative-classifier semantics.
    *
    * Scale shape: the model counts come from ONE conditional-count
    * aggregate over UNIQUE texts (the skew-proof [[Collapse]] seam,
    * weighted by per-digest per-class copy multiplicities —
    * Σ-identical to counting every copy); scoring explodes unique
    * texts only, joins the model on the token key (AQE-splittable),
    * and joins back per doc. Priors are a one-row broadcast.
    * Determinism: per-token weights fold in position order and the
    * prior adds once, outside the fold — the D21/D34 exactness recipe.
    */
  def textNbQuality(s: SparkSession, dir: String,
      curated: Seq[String] = CuratedSources): DataFrame = {
    val proj = docs(s, dir)
      .select(col("doc_id"),
        filter(wsTokens(col("text")), t => t =!= "").as("a"),
        col("source").isin(curated: _*).as("cur"),
        Collapse.textKey(col("text")).as("tkey"))
    val reps = Collapse.reps(proj, "tkey", payloads = Seq("a"),
        extraAggs = Seq(
          sum(when(col("cur"), 1L).otherwise(0L)).as("mt"),
          sum(when(col("cur"), 0L).otherwise(1L)).as("mr")))
      .transform(graft.Lineage.cut)
    val docToRep = Collapse.docToRep(proj, reps, "tkey")
    val toks = reps.select(col("rep"), col("mt"), col("mr"),
        posexplode(col("a")).as(Seq("pos", "t")))
      .transform(graft.Caches.share) // feeds the model counts AND the scoring rows
    val uni = toks.groupBy("t")
      .agg(sum(col("mt")).as("ct"), sum(col("mr")).as("cr"))
      .transform(graft.Caches.share) // feeds the totals AND the scoring join
    // token totals + vocab size + class priors: two tiny aggregates,
    // one broadcast row
    val totals = broadcast(
      uni.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"),
          count(lit(1)).as("v"))
        .crossJoin(reps.agg(sum(col("mt")).as("dc"),
          sum(col("mr")).as("dr"))))
    // inner join: the model trains on the scored corpus itself, so
    // every token is in-vocabulary by construction
    val perRep = toks
      .join(uni, "t")
      .crossJoin(totals)
      .withColumn("lw",
        log((col("ct") + 1).cast("double") /
            (col("nt") + col("v")).cast("double")) -
        log((col("cr") + 1).cast("double") /
            (col("nr") + col("v")).cast("double")))
      .groupBy("rep")
      .agg(count(lit(1)).as("n_toks"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("lw")))),
          lit(0.0), (acc, x) => acc + x.getField("lw")).as("sw"))
    val pri = log((col("dc") + 1).cast("double")) -
      log((col("dr") + 1).cast("double"))
    docToRep.join(perRep, Seq("rep"), "left")
      .crossJoin(totals.select(col("dc"), col("dr")))
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        round(pri + coalesce(col("sw"), lit(0.0)), 6).as("nb_score"))
      .withColumn("keep", col("nb_score") > 0)
      .orderBy("doc_id")
  }

  /** D50b: HELD-OUT NB quality classifier — the model (token counts
    * AND priors) freezes on the history (doc_id < `splitId`) and
    * scores the incoming batch, the actual deployment shape (train
    * the filter once on labeled curated-vs-crawl data, score every
    * new crawl snapshot with it; the D21b/D34b pattern applied to
    * D50). Batch tokens can be OUT OF VOCABULARY: LEFT join +
    * coalesce(0) puts them on the add-one smoothing floor in both
    * class LMs — an unseen token carries only the class-size prior,
    * it does not explode the score. Round 12: the Collapse seam runs
    * on BOTH sides like the self-form — train counts from unique
    * history texts with class-conditional multiplicities (the D34
    * extraAggs shape; Σ-identical), the batch scored once per unique
    * text and mapped back — a dup-heavy snapshot no longer
    * multiplies the scoring explode.
    */
  def textNbQualityHeldout(s: SparkSession, dir: String,
      splitId: Long = 250L,
      curated: Seq[String] = CuratedSources): DataFrame = {
    val proj = nbProj(docs(s, dir), curated)
    val (uni, totals) = nbModel(proj.filter(col("doc_id") < splitId))
    nbScoreBatch(proj.filter(col("doc_id") >= splitId), uni, totals)
      .orderBy("doc_id")
  }

  /** The NB scoring projection: tokens + curated label + content
    * digest — ONE definition shared by the held-out batch op and the
    * E11 streaming gate, so their tokenization can never drift.
    */
  private[graft] def nbProj(docsDf: DataFrame,
      curated: Seq[String] = CuratedSources): DataFrame =
    docsDf.select(col("doc_id"),
      filter(wsTokens(col("text")), t => t =!= "").as("a"),
      col("source").isin(curated: _*).as("cur"),
      Collapse.textKey(col("text")).as("tkey"))

  /** The frozen NB model of a history projection (doc_id, a, cur,
    * tkey): per-token class-conditional counts (`uni`: t, ct, cr —
    * from UNIQUE texts weighted by class multiplicity, the Collapse
    * seam) and the one-row broadcast totals/priors. Shared by
    * [[textNbQualityHeldout]] and the E11 streaming gate
    * ([[graft.streaming.TextStreams.qualityGateStream]]) so batch and
    * stream train the IDENTICAL model. `uni` is cached (it feeds the
    * totals and every scoring join); a stream materializes it once
    * before the first micro-batch.
    */
  private[graft] def nbModel(hist: DataFrame): (DataFrame, DataFrame) = {
    val trainReps = Collapse.reps(hist, "tkey", payloads = Seq("a"),
        extraAggs = Seq(
          sum(when(col("cur"), 1L).otherwise(0L)).as("mt"),
          sum(when(col("cur"), 0L).otherwise(1L)).as("mr")))
      .transform(graft.Lineage.cut) // feeds uni AND the priors
    val uni = trainReps.select(explode(col("a")).as("t"), col("mt"), col("mr"))
      .groupBy("t").agg(sum(col("mt")).as("ct"), sum(col("mr")).as("cr"))
      .transform(graft.Caches.share) // feeds the totals AND the scoring join
    val totals = broadcast(
      uni.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"),
          count(lit(1)).as("v"))
        .crossJoin(trainReps.agg(sum(col("mt")).as("dc"),
          sum(col("mr")).as("dr"))))
    (uni, totals)
  }

  /** Score a batch projection (doc_id, a, tkey) against a frozen
    * [[nbModel]]: OOV tokens LEFT-join to the add-one smoothing floor,
    * the per-doc sum is the position-ordered fold, scoring runs once
    * per UNIQUE text and maps back through the digest join (the D50b
    * scaladoc's contracts, now in one shared seam).
    */
  private[graft] def nbScoreBatch(batchProj: DataFrame, uni: DataFrame,
      totals: DataFrame): DataFrame = {
    val batchReps = Collapse.reps(batchProj, "tkey", payloads = Seq("a"))
      .transform(graft.Lineage.cut) // feeds the scoring AND the map-back
    val docToRep = Collapse.docToRep(batchProj, batchReps, "tkey")
    val perRep = batchReps
      .select(col("rep"), posexplode(col("a")).as(Seq("pos", "t")))
      .join(uni, Seq("t"), "left")
      .crossJoin(totals)
      .withColumn("lw",
        log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
            (col("nt") + col("v")).cast("double")) -
        log((coalesce(col("cr"), lit(0L)) + 1).cast("double") /
            (col("nr") + col("v")).cast("double")))
      .groupBy("rep")
      .agg(count(lit(1)).as("n_toks"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("lw")))),
          lit(0.0), (acc, x) => acc + x.getField("lw")).as("sw"))
    val pri = log((col("dc") + 1).cast("double")) -
      log((col("dr") + 1).cast("double"))
    docToRep.join(perRep, Seq("rep"), "left")
      .crossJoin(totals.select(col("dc"), col("dr")))
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        round(pri + coalesce(col("sw"), lit(0.0)), 6).as("nb_score"))
      .withColumn("keep", col("nb_score") > 0)
  }

  /** Shared C4 oracle CTEs (page build -> line/page rules -> span
    * digests): one definition reused by the full and incremental
    * cleaning oracles, so the two derivations can never drift.
    */
  private val C4OracleCtes: String =
    raw"""toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
      |  FROM documents),
      |built AS (
      |  SELECT doc_id,
      |    [array_to_string(tk[(j-1)*6+1 : j*6], ' ') || '.'
      |     FOR j IN range(1, CAST(len(tk) // 6 AS BIGINT) + 1)] AS base
      |  FROM toks),
      |pg AS (
      |  SELECT doc_id, array_to_string(
      |    (CASE WHEN doc_id % 7 = 0 THEN
      |       ['share this page now.', 'follow us on social media.',
      |        'all rights reserved by the site.'] ELSE CAST([] AS VARCHAR[]) END)
      |    || base
      |    || (CASE WHEN doc_id % 5 = 0 THEN ['menu.'] ELSE CAST([] AS VARCHAR[]) END)
      |    || (CASE WHEN doc_id % 11 = 0 THEN ['curly { brace line appears here.'] ELSE CAST([] AS VARCHAR[]) END)
      |    || (CASE WHEN doc_id % 13 = 0 THEN ['this page contains lorem ipsum text.'] ELSE CAST([] AS VARCHAR[]) END),
      |    chr(10)) AS text
      |  FROM built),
      |surv AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      |    list_filter(string_split(text, chr(10)), l ->
      |      (ends_with(l,'.') OR ends_with(l,'!') OR ends_with(l,'?'))
      |      AND len(list_filter(string_split_regex(l, '\s+'), x -> x <> '')) >= 3) AS sents
      |  FROM pg
      |  WHERE NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')),
      |surv2 AS MATERIALIZED (
      |  SELECT doc_id, n_lines, sents, CAST(len(sents) AS BIGINT) AS n_kept
      |  FROM surv WHERE len(sents) >= 3),
      |spans AS MATERIALIZED (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |    md5(sents[CAST(i AS INT)] || chr(10) || sents[CAST(i+1 AS INT)] || chr(10) || sents[CAST(i+2 AS INT)]) AS h
      |  FROM surv2, unnest(range(1, n_kept - 1)) AS r(i))""".stripMargin

  /** The D21 bigram-LM oracle CTE chain (ends at `p(doc_id,
    * n_bigrams, bits)` over docs with ≥1 bigram, with `d` the
    * tokenized corpus) — shared by the `text_perplexity` and
    * `text_ppl_buckets` oracles so the two cannot drift.
    */
  private[ops] val PerplexityCtes: String =
    raw"""d AS MATERIALIZED (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS a
      |  FROM documents),
      |uni AS MATERIALIZED (
      |  SELECT t1, count(*) AS c1
      |  FROM (SELECT unnest(a) AS t1 FROM d) GROUP BY t1),
      |v AS (SELECT count(*) AS v FROM uni),
      |bg AS MATERIALIZED (
      |  SELECT doc_id, pos, a[pos] AS t1, a[pos + 1] AS t2 FROM (
      |    SELECT doc_id, a, unnest(range(1, len(a))) AS pos
      |    FROM d WHERE len(a) >= 2)),
      |bi AS MATERIALIZED (SELECT t1, t2, count(*) AS c12 FROM bg GROUP BY t1, t2),
      |sc AS (
      |  SELECT bg.doc_id, bg.pos,
      |    -log2(CAST(bi.c12 + 1 AS DOUBLE) / CAST(uni.c1 + v.v AS DOUBLE)) AS lp
      |  FROM bg
      |  JOIN uni ON bg.t1 = uni.t1
      |  JOIN bi ON bg.t1 = bi.t1 AND bg.t2 = bi.t2
      |  CROSS JOIN v),
      |p AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    list_reduce(list(lp ORDER BY pos), (x, y) -> x + y) AS bits
      |  FROM sc GROUP BY doc_id)""".stripMargin

  val queries: Seq[Q] = Seq(
    // the oracle rebuilds the 3-gram multiset as STRINGS (injective:
    // tokens contain no whitespace) — distinct-string count ==
    // distinct-shingle-id count modulo the documented hash budget
    Q("text_repetition", textRepetition, Some(
      raw"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(greatest(len(string_split_regex(text, '\s+')) - 2, 0) AS BIGINT) AS n_shingles,
        |    CAST(len(list_distinct(list_transform(
        |      range(1, len(string_split_regex(text, '\s+')) - 1),
        |      i -> string_split_regex(text, '\s+')[i] || ' ' ||
        |           string_split_regex(text, '\s+')[i+1] || ' ' ||
        |           string_split_regex(text, '\s+')[i+2]))) AS BIGINT) AS n_distinct
        |  FROM documents)
        |SELECT doc_id, n_shingles, n_distinct,
        |  CASE WHEN n_shingles > 0
        |       THEN 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_shingles AS DOUBLE)
        |       ELSE 0.0 END AS rep_ratio
        |FROM t ORDER BY doc_id""".stripMargin)),
    Q("text_tokens", textTokens, Some(
      """SELECT doc_id,
        |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // line-filter oracle: same suffix tests + non-empty token count
    // per line, '\n' re-join, >= 3 thresholds
    Q("text_line_filter", (s, d) => textLineFilter(s, d), Some(
      raw"""WITH t AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls,
        |    list_filter(string_split(text, chr(10)), l ->
        |      (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?'))
        |      AND len(list_filter(string_split_regex(l, '\s+'), x -> x <> '')) >= 3) AS ks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(ks) AS BIGINT) AS n_kept,
        |  coalesce(array_to_string(ks, chr(10)), '') AS cleaned_text,
        |  len(ks) >= 3 AS keep
        |FROM t ORDER BY doc_id""".stripMargin)),
    // full C4 §2.2: the oracle REBUILDS the same derived pages
    // (token-six lines + planted boilerplate/nav/page-killer lines),
    // applies the same line/page rules, and does the corpus-wide
    // three-sentence-span dedup via the md5 span digest + first-
    // occurrence window — winner/drop structure is non-vacuous (the
    // % 7 boilerplate block repeats across ~70 surviving pages)
    Q("text_c4_clean", (s, d) => textC4Clean(s, d), Some(
      s"WITH $C4OracleCtes,\n" +
      """marked AS (
        |  SELECT doc_id, pos, h,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM spans),
        |dups AS (
        |  SELECT DISTINCT doc_id, dpos
        |  FROM (SELECT doc_id, unnest([pos, pos+1, pos+2]) AS dpos FROM marked WHERE rn > 1)),
        |drops AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dropped, list(dpos) AS dl
        |  FROM dups GROUP BY doc_id)
        |SELECT s.doc_id, s.n_lines, s.n_kept,
        |  coalesce(d.n_dropped, 0) AS n_dropped,
        |  coalesce(array_to_string(
        |    [s.sents[CAST(i AS INT)] FOR i IN range(1, s.n_kept + 1)
        |       IF d.dl IS NULL OR NOT list_contains(d.dl, i)], chr(10)), '') AS final_text
        |FROM surv2 s LEFT JOIN drops d USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    // incremental C4: history spans (doc_id < 250) drop every batch
    // occurrence; clean spans keep the smallest batch (doc_id, pos)
    Q("text_c4_clean_incremental",
      (s, d) => textC4CleanIncremental(s, d), Some(
      s"WITH $C4OracleCtes,\n" +
      """histspans AS (SELECT DISTINCT h FROM spans WHERE doc_id < 250),
        |bat AS (SELECT * FROM spans WHERE doc_id >= 250),
        |histhit AS (
        |  SELECT doc_id, pos FROM bat
        |  WHERE h IN (SELECT h FROM histspans)),
        |batmarked AS (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM bat WHERE h NOT IN (SELECT h FROM histspans)),
        |occ AS (
        |  SELECT doc_id, pos FROM histhit
        |  UNION ALL
        |  SELECT doc_id, pos FROM batmarked WHERE rn > 1),
        |dups AS (
        |  SELECT DISTINCT doc_id, dpos
        |  FROM (SELECT doc_id, unnest([pos, pos+1, pos+2]) AS dpos FROM occ)),
        |drops AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dropped, list(dpos) AS dl
        |  FROM dups GROUP BY doc_id)
        |SELECT s.doc_id, s.n_lines, s.n_kept,
        |  coalesce(d.n_dropped, 0) AS n_dropped,
        |  coalesce(array_to_string(
        |    [s.sents[CAST(i AS INT)] FOR i IN range(1, s.n_kept + 1)
        |       IF d.dl IS NULL OR NOT list_contains(d.dl, i)], chr(10)), '') AS final_text
        |FROM surv2 s LEFT JOIN drops d USING (doc_id)
        |WHERE s.doc_id >= 250
        |ORDER BY doc_id""".stripMargin)),
    // chunking oracle: same integer window arithmetic (window 64,
    // overlap 16, stride 48; `//` = DuckDB integer division, the
    // engine-exact twin of Spark's `div`), 1-based inclusive list
    // slice, space-joined text
    Q("text_chunks", (s, d) => textChunks(s, d), Some(
      raw"""WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |nn AS (
        |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
        |  FROM t WHERE len(toks) > 0),
        |c AS (
        |  SELECT doc_id, toks, n,
        |    unnest(range(0, greatest(1, (n - 16 + 47) // 48))) AS k
        |  FROM nn)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        |  CAST(k * 48 AS BIGINT) AS start_tok,
        |  CAST(least(64, n - k * 48) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[CAST(k * 48 + 1 AS BIGINT):CAST(least(k * 48 + 64, n) AS BIGINT)], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),
    Q("text_quality", textQuality, Some(
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words,
        |    CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS BIGINT) AS n_distinct,
        |    CAST(len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is)\b')) AS BIGINT) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_chars, n_words,
        |  CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_ratio,
        |  CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) AS distinct_ratio,
        |  (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    * (CAST(least(n_words, 100) AS DOUBLE) / 100.0) AS quality_score
        |FROM b ORDER BY doc_id""".stripMargin)),
    // Gopher-rules oracle: the same exact integer counts (filtered
    // whitespace tokens, chr(10) lines, RE2 twins of the Java
    // patterns) and the same cross-multiplied integer thresholds
    Q("text_gopher", textGopher, Some(
      raw"""WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk,
        |    string_split(text, chr(10)) AS ls
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(tk, x -> len(x))), 0) AS BIGINT) AS sum_wlen,
        |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        |    CAST(len(regexp_extract_all(text, '#'))
        |       + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS n_sym,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(ls, l -> regexp_matches(l, '^[-*•] '))) AS BIGINT) AS n_bullet,
        |    CAST(len(list_filter(ls, l -> regexp_matches(l, '\.\.\.$$'))) AS BIGINT) AS n_ellipsis,
        |    CAST((CASE WHEN regexp_matches(text, '\bthe\b') THEN 1 ELSE 0 END)
        |       + (CASE WHEN regexp_matches(text, '\bbe\b') THEN 1 ELSE 0 END)
        |       + (CASE WHEN regexp_matches(text, '\bto\b') THEN 1 ELSE 0 END)
        |       + (CASE WHEN regexp_matches(text, '\bof\b') THEN 1 ELSE 0 END)
        |       + (CASE WHEN regexp_matches(text, '\band\b') THEN 1 ELSE 0 END)
        |       + (CASE WHEN regexp_matches(text, '\bthat\b') THEN 1 ELSE 0 END)
        |       + (CASE WHEN regexp_matches(text, '\bhave\b') THEN 1 ELSE 0 END)
        |       + (CASE WHEN regexp_matches(text, '\bwith\b') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
        |  FROM t)
        |SELECT doc_id, n_words, sum_wlen, n_alpha, n_sym, n_lines, n_bullet,
        |  n_ellipsis, stop_hits,
        |  CASE WHEN n_words > 0
        |       THEN CAST(sum_wlen AS DOUBLE) / CAST(n_words AS DOUBLE) END AS mean_word_len,
        |  (n_words >= 50 AND n_words <= 100000
        |   AND sum_wlen >= n_words * 3 AND sum_wlen <= n_words * 10
        |   AND n_sym * 10 <= n_words
        |   AND n_bullet * 10 <= n_lines * 9
        |   AND n_ellipsis * 10 <= n_lines * 3
        |   AND n_alpha * 5 >= n_words * 4
        |   AND stop_hits >= 2) AS keep
        |FROM b ORDER BY doc_id""".stripMargin)),
    // DSIR oracle: the full per-doc re-derivation (no collapse — the
    // engine's multiplicity-weighted unique-text counts are
    // Σ-identical); ln on exact integer ratios, position-ordered
    // fold, 6dp round — the D21 exactness recipe. DuckDB `ln` is the
    // natural-log twin of Spark's `log`. `+ 0.0` after the round
    // normalizes IEEE negative zero: a score in (-5e-7, 0) rounds to
    // -0.0 in DuckDB but +0.0 in Spark (BigDecimal rounding drops the
    // sign), and canonical '%.10g' strings render them "-0" vs "0"
    // (100 knife-edge docs at sf10; -0.0 + 0.0 = +0.0 exactly).
    Q("text_dsir", textDsir, Some(
      raw"""WITH d AS MATERIALIZED (
        |  SELECT doc_id, lang = 'en' AS tgt,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS a
        |  FROM documents),
        |uni AS MATERIALIZED (
        |  SELECT t, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
        |         sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
        |  FROM (SELECT tgt, unnest(a) AS t FROM d) GROUP BY t),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM uni),
        |tk AS (
        |  SELECT doc_id, pos, a[pos] AS t FROM (
        |    SELECT doc_id, a, unnest(range(1, len(a) + 1)) AS pos FROM d)),
        |sc AS (
        |  SELECT tk.doc_id, tk.pos,
        |    ln(CAST(uni.ct + 1 AS DOUBLE) / CAST(tot.nt + tot.v AS DOUBLE)) -
        |    ln(CAST(uni.cr + 1 AS DOUBLE) / CAST(tot.nr + tot.v AS DOUBLE)) AS lw
        |  FROM tk JOIN uni ON tk.t = uni.t CROSS JOIN tot),
        |p AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |    list_reduce(list(lw ORDER BY pos), (x, y) -> x + y) AS sw
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(p.n_toks, 0) AS n_toks,
        |  round(p.sw / p.n_toks, 6) + 0.0 AS dsir_score,
        |  coalesce(round(p.sw / p.n_toks, 6) > 0, false) AS keep
        |FROM d LEFT JOIN p USING (doc_id) ORDER BY doc_id""".stripMargin)),
    // held-out form: LEFT join + coalesce(0) in both engines, so OOV
    // batch tokens exercise the smoothing floor the self-form never
    // reaches; same ordered-fold + 6dp-round exactness as D34
    Q("text_dsir_heldout", (s, d) => textDsirHeldout(s, d), Some(
      raw"""WITH d AS MATERIALIZED (
        |  SELECT doc_id, lang = 'en' AS tgt,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS a
        |  FROM documents),
        |uni AS MATERIALIZED (
        |  SELECT t, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
        |         sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
        |  FROM (SELECT tgt, unnest(a) AS t FROM d WHERE doc_id < 250)
        |  GROUP BY t),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM uni),
        |tk AS (
        |  SELECT doc_id, pos, a[pos] AS t FROM (
        |    SELECT doc_id, a, unnest(range(1, len(a) + 1)) AS pos FROM d
        |    WHERE doc_id >= 250)),
        |sc AS (
        |  SELECT tk.doc_id, tk.pos,
        |    ln(CAST(coalesce(uni.ct, 0) + 1 AS DOUBLE) / CAST(tot.nt + tot.v AS DOUBLE)) -
        |    ln(CAST(coalesce(uni.cr, 0) + 1 AS DOUBLE) / CAST(tot.nr + tot.v AS DOUBLE)) AS lw
        |  FROM tk LEFT JOIN uni ON tk.t = uni.t CROSS JOIN tot),
        |p AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |    list_reduce(list(lw ORDER BY pos), (x, y) -> x + y) AS sw
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(p.n_toks, 0) AS n_toks,
        |  round(p.sw / p.n_toks, 6) + 0.0 AS dsir_score,
        |  coalesce(round(p.sw / p.n_toks, 6) > 0, false) AS keep
        |FROM d LEFT JOIN p USING (doc_id)
        |WHERE d.doc_id >= 250 ORDER BY doc_id""".stripMargin)),
    // the oracle counts every copy directly — Σ-identical to the
    // engine's multiplicity-weighted unique-text counts (the text_dsir
    // convention); prior adds OUTSIDE the position-ordered fold, and
    // `+ 0.0` kills the DuckDB −0.0 knife edge after the round
    Q("text_quality_classifier", (s, d) => textNbQuality(s, d), Some(
      raw"""WITH d AS MATERIALIZED (
        |  SELECT doc_id, source IN ('src0', 'src1', 'src2', 'src3') AS cur,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS a
        |  FROM documents),
        |pri AS (
        |  SELECT sum(CASE WHEN cur THEN 1 ELSE 0 END) AS dc,
        |         sum(CASE WHEN cur THEN 0 ELSE 1 END) AS dr FROM d),
        |uni AS MATERIALIZED (
        |  SELECT t, sum(CASE WHEN cur THEN 1 ELSE 0 END) AS ct,
        |         sum(CASE WHEN cur THEN 0 ELSE 1 END) AS cr
        |  FROM (SELECT cur, unnest(a) AS t FROM d) GROUP BY t),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM uni),
        |tk AS (
        |  SELECT doc_id, pos, a[pos] AS t FROM (
        |    SELECT doc_id, a, unnest(range(1, len(a) + 1)) AS pos FROM d)),
        |sc AS (
        |  SELECT tk.doc_id, tk.pos,
        |    ln(CAST(uni.ct + 1 AS DOUBLE) / CAST(tot.nt + tot.v AS DOUBLE)) -
        |    ln(CAST(uni.cr + 1 AS DOUBLE) / CAST(tot.nr + tot.v AS DOUBLE)) AS lw
        |  FROM tk JOIN uni ON tk.t = uni.t CROSS JOIN tot),
        |p AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |    list_reduce(list(lw ORDER BY pos), (x, y) -> x + y) AS sw
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(p.n_toks, 0) AS n_toks,
        |  round((ln(CAST(pri.dc + 1 AS DOUBLE)) - ln(CAST(pri.dr + 1 AS DOUBLE)))
        |        + coalesce(p.sw, 0.0), 6) + 0.0 AS nb_score,
        |  round((ln(CAST(pri.dc + 1 AS DOUBLE)) - ln(CAST(pri.dr + 1 AS DOUBLE)))
        |        + coalesce(p.sw, 0.0), 6) > 0 AS keep
        |FROM d LEFT JOIN p USING (doc_id) CROSS JOIN pri
        |ORDER BY doc_id""".stripMargin)),
    // frozen-history model + priors, OOV tokens on the smoothing
    // floor via LEFT join (the dsir_heldout conventions)
    Q("text_quality_classifier_heldout",
      (s, d) => textNbQualityHeldout(s, d), Some(
      raw"""WITH d AS MATERIALIZED (
        |  SELECT doc_id, source IN ('src0', 'src1', 'src2', 'src3') AS cur,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS a
        |  FROM documents),
        |pri AS (
        |  SELECT sum(CASE WHEN cur THEN 1 ELSE 0 END) AS dc,
        |         sum(CASE WHEN cur THEN 0 ELSE 1 END) AS dr
        |  FROM d WHERE doc_id < 250),
        |uni AS MATERIALIZED (
        |  SELECT t, sum(CASE WHEN cur THEN 1 ELSE 0 END) AS ct,
        |         sum(CASE WHEN cur THEN 0 ELSE 1 END) AS cr
        |  FROM (SELECT cur, unnest(a) AS t FROM d WHERE doc_id < 250)
        |  GROUP BY t),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM uni),
        |tk AS (
        |  SELECT doc_id, pos, a[pos] AS t FROM (
        |    SELECT doc_id, a, unnest(range(1, len(a) + 1)) AS pos FROM d
        |    WHERE doc_id >= 250)),
        |sc AS (
        |  SELECT tk.doc_id, tk.pos,
        |    ln(CAST(coalesce(uni.ct, 0) + 1 AS DOUBLE) / CAST(tot.nt + tot.v AS DOUBLE)) -
        |    ln(CAST(coalesce(uni.cr, 0) + 1 AS DOUBLE) / CAST(tot.nr + tot.v AS DOUBLE)) AS lw
        |  FROM tk LEFT JOIN uni ON tk.t = uni.t CROSS JOIN tot),
        |p AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |    list_reduce(list(lw ORDER BY pos), (x, y) -> x + y) AS sw
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(p.n_toks, 0) AS n_toks,
        |  round((ln(CAST(pri.dc + 1 AS DOUBLE)) - ln(CAST(pri.dr + 1 AS DOUBLE)))
        |        + coalesce(p.sw, 0.0), 6) + 0.0 AS nb_score,
        |  round((ln(CAST(pri.dc + 1 AS DOUBLE)) - ln(CAST(pri.dr + 1 AS DOUBLE)))
        |        + coalesce(p.sw, 0.0), 6) > 0 AS keep
        |FROM d LEFT JOIN p USING (doc_id) CROSS JOIN pri
        |WHERE d.doc_id >= 250 ORDER BY doc_id""".stripMargin)),
    // hash-free, so fully oracle-able: the same profile counts and
    // (hits, lang) argmax tie-break, via unnest + row_number (Spark's
    // greatest-struct == ORDER BY hits DESC, lang DESC). Both engines
    // use \b word boundaries and case-sensitive matching.
    Q("text_langid", textLangId, Some(
      raw"""WITH per AS (
        |  SELECT doc_id, lang AS lang_true,
        |         len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht|ich|mit|ein|zu)\b')) AS h_de,
        |         len(regexp_extract_all(text, '\b(the|and|is|of|to|in|that|it|for|was)\b')) AS h_en,
        |         len(regexp_extract_all(text, '\b(el|la|los|las|de|que|y|es|en|un)\b')) AS h_es,
        |         len(regexp_extract_all(text, '\b(le|la|les|de|et|est|que|pour|dans|un)\b')) AS h_fr,
        |         len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 AS cjk
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, lang_true, cjk, l.lang AS lang, l.hits AS hits,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY l.hits DESC, l.lang DESC) AS rk
        |  FROM per, UNNEST([struct_pack(lang := 'de', hits := h_de),
        |                    struct_pack(lang := 'en', hits := h_en),
        |                    struct_pack(lang := 'es', hits := h_es),
        |                    struct_pack(lang := 'fr', hits := h_fr)]) AS t(l))
        |SELECT doc_id, lang_true,
        |       CASE WHEN cjk THEN 'zh' ELSE lang END AS lang_pred,
        |       CAST(hits AS INTEGER) AS profile_hits
        |FROM u WHERE rk = 1 ORDER BY doc_id""".stripMargin)),
    // FULL hash oracle since r14: the rolling fold re-derived over the
    // tokhCtes XXH64 re-derivation (HashOracles.fingerprintOracle)
    Q("text_fingerprint", textFingerprint,
      Some(HashOracles.fingerprintOracle)),
    // the gate composes the quality/repetition/langid/dup oracle
    // formulations already pinned above, then decides with INTEGER
    // comparisons only — no float thresholds to diverge
    Q("curation_gate", curationGate, Some(
      raw"""WITH per AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words,
        |    CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS BIGINT) AS n_distinct,
        |    CAST(greatest(len(string_split_regex(text, '\s+')) - 2, 0) AS BIGINT) AS n_sh,
        |    CAST(len(list_distinct(list_transform(
        |      range(1, len(string_split_regex(text, '\s+')) - 1),
        |      i -> string_split_regex(text, '\s+')[i] || ' ' ||
        |           string_split_regex(text, '\s+')[i+1] || ' ' ||
        |           string_split_regex(text, '\s+')[i+2]))) AS BIGINT) AS n_dsh,
        |    len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht|ich|mit|ein|zu)\b')) AS h_de,
        |    len(regexp_extract_all(text, '\b(the|and|is|of|to|in|that|it|for|was)\b')) AS h_en,
        |    len(regexp_extract_all(text, '\b(el|la|los|las|de|que|y|es|en|un)\b')) AS h_es,
        |    len(regexp_extract_all(text, '\b(le|la|les|de|et|est|que|pour|dans|un)\b')) AS h_fr,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 AS cjk,
        |    min(doc_id) OVER (PARTITION BY text) AS keep_id
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, lang, n_words, n_distinct, n_sh, n_dsh, keep_id, cjk,
        |         l.lang AS cand, l.hits AS hits,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY l.hits DESC, l.lang DESC) AS rk
        |  FROM per, UNNEST([struct_pack(lang := 'de', hits := h_de),
        |                    struct_pack(lang := 'en', hits := h_en),
        |                    struct_pack(lang := 'es', hits := h_es),
        |                    struct_pack(lang := 'fr', hits := h_fr)]) AS t(l)),
        |f AS (
        |  SELECT doc_id, lang, n_words, n_distinct, n_sh, n_dsh,
        |         doc_id <> keep_id AS dup,
        |         CASE WHEN cjk THEN 'zh' ELSE cand END AS lang_pred
        |  FROM u WHERE rk = 1)
        |SELECT doc_id, dup,
        |  n_words < 5 AS too_short,
        |  n_distinct * 10 < n_words * 3 AS low_diversity,
        |  (n_sh - n_dsh) * 2 > n_sh AS repetitive,
        |  lang_pred <> lang AS lang_mismatch,
        |  NOT (dup OR n_words < 5 OR n_distinct * 10 < n_words * 3
        |       OR (n_sh - n_dsh) * 2 > n_sh OR lang_pred <> lang) AS keep
        |FROM f ORDER BY doc_id""".stripMargin)),
    // the oracle groups dup keys on the raw TEXT (no hash at all) — an
    // independent recomputation that would catch an md5-keying bug
    Q("source_stats", sourceStats, Some(
      raw"""WITH d AS (
        |  SELECT source, text,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words,
        |    CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS BIGINT) AS n_distinct
        |  FROM documents),
        |k AS (SELECT text, count(*) AS copies FROM d GROUP BY text)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(d.n_distinct) AS DOUBLE) / CAST(sum(d.n_words) AS DOUBLE) AS diversity,
        |  CAST(sum(CASE WHEN k.copies >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
        |  CAST(sum(CASE WHEN k.copies >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS dup_ratio
        |FROM d JOIN k USING (text)
        |GROUP BY source ORDER BY source""".stripMargin)),
    // doc-level oracle (no collapse — DuckDB pays the O(docs) explode
    // the Spark side avoids); distinct-doc gram counts == the
    // collapsed group-size + distinct-rep decomposition, same 64-bit
    // shingle-id collision budget as the dedup/contamination oracles
    // D36: gram GROUPING key differs (engine 64-bit xxhash of the
    // \x01-joined slice, oracle the string itself) — the dedup_jaccard
    // collision-budget convention; everything downstream is exact
    Q("text_remove_dup_spans", (s, d) => textRemoveDupSpans(s, d), Some(
      raw"""WITH u AS (SELECT min(doc_id) AS rep, text FROM documents GROUP BY text),
        |ua AS (SELECT rep, list_filter(string_split_regex(text, '\s+'),
        |                               t -> t <> '') AS a FROM u),
        |g AS (SELECT rep, i AS p, array_to_string(a[i:i+2], chr(1)) AS gs
        |      FROM (SELECT rep, a, unnest(range(1, len(a) - 1)) AS i FROM ua)),
        |dup AS (SELECT gs FROM g GROUP BY gs HAVING count(*) >= 2),
        |st AS (SELECT g.rep, g.p FROM g JOIN dup USING (gs)),
        |cov AS (SELECT DISTINCT rep, p + unnest([0,1,2]) AS q FROM st),
        |pt AS (SELECT rep, i AS q, a[i] AS tok
        |       FROM (SELECT rep, a, unnest(range(1, len(a) + 1)) AS i FROM ua)),
        |kept AS (SELECT pt.rep, pt.q, pt.tok FROM pt
        |         WHERE NOT EXISTS (SELECT 1 FROM cov
        |                           WHERE cov.rep = pt.rep AND cov.q = pt.q)),
        |res AS (SELECT rep, count(*) AS n_kept,
        |               array_to_string(list(tok ORDER BY q), ' ') AS clean_text
        |        FROM kept GROUP BY rep),
        |sz AS (SELECT rep, CAST(len(a) AS BIGINT) AS n_tokens FROM ua)
        |SELECT d.doc_id, sz.n_tokens,
        |       sz.n_tokens - coalesce(res.n_kept, 0) AS n_removed,
        |       coalesce(res.clean_text, '') AS clean_text
        |FROM documents d
        |JOIN u ON u.text IS NOT DISTINCT FROM d.text
        |JOIN sz ON sz.rep = u.rep
        |LEFT JOIN res ON res.rep = u.rep
        |ORDER BY d.doc_id""".stripMargin)),
    // DuckDB range(0, n) is empty at n <= 0 (no descending-sequence
    // guard needed oracle-side); list_position is 1-based in both;
    // sentinel ordinals cast to VARCHAR explicitly so both engines
    // render "0","1",... identically
    Q("text_span_corrupt", (s, d) => textSpanCorrupt(s, d), Some(
      raw"""WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |                             x -> x <> '') AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |s AS (SELECT doc_id, toks, n,
        |    list_filter(range(0, n),
        |      p -> substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' ||
        |                      CAST(p AS VARCHAR)), 1, 2) < '0d') AS starts
        |  FROM b),
        |c AS (SELECT doc_id, toks, n, starts,
        |    list_sort(list_distinct(flatten(list_transform(starts,
        |      q -> range(q, least(q + 3, n)))))) AS covered
        |  FROM s),
        |r AS (SELECT doc_id, toks, n, covered,
        |    list_filter(covered,
        |      p -> NOT list_contains(covered, p - 1)) AS runstarts
        |  FROM c)
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS n_tokens,
        |  CAST(len(covered) AS BIGINT) AS n_masked,
        |  CAST(len(runstarts) AS BIGINT) AS n_spans,
        |  COALESCE(array_to_string(list_filter(list_transform(range(0, n),
        |    p -> CASE
        |      WHEN NOT list_contains(covered, p) THEN toks[p + 1]
        |      WHEN list_contains(runstarts, p) THEN '<extra_id_' ||
        |        CAST(list_position(runstarts, p) - 1 AS VARCHAR) || '>'
        |      ELSE NULL END), x -> x IS NOT NULL), ' '), '') AS input_text,
        |  COALESCE(array_to_string(list_transform(runstarts,
        |    q -> '<extra_id_' ||
        |      CAST(list_position(runstarts, q) - 1 AS VARCHAR) || '> ' ||
        |      array_to_string(list_transform(
        |        list_filter(covered,
        |          p -> list_filter(runstarts, q2 -> q2 <= p)[-1] = q),
        |        p -> toks[p + 1]), ' ')), ' '), '') AS target_text
        |FROM r ORDER BY doc_id""".stripMargin)),
    Q("text_dup_spans", textDupSpans, Some(
      raw"""WITH toks AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk)-1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS g
        |  FROM toks),
        |c AS (SELECT g, count(DISTINCT doc_id) AS nd FROM g GROUP BY g),
        |p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |        CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |      FROM g JOIN c USING (g) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(p.n_grams, 0) AS n_grams,
        |  COALESCE(p.n_dup, 0) AS n_dup_grams,
        |  CASE WHEN COALESCE(p.n_grams, 0) > 0
        |       THEN CAST(p.n_dup AS DOUBLE) / CAST(p.n_grams AS DOUBLE)
        |       ELSE 0.0 END AS dup_ratio
        |FROM documents d LEFT JOIN p USING (doc_id) ORDER BY doc_id""".stripMargin)),
    // full independent re-derivation of the bigram LM: DuckDB rebuilds
    // the unigram/bigram counts and folds bits in the same position
    // order (list_reduce over the pos-ORDERED list == Spark's
    // aggregate over the array_sort'ed list; 0.0 + x ≡ x, so the
    // missing init is immaterial); 6dp rounding absorbs any last-ulp
    // log2 divergence between engines
    Q("text_perplexity", textPerplexity, Some(
      s"""WITH $PerplexityCtes
        |SELECT d.doc_id, COALESCE(p.n_bigrams, 0) AS n_bigrams,
        |  round(p.bits / p.n_bigrams, 6) AS avg_bits
        |FROM d LEFT JOIN p USING (doc_id) ORDER BY doc_id""".stripMargin)),
    // per-lang terciles over the SAME ordered-fold avg_bits chain; the
    // engine's rank arithmetic reproduces SQL ntile's
    // first-rem-buckets-get-ceil rule exactly
    Q("text_ppl_buckets", (s, d) => textPplBuckets(s, d), Some(
      s"""WITH $PerplexityCtes,
        |pl AS (
        |  SELECT p.doc_id, doc.lang, round(p.bits / p.n_bigrams, 6) AS avg_bits
        |  FROM p JOIN documents doc USING (doc_id)
        |  WHERE p.n_bigrams >= 1),
        |b AS (
        |  SELECT doc_id, lang, avg_bits,
        |         CAST(ntile(3) OVER (PARTITION BY lang
        |           ORDER BY avg_bits, doc_id) AS INTEGER) AS tercile
        |  FROM pl)
        |SELECT doc_id, lang, avg_bits, tercile,
        |  CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM b ORDER BY doc_id""".stripMargin)),
    // held-out form: LEFT joins in both engines, so unseen pairs /
    // unseen first words exercise the (0+1)/(c1+V) and 1/V smoothing
    // fallbacks; same ordered-fold + 6dp-round exactness as D21
    Q("text_perplexity_heldout", (s, d) => textPerplexityHeldout(s, d), Some(
      raw"""WITH d AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS a
        |  FROM documents),
        |uni AS MATERIALIZED (
        |  SELECT t1, count(*) AS c1
        |  FROM (SELECT unnest(a) AS t1 FROM d WHERE doc_id < 250)
        |  GROUP BY t1),
        |v AS (SELECT count(*) AS v FROM uni),
        |tb AS MATERIALIZED (
        |  SELECT a[pos] AS t1, a[pos + 1] AS t2 FROM (
        |    SELECT a, unnest(range(1, len(a))) AS pos FROM d
        |    WHERE doc_id < 250 AND len(a) >= 2)),
        |bi AS MATERIALIZED (SELECT t1, t2, count(*) AS c12 FROM tb GROUP BY t1, t2),
        |sb AS MATERIALIZED (
        |  SELECT doc_id, pos, a[pos] AS t1, a[pos + 1] AS t2 FROM (
        |    SELECT doc_id, a, unnest(range(1, len(a))) AS pos FROM d
        |    WHERE doc_id >= 250 AND len(a) >= 2)),
        |sc AS (
        |  SELECT sb.doc_id, sb.pos,
        |    -log2(CAST(COALESCE(bi.c12, 0) + 1 AS DOUBLE)
        |          / CAST(COALESCE(uni.c1, 0) + v.v AS DOUBLE)) AS lp
        |  FROM sb
        |  LEFT JOIN bi ON sb.t1 = bi.t1 AND sb.t2 = bi.t2
        |  LEFT JOIN uni ON sb.t1 = uni.t1
        |  CROSS JOIN v),
        |p AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    list_reduce(list(lp ORDER BY pos), (x, y) -> x + y) AS bits
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(p.n_bigrams, 0) AS n_bigrams,
        |  round(p.bits / p.n_bigrams, 6) AS avg_bits
        |FROM d LEFT JOIN p USING (doc_id)
        |WHERE d.doc_id >= 250 ORDER BY doc_id""".stripMargin)),
    Q("text_vocab", (s, d) => textVocab(s, d), Some(
      raw"""SELECT token, count(*) AS cnt FROM (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents)
        |WHERE token <> ''
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 50""".stripMargin)),
    // same SQL as text_vocab: at test scale budget (256) ≥ vocabulary,
    // where Misra–Gries is provably the exact histogram — the sketch's
    // approximation path is spec-pinned separately (MisraGriesSpec)
    Q("text_topk_sketch", (s, d) => textTopkSketch(s, d), Some(
      raw"""SELECT token, count(*) AS cnt FROM (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents)
        |WHERE token <> ''
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 50""".stripMargin)),
    // tf/df over UNIQUE texts (the Collapse front-end), idf
    // 6dp-rounded before the product in both engines; ranking compares
    // bit-identical doubles (int tf × the same rounded idf), ties
    // break lexicographically in both (TopKStrAgg / row_number)
    Q("text_keywords", (s, d) => textKeywords(s, d), Some(
      raw"""WITH reps AS (
        |  SELECT text, min(doc_id) AS rep FROM documents GROUP BY text),
        |n AS (SELECT count(*) AS n FROM reps),
        |tf AS (
        |  SELECT rep, t, count(*) AS tf FROM (
        |    SELECT rep, unnest(list_filter(
        |      string_split_regex(text, '\s+'), x -> x <> '')) AS t
        |    FROM reps)
        |  GROUP BY rep, t),
        |df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        |w AS (
        |  SELECT tf.rep, tf.t,
        |    tf.tf * round(ln((1.0 + n.n) / (1.0 + df.df)) + 1, 6) AS w
        |  FROM tf JOIN df USING (t) CROSS JOIN n),
        |rk AS (
        |  SELECT rep, t, w, row_number() OVER (
        |    PARTITION BY rep ORDER BY w DESC, t) AS rk
        |  FROM w),
        |d2r AS (
        |  SELECT d.doc_id, r.rep FROM documents d
        |  JOIN reps r ON d.text IS NOT DISTINCT FROM r.text)
        |SELECT d2r.doc_id, rk.rk, rk.t AS token, round(rk.w, 6) AS weight
        |FROM d2r JOIN rk USING (rep)
        |WHERE rk.rk <= 5 ORDER BY doc_id, rk""".stripMargin)),
    // integer set sizes; jaccard = the same int ratio rounded on the
    // same double in both engines
    Q("source_overlap", (s, d) => sourceOverlap(s, d), Some(
      raw"""WITH st AS (
        |  SELECT DISTINCT source, t FROM (
        |    SELECT source, unnest(list_filter(
        |      string_split_regex(text, '\s+'), x -> x <> '')) AS t
        |    FROM documents)),
        |sz AS (SELECT source, count(*) AS v FROM st GROUP BY source),
        |iv AS (
        |  SELECT a.source AS s1, b.source AS s2, count(*) AS inter
        |  FROM st a JOIN st b ON a.t = b.t AND a.source < b.source
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT a.source AS s1, b.source AS s2, a.v AS v1, b.v AS v2
        |  FROM sz a JOIN sz b ON a.source < b.source)
        |SELECT p.s1, p.s2, p.v1, p.v2,
        |  COALESCE(iv.inter, 0) AS inter,
        |  round(COALESCE(iv.inter, 0)::DOUBLE /
        |    (p.v1 + p.v2 - COALESCE(iv.inter, 0)), 6) AS jaccard
        |FROM p LEFT JOIN iv ON p.s1 = iv.s1 AND p.s2 = iv.s2
        |ORDER BY 1, 2""".stripMargin)),
    // the regression folds over the rank-ORDERED top-k list in BOTH
    // engines (list_prepend seeds the accumulator; the per-step
    // arithmetic sequence matches the Spark fold term for term), and
    // the top-k rank rule is the shared (f desc, token asc) total
    // order — the oracle's window stands in for the engine's bounded
    // TopKStrAgg, the text_keywords convention
    Q("text_zipf", (s, d) => textZipf(s, d), Some(
      raw"""WITH tf AS (
        |  SELECT source, t, CAST(count(*) AS BIGINT) AS f FROM (
        |    SELECT source, unnest(list_filter(
        |      string_split_regex(text, '\s+'), x -> x <> '')) AS t
        |    FROM documents) GROUP BY source, t),
        |st AS (
        |  SELECT source, CAST(sum(f) AS BIGINT) AS n_tokens,
        |         CAST(count(*) AS BIGINT) AS vocab,
        |         CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
        |  FROM tf GROUP BY source),
        |rk AS (
        |  SELECT source, f,
        |         row_number() OVER (PARTITION BY source ORDER BY f DESC, t) AS r
        |  FROM tf QUALIFY r <= 50),
        |fold AS (
        |  SELECT source,
        |    list_reduce(
        |      list_prepend([0.0, 0.0, 0.0, 0.0],
        |        list([ln(CAST(r AS DOUBLE)), ln(CAST(f AS DOUBLE)), 0.0, 0.0]
        |             ORDER BY r)),
        |      (a, x) -> [a[1] + x[1], a[2] + x[2],
        |                 a[3] + x[1] * x[2], a[4] + x[1] * x[1]]) AS s,
        |    CAST(count(*) AS DOUBLE) AS k
        |  FROM rk GROUP BY source)
        |SELECT st.source, st.n_tokens, st.vocab,
        |  round(CAST(st.vocab AS DOUBLE) / st.n_tokens, 6) AS ttr,
        |  round(CAST(st.hapax AS DOUBLE) / st.vocab, 6) AS hapax_ratio,
        |  CASE WHEN f.k >= 2 THEN
        |    round((f.k * f.s[3] - f.s[1] * f.s[2]) /
        |          (f.k * f.s[4] - f.s[1] * f.s[1]), 6) END AS zipf_slope
        |FROM st JOIN fold f USING (source)
        |ORDER BY source""".stripMargin)),
    // ONE shared multiply order inside the ln in both engines
    // (c_xy·N·N over B·c_x·c_y, left-associated), 6dp round, ties on
    // the rounded value + (x, y); the list comprehension mirrors the
    // engine's slice/transform bigram build
    Q("text_pmi", (s, d) => textPmi(s, d), Some(
      raw"""WITH arrs AS (
        |  SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS a
        |  FROM documents),
        |uni AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(a) AS t FROM arrs) GROUP BY t),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
        |bigrows AS (
        |  SELECT unnest([struct_pack(x := a[j], y := a[j + 1])
        |                 FOR j IN range(1, len(a))]) AS p
        |  FROM arrs),
        |big AS (
        |  SELECT struct_extract(p, 'x') AS x, struct_extract(p, 'y') AS y,
        |         CAST(count(*) AS BIGINT) AS c_xy
        |  FROM bigrows GROUP BY 1, 2),
        |b AS (SELECT CAST(sum(c_xy) AS BIGINT) AS b FROM big)
        |SELECT big.x, big.y, big.c_xy,
        |  round(ln((CAST(big.c_xy AS DOUBLE) * n.n * n.n) /
        |           (CAST(b.b AS DOUBLE) * cx.c * cy.c)), 6) AS pmi
        |FROM big
        |JOIN uni cx ON cx.t = big.x
        |JOIN uni cy ON cy.t = big.y
        |CROSS JOIN n CROSS JOIN b
        |WHERE big.c_xy >= 5
        |ORDER BY pmi DESC, big.x, big.y
        |LIMIT 50""".stripMargin)),
    // the query set is interpolated from Bm25Queries (never
    // duplicated); idf is 6dp-rounded BEFORE use in both engines, the
    // per-doc sum is a term-ordered fold, ranking uses the unrounded
    // double with doc_id tie-break — the D21/D24 engine-exactness
    // conventions
    Q("text_bm25", (s, d) => textBm25(s, d), Some {
      val values = Bm25Queries
        .flatMap { case (q, t) => t.split("\\s+").distinct.map(q -> _) }
        .map { case (q, t) => s"(CAST($q AS BIGINT), '$t')" }
        .mkString(", ")
      raw"""WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS a
        |  FROM documents),
        |dd AS (SELECT doc_id, CAST(len(a) AS BIGINT) AS dl, a FROM d),
        |st AS (SELECT count(*) AS n, sum(dl) AS sd FROM dd),
        |q(query_id, t) AS (VALUES $values),
        |tf AS (
        |  SELECT doc_id, dl, t, count(*) AS tf FROM (
        |    SELECT doc_id, dl, unnest(a) AS t FROM dd)
        |  WHERE t IN (SELECT t FROM q)
        |  GROUP BY doc_id, dl, t),
        |dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        |w AS (
        |  SELECT q.query_id, tf.doc_id, tf.t,
        |    round(ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1), 6)
        |      * (tf.tf * (1.2::DOUBLE + 1)) /
        |      (tf.tf + 1.2 * (1 - 0.75 +
        |        (0.75 * tf.dl) / (st.sd::DOUBLE / st.n))) AS w
        |  FROM tf
        |  JOIN dfq USING (t)
        |  JOIN q ON q.t = tf.t
        |  CROSS JOIN st),
        |sc AS (
        |  SELECT query_id, doc_id,
        |    list_reduce(list(w ORDER BY t), (x, y) -> x + y) AS score
        |  FROM w GROUP BY query_id, doc_id),
        |rk AS (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
        |  FROM sc)
        |SELECT query_id, rk, doc_id, round(score, 6) AS score
        |FROM rk WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin
    }),
    // EmailRe interpolated, never duplicated: the oracle pins that THE
    // SAME pattern behaves identically under Java regex and RE2
    Q("text_redact", textRedact, Some(
      s"""SELECT doc_id,
        |  regexp_replace(text, '$EmailRe', '<EMAIL>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_redactions
        |FROM documents ORDER BY doc_id""".stripMargin))
  )
}
