package graft

import org.apache.spark.sql.{Column, GraftSqlShim => shim}
import org.apache.spark.sql.functions._

/** Reusable column functions (kept codegen-friendly: every helper is a
  * composition of built-in Catalyst expressions, no UDFs).
  */
package object functions {

  /** Lower edge of the fixed-width (lo, hi] bin containing `c`
    * (reference: polars `cut(range(0, 4001, 200))`,
    * ingester.py:425). `ceil` keeps the right-closed semantics: a
    * value exactly on a bin edge belongs to the bin below it.
    */
  def binLow(c: Column, step: Int): Column =
    (ceil(c / step) * step - step).cast("long")

  /** Human-readable "(lo, hi]" bin label, the reference's cut() output. */
  def binLabel(c: Column, step: Int): Column = {
    val lo = binLow(c, step)
    concat(lit("("), lo.cast("string"), lit(", "),
      (lo + step).cast("string"), lit("]"))
  }

  /** Dot product of two float-array columns via higher-order functions
    * (zip_with + aggregate) — stays inside Catalyst, no UDF.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  /** L2 norm of a float-array column. */
  def l2norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, v) => acc + v))

  /** Cosine similarity of two float-array columns — HOF reference
    * implementation (see [[cosine]] for the production path).
    */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Cosine similarity via the native codegen'd [[CosineSim]]
    * expression — one fused primitive pass, stays in
    * WholeStageCodegen (the HOF version is ~10x slower on a
    * brute-force ANN scan).
    */
  def cosine(a: Column, b: Column): Column =
    shim.column(CosineSim(shim.expression(a), shim.expression(b)))

  /** k-slot MinHash signature of a shingle-id (array<bigint>) column
    * via the native codegen'd [[MinHashSig]] expression — one pass per
    * row, zero data movement (the explode + 64-min groupBy it replaces
    * shuffled the whole exploded corpus).
    */
  def minhashSig(sh: Column, k: Int): Column =
    shim.column(MinHashSig(shim.expression(sh), k))

  /** Distinct word-3-gram shingle ids of a text column via the native
    * one-pass [[ShingleIds]] expression (tokenize + hash + roll +
    * dedup with zero intermediate arrays — the corpus build's hot
    * projection).
    */
  def shingleIds(text: Column): Column =
    shim.column(ShingleIds(shim.expression(text)))

  /** 64-bit SimHash of a text column via the native one-pass
    * [[SimHash64]] expression — replaces the token explode + 64-column
    * vote aggregate (a whole shuffle stage) with a row-local fold.
    */
  def simhash64(text: Column): Column =
    shim.column(SimHash64(shim.expression(text)))

  /** BPE-ish pre-tokenization count via the native [[BpeTokenCount]]
    * DFA (one pass, no regex engine) — bit-identical to
    * `regexp_count(text, TextOps.BpePattern)`.
    */
  def bpeTokenCount(text: Column): Column =
    shim.column(BpeTokenCount(shim.expression(text)))

  /** Count of word-boundary-delimited occurrences of any word in
    * `words`, via the native [[WordSetHits]] scan — bit-identical to
    * `regexp_count(text, "\\b(w1|w2|…)\\b")`.
    */
  def wordSetHits(text: Column, words: Seq[String]): Column =
    shim.column(WordSetHits(shim.expression(text), words))

  /** Whitespace-token count via the native [[WsTokenCount]] scan —
    * bit-identical to `size(split(text, "\\s+"))`, no token array.
    */
  def wsTokenCount(text: Column): Column =
    shim.column(WsTokenCount(shim.expression(text)))

  /** `[dl, tf(terms(0)), tf(terms(1)), …]` of a text via the native
    * one-pass [[TermTfs]] scan: dl = non-empty whitespace-token count,
    * tf = occurrences byte-equal to each fixed term. The fused BM25
    * document scan.
    */
  def termTfs(text: Column, terms: Seq[String]): Column =
    shim.column(TermTfs(shim.expression(text), terms))

  /** DISTINCT whitespace-token count via the native exact-equality
    * [[DistinctTokenCount]] probe scan — bit-identical to
    * `size(array_distinct(split(text, "\\s+")))`, no token strings or
    * arrays materialized.
    */
  def distinctTokenCount(text: Column): Column =
    shim.column(DistinctTokenCount(shim.expression(text)))

  /** All `tables` SRP-LSH bucket signatures (`planes` bits each) of a
    * float-vector column via the native one-pass [[SrpSig]] expression
    * — element t is table t's bucket. Replaces the posexplode +
    * (tables×planes)-column groupBy (a full shuffle of the exploded
    * corpus) with a row-local projection; bit-identical buckets.
    */
  def srpSig(vec: Column, planes: Int, tables: Int): Column =
    shim.column(SrpSig(shim.expression(vec), planes, tables))

  /** CJK-ideograph presence (U+4E00–U+9FFF) via the native
    * [[ContainsCjk]] byte scan — bit-identical to
    * `regexp_count(text, "[\\x{4e00}-\\x{9fff}]") > 0`.
    */
  def containsCjk(text: Column): Column =
    shim.column(ContainsCjk(shim.expression(text)))

  /** Bloom-filter membership probe via the native codegen'd
    * [[BloomMightContain]] expression: `bits` is an array<bigint>
    * filter (built by [[BloomBuildAgg]], typically one broadcast
    * row), `key` a bigint. True = maybe present, false = DEFINITELY
    * absent.
    */
  def bloomMightContain(bits: Column, key: Column, numHashes: Int): Column =
    shim.column(BloomMightContain(
      shim.expression(bits), shim.expression(key), numHashes))

  /** Product-quantization codes of a float-vector column via the
    * native one-pass [[PqEncode]] expression: element mi is subspace
    * mi's L2-nearest-center id. `centers(mi*k + code)` holds that
    * slot's ds-dim center. Replaces the m·k `aggregate(zip_with(…))`
    * folds + per-subspace `array_sort` of the HOF formulation
    * (fuzz-pinned bit-identical) with one fused primitive loop.
    */
  def pqEncode(vec: Column, centers: Array[Array[Double]],
      m: Int, k: Int, ds: Int): Column =
    shim.column(PqEncode(shim.expression(vec), centers, m, k, ds))

  /** `struct(cos, pid)` of the best (max cosine, ties to larger pid)
    * of a fixed center set, via the native one-pass [[CosBest]]
    * expression — the k-means/SemDeDup assignment kernel, replacing k
    * HOF dot folds + an `array_sort` per row (fuzz-pinned
    * bit-identical incl. null/zero/NaN semantics).
    */
  def cosBest(vec: Column, centers: Seq[(Int, Array[Double])]): Column =
    shim.column(CosBest(shim.expression(vec),
      centers.map(_._2).toArray, centers.map(_._1).toArray))

  /** Top-k `struct(cos, pid)` of a float-vector column against a fixed
    * center set, (cos desc, pid desc), via the native one-pass
    * [[CosTopK]] — the IVF pivot-ranking kernel (replaces the
    * nLists-struct array_sort per row; bit-identical prefix,
    * spec-pinned).
    */
  def cosTopK(vec: Column, centers: Seq[(Long, Array[Float])], k: Int): Column =
    shim.column(CosTopK(shim.expression(vec),
      centers.map(_._2).toArray, centers.map(_._1).toArray, k))

  /** Minimum-cost unigram-LM segmentation of a word column under a
    * fixed (piece, quantized-integer-cost) model, via the native
    * [[UnigramViterbi]] dp — the SentencePiece decode kernel. Null
    * when the word is not coverable (never, once every single char is
    * in the model).
    */
  def unigramViterbi(word: Column, pieces: Array[String],
      costs: Array[Long], maxLen: Int): Column =
    shim.column(UnigramViterbi(shim.expression(word), pieces, costs, maxLen))

  /** `struct(n_lines, kept)` of the C4 line rule over a page column
    * via the native one-pass [[C4LineFilter]] byte scan — replaces
    * the nested per-line regex-split + lambda-filter HOFs
    * (fuzz-pinned bit-identical).
    */
  def c4LineFilter(text: Column, minWords: Int): Column =
    shim.column(C4LineFilter(shim.expression(text), minWords))
}
