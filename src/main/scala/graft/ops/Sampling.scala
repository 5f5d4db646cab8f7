package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-data sampling and batching operators (SURVEY §2.D14–D16):
  * deterministic train/val/test splitting, exact per-stratum
  * subsampling, and token-budget context packing — the selection layer
  * that sits between a deduplicated corpus and the training loader.
  *
  * Determinism is the design constraint: every "random" choice is a
  * pure function of the row's key (an md5-derived uniform), so results
  * are identical across cluster sizes, retries and engines — which is
  * also what makes every operator here exactly DuckDB-oracle-able,
  * unlike seeded RNG sampling (`df.sample` draws depend on partition
  * layout). All three are narrow or single-shuffle:
  *  - split: a row-local projection (no shuffle at any scale);
  *  - stratified take-k: one shuffle on the stratum key, bounded by
  *    the skew note on [[sampleStratified]];
  *  - packing: hierarchical bucketed cumulative sums (local windows +
  *    recursively-offset buckets, [[Sampling.exclusiveOffsets]]) — no
  *    window task ever sees more than the fanout (4096) rows at ANY
  *    corpus size or id sparsity.
  */
object Sampling {

  /** Uniform-in-[0,1)-equivalent hex key: the first 8 hex chars of
    * md5(id). Both Spark and DuckDB emit lowercase hex for md5 of the
    * same UTF-8 bytes, so ordering and threshold comparisons agree
    * bit-for-bit across engines — lexicographic order on fixed-width
    * lowercase hex IS numeric order of the top 32 hash bits.
    */
  private def hexKey(id: Column, salt: String): Column =
    substring(md5(concat(lit(salt), id.cast("string"))), 1, 8)

  /** D14: deterministic train/val/test split, 80/10/10 by hashed
    * doc_id. Thresholds are the hex encodings of 0.8*2^32 and
    * 0.9*2^32; the salt decorrelates this split from any other
    * hash-derived sampling on the same ids.
    */
  /** The 80/10/10 split label from an already-projected hex key —
    * ONE definition shared by [[sampleSplit]] and [[contamination]],
    * so the thresholds/salt can never drift between D14 and D18.
    */
  private def splitLabel(hk: Column): Column =
    when(hk < "cccccccc", "train")
      .when(hk < "e6666666", "val")
      .otherwise("test")

  def sampleSplit(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      // project the key once: a duplicate hexKey inside the second
      // when() branch escapes CaseWhen subexpression elimination and
      // recomputes the md5 for every non-train row
      .withColumn("hk", hexKey(col("doc_id"), "split:"))
      .select(col("doc_id"), col("lang"),
        splitLabel(col("hk")).as("split"))
      .orderBy("doc_id")

  /** D26: length-bucketed batching — the padding-efficiency stage of
    * batch assembly (dynamic batching / length grouping: documents of
    * similar token length batch together, so per-batch padding-to-max
    * waste stays small; batching in arrival order pads every short
    * doc up to the batch's longest). Buckets are powers of two via
    * INTEGER arithmetic — `length(bin(tokens))` is ⌊log2⌋+1 computed
    * on the binary-string length, immune to the float `log2(2^k)`
    * rounding hazard — and batches are deterministic doc_id-ordered
    * slices within each bucket. Output is per-BATCH stats incl. the
    * padding waste (max·n − Σ), all exact integers.
    *
    * Scale shape: one narrow token-count scan, one shuffle on the
    * bucket key — and NO bucket-keyed ranking window (real corpora
    * concentrate in 2–4 length buckets, so `row_number() OVER
    * (PARTITION BY bucket)` would number a constant fraction of the
    * corpus in one unsplittable task). The within-bucket batch number
    * is instead the D16 hierarchical-offset shape re-keyed to the
    * doc_id ORDER the batches are defined by: sub-bucket `sb` =
    * doc_id DIV subWidth is MONOTONE in the sort key, so sub-bucket
    * order composes with in-sub-bucket doc_id order to the exact
    * per-bucket order, and every (bucket, sb) window partition holds
    * at most `subWidth` rows BY CONSTRUCTION — a one-bucket corpus
    * (all docs the same length) still spreads over its whole doc_id
    * range. Cross-sub-bucket rank offsets run through
    * [[exclusiveOffsets]] on the composite key bucket·SBMAX + sb
    * (bucket-major, sb-minor: the global cumulative count restricted
    * to one bucket differs from the within-bucket rank only by the
    * bucket's own start offset, recovered as min(off) per bucket —
    * a partial-aggregable groupBy over sub-bucket-level rows), so no
    * window task anywhere exceeds max(subWidth, exclusiveOffsets'
    * fanout) rows at ANY corpus size. The one driver-side value is
    * the max-sub-bucket scalar that sizes the composite key.
    */
  def batchByLength(s: SparkSession, dir: String,
      batchSize: Int = 32, subWidth: Long = 1024L): DataFrame = {
    require(subWidth >= 1, s"subWidth must be >= 1, got $subWidth")
    // checkpointed: feeds the key-range scalar, the sub-bucket counts
    // AND the row branch — uncut, the token scan would run three times
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.wsTokenCount(col("text")).as("n_tokens"))
      .withColumn("bucket",
        length(bin(greatest(col("n_tokens"), lit(1L)))).cast("int"))
      .withColumn("sb", expr(s"doc_id DIV ${subWidth}L"))
      .transform(graft.Lineage.cut)
    // one scalar (the composite-key stride); bucket <= 64, so the
    // composite stays in Long range for any doc_id
    val sbMax = toks.agg(coalesce(max(col("sb")), lit(0L)))
      .first().getLong(0) + 1L
    val offs = exclusiveOffsets(
      toks.groupBy("bucket", "sb").agg(count(lit(1)).as("v"))
        .select((col("bucket").cast("long") * sbMax + col("sb")).as("k"),
          col("v")))
      .select(expr(s"k DIV ${sbMax}L").cast("int").as("bucket"),
        expr(s"k % ${sbMax}L").as("sb"), col("off"))
      .transform(graft.Lineage.cut)
    val bucketStart = offs.groupBy("bucket").agg(min(col("off")).as("b0"))
    val offsets = offs.join(bucketStart, "bucket")
      .select(col("bucket"), col("sb"), (col("off") - col("b0")).as("off"))
    val localW = Window.partitionBy("bucket", "sb").orderBy("doc_id")
    toks
      .withColumn("loc", row_number().over(localW).cast("long"))
      .join(offsets, Seq("bucket", "sb"))
      // floor(), not a double→int cast: Spark's cast truncates but
      // DuckDB's ROUNDS — floor is the one spelling both agree on
      .withColumn("batch_id",
        floor((col("off") + col("loc") - 1) / lit(batchSize.toDouble)))
      .groupBy("bucket", "batch_id")
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("padding_waste",
        col("max_tokens") * col("n_docs") - col("sum_tokens"))
      .orderBy("bucket", "batch_id")
  }

  /** D23: leakage-safe GROUPED split — assignment hashes the GROUP
    * key (source/domain), not the doc id, so every doc of a source
    * lands in the same split (scikit-learn's GroupShuffleSplit
    * semantics). This is the split eval hygiene actually requires:
    * near-dups cluster within a source/domain, and a doc-keyed split
    * leaks them across train/test — decontamination (D18) then
    * measures exactly the leak the split built in. Same salted-hash
    * determinism as [[sampleSplit]] (different salt: the group split
    * must not correlate with the doc split on same-named keys), zero
    * shuffle — assignment is a narrow projection even though the
    * UNIT of assignment is the group.
    */
  def sampleSplitGrouped(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .withColumn("hk", hexKey(col("source"), "gsplit:"))
      .select(col("doc_id"), col("source"),
        splitLabel(col("hk")).as("split"))
      .orderBy("doc_id")

  /** D15: exact k-per-stratum deterministic subsample — the k docs
    * with the smallest hash per language, rank included (a stable
    * "take 20 random docs per language" that never over- or
    * under-samples a stratum, unlike Bernoulli sampling).
    *
    * Scale note: one shuffle on the stratum key; a hot stratum is one
    * window task — which is why this WINDOW formulation is the
    * spec-pinned twin, not the registered default:
    * [[sampleStratifiedBounded]] (the bounded top-k partial aggregate)
    * is what `sample_stratified` runs. Kept because at 5–100
    * language-like strata the window is the simpler statement of the
    * semantics and the equality spec pins the two forms together.
    */
  def sampleStratified(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val byHash = Window.partitionBy("lang")
      .orderBy(col("hk"), col("doc_id"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), hexKey(col("doc_id"), "strat:").as("hk"))
      .withColumn("rk", row_number().over(byHash).cast("long"))
      .filter(col("rk") <= k)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy("lang", "rk")
  }

  /** The REGISTERED `sample_stratified` (scale-safe default since
    * round 13): per-stratum take-k via the bounded
    * [[graft.functions.TopKAgg]] aggregator, O(k) state per stratum,
    * so the map-side partial aggregation does the heavy selection and
    * a hot stratum is never one giant window task. Exactly equal to
    * the window formulation (spec-pinned; same oracle): the hash key's
    * 32 bits are exact in a double, and ties break on doc_id in both
    * (TopKAgg orders by (score, id), the window by (hk, doc_id)).
    */
  def sampleStratifiedBounded(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(k))
    Tables.load(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        conv(hexKey(col("doc_id"), "strat:"), 16, 10)
          .cast("long").cast("double").as("hk_num"))
      .groupBy("lang")
      .agg(topk(col("hk_num"), col("doc_id")).as("cand"))
      .select(col("lang"), posexplode(col("cand")).as(Seq("pos", "c")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rk"),
        col("c.id").as("doc_id"))
      .orderBy("lang", "rk")
  }

  /** D16: token-budget context packing — the concat-and-chunk batching
    * of LLM pretraining: documents are laid out in doc_id order and
    * the token stream is cut every `budget` tokens; each doc reports
    * the context it starts in and its offset there (a doc longer than
    * the remaining budget spills into the next context, as in
    * sequence-packing loaders).
    *
    * The global exclusive cumulative token count is computed WITHOUT a
    * single-reducer global window: doc_ids are range-bucketed
    * (id div 4096 — monotone in id, so bucket-local order +
    * bucket offsets compose to the global order), the heavy window
    * runs per bucket, and the cross-bucket offset window runs over
    * one row per bucket (N/4096 rows — trivially small at any scale).
    * Same two-phase shape as the skew-resistant running stats
    * ([[graft.chess.ChessPipeline]]).
    */
  def packContexts(s: SparkSession, dir: String, budget: Long = 2048L): DataFrame =
    packContextsOn(Tables.load(s, dir, "documents"), budget)

  /** [[packContexts]] on an arbitrary (doc_id, text) frame — the seam
    * the sparse-id / forced-recursion equality spec drives.
    */
  def packContextsOn(docs: DataFrame, budget: Long = 2048L,
      fanout: Long = 4096L): DataFrame = {
    // integral DIV for the bucket id too (same exactness rule as the
    // ctx_id below — floor(id/4096.0) happens to stay monotone through
    // double rounding, but the invariant should not rest on that);
    // checkpointed because it feeds BOTH the row branch and the
    // offsets branch of the join below — without materialization the
    // documents scan and the dominant BPE regexp tokenization run
    // twice (the sigsOf self-join lesson, Dedup.scala). Bucketing by
    // id RANGE (doc_id DIV fanout) needs no density: a sparse range
    // makes a bucket SMALLER, never bigger, so the per-bucket window
    // is bounded by `fanout` rows for any id distribution.
    val toks = docs
      .select(col("doc_id"),
        graft.functions.bpeTokenCount(col("text")).as("tokens"),
        expr(s"doc_id DIV ${fanout}L").as("bkt"))
      .transform(graft.Lineage.cut)
    val localW = Window.partitionBy("bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = exclusiveOffsets(
      toks.groupBy("bkt").agg(sum(col("tokens")).as("v"))
        .select(col("bkt").as("k"), col("v")), fanout)
      .select(col("k").as("bkt"), col("off"))
    toks
      .withColumn("loc", coalesce(sum(col("tokens")).over(localW), lit(0L)))
      .join(offsets, "bkt")
      .withColumn("cum", col("loc") + col("off"))
      // integral `div`, not `/`: double division would lose exactness
      // once the cumulative token count passes 2^53
      .select(col("doc_id"), col("tokens"),
        expr(s"cum DIV ${budget}L").as("ctx_id"),
        pmod(col("cum"), lit(budget)).as("ctx_off"))
      .orderBy("doc_id")
  }

  /** D38: token-budget subsample — draw documents in deterministic
    * hash-priority order until the corpus' token budget is consumed
    * (the "give me ~10B tokens of this source" step of training-mix
    * assembly; a Bernoulli rate can only hit a budget in expectation,
    * while a priority prefix hits it exactly and is stable under
    * re-runs and additions outside the prefix). A document straddling
    * the boundary is kept: selection is `cum_before < budget`, so the
    * sample is the shortest priority-prefix reaching the budget.
    *
    * The global running token total in HASH order is computed without
    * a single-reducer window (the [[packContextsOn]] two-phase shape,
    * re-keyed): the first `prefix` hex chars of the priority key form
    * the bucket — a PREFIX of the sort key, so bucket order composes
    * with in-bucket (hk, doc_id) order to the exact global order, and
    * md5 uniformity bounds every bucket at ~n/16^prefix rows with no
    * skewable key (the hash IS the partition key; 2 chars = 256
    * buckets here, 4-5 chars at petabyte scale — a knob, not a
    * structure). Cross-bucket offsets run through the hierarchical
    * [[exclusiveOffsets]] (one row per bucket, never a global window).
    */
  def sampleTokenBudget(s: SparkSession, dir: String,
      budget: Long = 10000L, prefix: Int = 2): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.bpeTokenCount(col("text")).as("n_toks"),
        hexKey(col("doc_id"), "bud:").as("hk"))
      .withColumn("bkt", conv(substring(col("hk"), 1, prefix), 16, 10)
        .cast("long"))
      .transform(graft.Lineage.cut)
    val localW = Window.partitionBy("bkt").orderBy(col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = exclusiveOffsets(
      toks.groupBy("bkt").agg(sum(col("n_toks")).as("v"))
        .select(col("bkt").as("k"), col("v")))
      .select(col("k").as("bkt"), col("off"))
    toks
      .withColumn("loc", coalesce(sum(col("n_toks")).over(localW), lit(0L)))
      .join(offsets, "bkt")
      .withColumn("cum_before", col("loc") + col("off"))
      .filter(col("cum_before") < budget)
      .select(col("doc_id"), col("n_toks"), col("cum_before"))
      .orderBy("doc_id")
  }

  /** D39: training-mix materialization — the step that turns "mix the
    * sources with temperature-α weights under a total token budget"
    * into an actual document list (the Pile/LLaMA-style mixture table
    * made concrete: per-source token budgets b_s = ⌊B · √T_s / Σ √T_s⌋
    * from the sources' own token masses, then each source contributes
    * its shortest hash-priority prefix reaching b_s). Composes the two
    * pinned pieces: [[sampleTemperature]]'s α=0.5 weighting recipe
    * (sqrt is IEEE-exact where pow is not; the weight total folds over
    * the SOURCE-SORTED weight list so both engines add in one order)
    * re-based in token currency, and [[sampleTokenBudget]]'s exact
    * prefix semantics (`cum_before < b_s`: the straddling doc is kept,
    * budgets hit exactly rather than in Bernoulli expectation, stable
    * under re-runs). A source whose weighted share exceeds its own
    * mass is capped at T_s (everything kept; `least`, the D19 rule).
    *
    * Scale shape: per-source token masses are one partial aggregation
    * (#sources rows — broadcast); the running in-source token total
    * uses the hash's own hex prefix as the bucket key exactly as D38 —
    * the in-bucket window partitions by (source, bucket) where the
    * bucket is md5-uniform WITHIN the source (a viral source spreads
    * over all 16^prefix buckets; no skewable window key), and the
    * cross-bucket offset window holds ≤16^prefix ROWS PER SOURCE
    * (bucket-level sums — bounded by construction at any corpus size;
    * raise `prefix` at petabyte scale). No global window, no
    * all-source reducer anywhere.
    */
  def sampleMixture(s: SparkSession, dir: String, budget: Long = 10000L,
      prefix: Int = 2): DataFrame =
    sampleMixtureOn(Tables.load(s, dir, "documents"), budget, prefix)

  /** [[sampleMixture]] on an arbitrary (doc_id, source, text) frame —
    * the seam the equality / straddle / cap specs drive.
    */
  def sampleMixtureOn(docs: DataFrame, budget: Long = 10000L,
      prefix: Int = 2): DataFrame = {
    // checkpointed: feeds the per-source masses, the bucket sums AND
    // the row branch — uncut, the BPE token scan runs three times
    val toks = docs
      .select(col("doc_id"), col("source"),
        graft.functions.bpeTokenCount(col("text")).as("n_toks"),
        hexKey(col("doc_id"), "mix:").as("hk"))
      .withColumn("bkt", conv(substring(col("hk"), 1, prefix), 16, 10)
        .cast("long"))
      .transform(graft.Lineage.cut)
    // cached (#sources rows): consumed by the total fold AND the
    // budget projection (the sampleTemperature lesson)
    val perSource = toks.groupBy("source")
      .agg(sum(col("n_toks")).as("t_s")).transform(graft.Caches.share)
    val tot = perSource
      .agg(aggregate(
        array_sort(collect_list(struct(col("source"),
          sqrt(col("t_s").cast("double")).as("w")))),
        lit(0.0), (acc, x) => acc + x.getField("w")).as("tot"))
    val budgets = perSource.crossJoin(broadcast(tot))
      .select(col("source"),
        least(col("t_s"),
          floor(lit(budget.toDouble) * sqrt(col("t_s").cast("double"))
            / col("tot")).cast("long")).as("b_s"))
    val localW = Window.partitionBy("source", "bkt")
      .orderBy(col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // bucket-level rows only: ≤16^prefix per source regardless of size
    val offW = Window.partitionBy("source").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy("source", "bkt")
      .agg(sum(col("n_toks")).as("v"))
      .withColumn("off", coalesce(sum(col("v")).over(offW), lit(0L)))
      .select(col("source"), col("bkt"), col("off"))
    toks
      .withColumn("loc", coalesce(sum(col("n_toks")).over(localW), lit(0L)))
      .join(offsets, Seq("source", "bkt"))
      .withColumn("cum_before", col("loc") + col("off"))
      .join(broadcast(budgets), "source")
      .filter(col("cum_before") < col("b_s"))
      .select(col("doc_id"), col("source"), col("n_toks"), col("cum_before"))
      .orderBy("doc_id")
  }

  /** D55: UniMax per-language token allocation (Chung et al., ICLR
    * 2023 — "UniMax: Fairer and More Effective Language Sampling for
    * Large-Scale Multilingual Pretraining"): instead of temperature
    * weights (D19/D39, which still over-sample head languages and
    * over-EPOCH tail ones), waterfill the token budget across
    * languages in ascending-size order with a hard per-language epoch
    * cap — each language gets min(fair share of the remaining budget,
    * `epochs` passes over its own corpus), and whatever a capped tail
    * language cannot absorb flows to the larger languages after it.
    * Integer-exact formulation (paper's Algorithm 1 with integer
    * division): process languages sorted by (t_l, lang); with budget
    * remainder R and m languages left, b_l = min(R div m, epochs·t_l),
    * R -= b_l. Output materializes each language's shortest
    * hash-priority token prefix reaching b_l (the D38 `cum_before <
    * b_l` straddle-keeping rule), so the result is an actual training
    * set, not just a quota table.
    *
    * Scale shape: the waterfill itself is an in-group sorted fold over
    * #languages structs (the sampleTemperature weight-fold convention
    * — bounded by the language catalog, never a driver loop); budgets
    * broadcast back; the per-language running token total is the D39
    * hash-prefix bucketed form — the local window partitions by
    * (lang, bkt) with md5-uniform bkt (a viral language spreads over
    * all 16^prefix buckets), cross-bucket offsets are bucket-level
    * rows bounded by 16^prefix per language. No skewable window key,
    * no global reducer.
    */
  def sampleUnimax(s: SparkSession, dir: String, budget: Long = 20000L,
      epochs: Long = 1L, prefix: Int = 2): DataFrame =
    sampleUnimaxOn(Tables.load(s, dir, "documents"), budget, epochs, prefix)

  /** [[sampleUnimax]] on an arbitrary (doc_id, lang, text) frame — the
    * seam the closed-form waterfill / cap / plan-guard specs drive.
    */
  def sampleUnimaxOn(docs: DataFrame, budget: Long = 20000L,
      epochs: Long = 1L, prefix: Int = 2): DataFrame = {
    require(budget >= 0 && epochs >= 1, s"budget=$budget epochs=$epochs")
    // checkpointed: feeds the per-language masses, the bucket sums AND
    // the row branch — uncut, the BPE token scan runs three times
    val toks = docs
      .select(col("doc_id"), col("lang"),
        graft.functions.bpeTokenCount(col("text")).as("n_toks"),
        hexKey(col("doc_id"), "umax:").as("hk"))
      .withColumn("bkt", conv(substring(col("hk"), 1, prefix), 16, 10)
        .cast("long"))
      .transform(graft.Lineage.cut)
    // the waterfill: ONE aggregation row holding the (t_l, lang)-sorted
    // language list, folded left to right carrying the remainder — the
    // sequential dependence UniMax requires, with bounded state
    // (#languages structs; the same in-group fold sampleTemperature
    // uses for its order-dependent weight total)
    val allocs = toks.groupBy("lang").agg(sum(col("n_toks")).as("t_l"))
      .agg(array_sort(collect_list(struct(col("t_l"), col("lang")))).as("ls"))
      .select(explode(expr(
        s"""aggregate(ls,
           |  named_struct(
           |    'r', ${budget}L,
           |    'out', cast(array() as array<struct<lang:string,b_l:bigint>>)),
           |  (acc, x) -> named_struct(
           |    'r', acc.r - least(acc.r div (size(ls) - size(acc.out)),
           |                       ${epochs}L * x.t_l),
           |    'out', acc.out || array(named_struct('lang', x.lang,
           |      'b_l', least(acc.r div (size(ls) - size(acc.out)),
           |                   ${epochs}L * x.t_l)))),
           |  acc -> acc.out)""".stripMargin)).as("e"))
      .select(col("e.lang").as("lang"), col("e.b_l").as("b_l"))
    // per-language running token total in hash order: the D39 shape
    // re-keyed to lang — the local window is bounded by the
    // md5-uniform sub-key, and the cross-bucket offsets use the
    // sampleTemperature in-group sorted FOLD (≤16^prefix structs per
    // language — bounded at any corpus size, and no lang-only window
    // partition anywhere in the plan, so the SamplingSkewSpec guard
    // applies verbatim)
    val localW = Window.partitionBy("lang", "bkt")
      .orderBy(col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy("lang", "bkt")
      .agg(sum(col("n_toks")).as("v"))
      .groupBy("lang")
      .agg(array_sort(collect_list(struct(col("bkt"), col("v")))).as("a"))
      .select(col("lang"), explode(expr(
        """aggregate(a,
          |  named_struct(
          |    'r', cast(array() as array<struct<bkt:bigint,off:bigint>>),
          |    't', 0L),
          |  (acc, x) -> named_struct(
          |    'r', acc.r || array(named_struct('bkt', x.bkt, 'off', acc.t)),
          |    't', acc.t + x.v),
          |  acc -> acc.r)""".stripMargin)).as("o"))
      .select(col("lang"), col("o.bkt").as("bkt"), col("o.off").as("off"))
    toks
      .withColumn("loc", coalesce(sum(col("n_toks")).over(localW), lit(0L)))
      .join(offsets, Seq("lang", "bkt"))
      .withColumn("cum_before", col("loc") + col("off"))
      .join(broadcast(allocs), "lang")
      .filter(col("cum_before") < col("b_l"))
      .select(col("doc_id"), col("lang"), col("n_toks"), col("cum_before"))
      .orderBy("doc_id")
  }

  /** Exclusive prefix sums over one (k, v) row per distinct key,
    * computed HIERARCHICALLY: level j windows partition by
    * `k DIV fanout^(j+1)` and order by the level-j key, so no window
    * task ever buffers more than `fanout` rows no matter the corpus
    * size (the round-4 formulation ran the cross-bucket window on one
    * global reducer — fine to ~1e9 docs, 2.4e8 rows through one task
    * at 1e12). Recursion depth is log_fanout(keys): the driver reads
    * ONE count scalar per level (like the connected-components round
    * counter), ~3 tiny jobs at 1e12 docs. Returns (k, off) where off =
    * Σ v over all keys < k. Works for arbitrarily sparse keys — range
    * grouping bounds group size from above regardless of density.
    */
  private[ops] def exclusiveOffsets(perKey: DataFrame,
      fanout: Long = 4096L): DataFrame = {
    require(fanout >= 2, s"fanout must be >= 2, got $fanout")
    // checkpoint each level: its frame is consumed by the
    // super-grouping AND the offsets join — without materialization
    // every deeper level would re-run the whole chain below it once
    // per consumer (each level is ~1/fanout the previous one's size,
    // so the materialization cost telescopes). The counted cut hands
    // back the level's key count its persist already computed.
    val (pk, keys) = graft.Lineage.cutCounted(perKey)
    if (keys <= fanout) {
      // at most `fanout` rows remain: explicit single-slice running
      // sum via a typed mapPartitions over the sorted rows — the same
      // execution shape an unpartitioned window would use, WITHOUT
      // WindowExec's single-partition warning flooding every bench /
      // ingest log (the boundedness is by construction here, and a
      // constant partition key does not silence it — foldable keys
      // are optimized out of the partition spec before execution)
      import pk.sparkSession.implicits._
      pk.select(col("k").cast("long"), col("v").cast("long"))
        .toDF("_1", "_2").as[(Long, Long)]
        .coalesce(1).sortWithinPartitions("_1")
        .mapPartitions { it =>
          var run = 0L
          it.map { case (key, v) => val off = run; run += v; (key, off) }
        }
        .toDF("k", "off")
    } else {
      val withSuper = pk.withColumn("sk", expr(s"k DIV ${fanout}L"))
      val localW = Window.partitionBy("sk").orderBy("k")
        .rowsBetween(Window.unboundedPreceding, -1)
      val superOff = exclusiveOffsets(
        withSuper.groupBy("sk").agg(sum(col("v")).as("v"))
          .select(col("sk").as("k"), col("v")), fanout)
        .select(col("k").as("sk"), col("off").as("sup_off"))
      withSuper
        .withColumn("loc", coalesce(sum(col("v")).over(localW), lit(0L)))
        .join(superOff, "sk")
        .select(col("k"), (col("loc") + col("sup_off")).as("off"))
    }
  }

  /** D18: train/test contamination — for every train-split document,
    * how many of its distinct word-3-gram shingles appear anywhere in
    * the test split (decontamination: such docs leak evaluation data
    * into training and get dropped or cleaned). Reuses [[Dedup]]'s
    * shingle ids and THIS module's deterministic split, so the check
    * is a pure function of the corpus.
    *
    * Scale shape: the test split is the small side by construction
    * (~10%); its DISTINCT shingle set is broadcast and the train side
    * probes it map-side — one partial-aggregated count per
    * contaminated doc, no shuffle of the exploded train corpus.
    * For test splits too big to broadcast, drop the hint and the same
    * plan becomes a shuffle join on the shingle id.
    */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables.load(s, dir, "documents")
      .withColumn("hk", hexKey(col("doc_id"), "split:"))
      .select(col("doc_id"),
        splitLabel(col("hk")).as("split"),
        Dedup.shingles(col("text")).as("sh"))
    val testSh = sh.filter(col("split") === "test")
      .select(explode(col("sh")).as("g")).distinct()
    sh.filter(col("split") === "train")
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .join(broadcast(testSh), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
      .orderBy("doc_id")
  }

  /** D59: decontamination VERDICT — the drop rule on top of D18's
    * collision counts (PaLM, Chowdhery et al. 2022 §6: a training doc
    * is contaminated when ≥70% of its n-grams also appear in an
    * evaluation set; GPT-3 App. C applies the same shape at 13-gram
    * exactness). Emits EVERY train doc with its distinct-shingle
    * count, eval-collision count, 6dp overlap fraction and the `drop`
    * flag — decided by the integer cross-multiplication
    * `den·n_common ≥ num·n_shingles` (never a float threshold to
    * diverge between engines). Docs too short to shingle cannot be
    * contaminated: frac 0, drop false.
    *
    * Scale shape adds nothing to D18: the eval shingle set broadcasts,
    * the train side probes it map-side, one partial-aggregated count
    * per doc, and the verdict join keys on doc_id (unique —
    * unskewable).
    */
  def contaminationVerdict(s: SparkSession, dir: String,
      num: Int = 7, den: Int = 10): DataFrame = {
    val sh = Tables.load(s, dir, "documents")
      .withColumn("hk", hexKey(col("doc_id"), "split:"))
      .select(col("doc_id"),
        splitLabel(col("hk")).as("split"),
        Dedup.shingles(col("text")).as("sh"))
      .transform(graft.Lineage.cut) // feeds the eval set AND the train side
    val testSh = sh.filter(col("split") === "test")
      .select(explode(col("sh")).as("g")).distinct()
    verdictCore(sh.filter(col("split") === "train")
      .select(col("doc_id"), col("sh")), testSh, num, den)
  }

  /** [[contaminationVerdict]] on explicit train/eval document frames —
    * the seam the E12 streaming decontamination gate
    * ([[graft.streaming.TextStreams.decontamGateStream]]) and its
    * stream==batch spec drive: the eval set is whatever corpus the
    * caller froze, not a hash-derived split of one table.
    */
  def contaminationVerdictOn(trainDocs: DataFrame, evalDocs: DataFrame,
      num: Int = 7, den: Int = 10): DataFrame =
    verdictCore(
      trainDocs.select(col("doc_id"), Dedup.shingles(col("text")).as("sh")),
      evalDocs.select(explode(Dedup.shingles(col("text"))).as("g")).distinct(),
      num, den)

  /** The verdict tail both entry points share: `train` = (doc_id, sh),
    * `testSh` = the DISTINCT eval shingle set (broadcast — the
    * streaming gate computes it ONCE and feeds every micro-batch the
    * same cached frame).
    */
  private[graft] def verdictCore(trainSh: DataFrame, testSh: DataFrame,
      num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0, s"threshold $num/$den")
    val train = trainSh
      .select(col("doc_id"), col("sh"),
        size(col("sh")).cast("long").as("n_shingles"))
      .transform(graft.Lineage.cut) // feeds the probe AND the verdict join
    val common = train
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .join(broadcast(testSh), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
    train.select(col("doc_id"), col("n_shingles"))
      .join(common, Seq("doc_id"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .select(col("doc_id"), col("n_shingles"), col("n_common"),
        when(col("n_shingles") > 0,
          round(col("n_common").cast("double") / col("n_shingles"), 6))
          .otherwise(lit(0.0)).as("frac"),
        (col("n_shingles") > 0 &&
          col("n_common") * den >= col("n_shingles") * num).as("drop"))
      .orderBy("doc_id")
  }

  /** D19: temperature-based language rebalancing (the mT5/multilingual
    * data-mixing stage, Xue et al. 2021 §3.1): sample languages with
    * probability ∝ p_l^α (α < 1 upsamples low-resource languages
    * relative to their natural share), materialized deterministically —
    * per-language budgets k_l = ⌊budget · n_l^α / Σ n_l^α⌋ (n_l^α
    * renormalized IS p_l^α renormalized), then the k_l smallest-hash
    * docs per language, the [[sampleStratified]] selection rule with a
    * computed k per stratum.
    *
    * Cross-engine exactness: α = 0.5 computes weights with `sqrt`
    * (IEEE-exact in both engines, unlike `pow`), and the weight-sum
    * folds over the LANG-SORTED weight list so both engines add in the
    * same order — float addition is not associative, and a grouped
    * SUM() leaves the order to the engine. Scale shape: counts and
    * budgets are #languages rows (driver-free, broadcast); the
    * selection is the one stratified-sample shuffle — and the
    * per-language rank is NOT a lang-partitioned window (a real crawl
    * is ~half one language: at 100× that window serializes half the
    * corpus into one unsplittable task). Instead, the D38 hash-prefix
    * bucket shape: `bkt` = the first `prefix` hex chars of the rank
    * key — a PREFIX of the sort key, so bucket order composes with
    * in-bucket (hk, doc_id) order to the exact per-language order,
    * and md5 uniformity spreads a viral language over all 16^prefix
    * buckets (the window partitions by (lang, bkt): partition size
    * ~n_l/16^prefix with no skewable key; raise `prefix` at petabyte
    * scale). Cross-bucket rank offsets need no window at all: the
    * per-(lang, bkt) counts are ≤16^prefix rows per language BY
    * CONSTRUCTION, so an in-group sorted fold (`aggregate` over the
    * bucket-sorted count list) emits each bucket's exclusive prefix
    * count with bounded state — rank = bucket offset + in-bucket
    * row_number, bit-identical to the old lang window's rank.
    */
  def sampleTemperature(s: SparkSession, dir: String, budget: Long = 250L,
      alpha: Double = 0.5, prefix: Int = 2): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    // cached (#languages rows): it feeds BOTH the total fold and the
    // per-language budgets — uncached, each side would re-run the full
    // corpus aggregation beneath it (the withProportion lesson, Eda)
    val weighted = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
      .withColumn("w",
        if (alpha == 0.5) sqrt(col("n_l").cast("double"))
        else pow(col("n_l").cast("double"), lit(alpha)))
      .transform(graft.Caches.share)
    val tot = weighted
      .agg(aggregate(array_sort(collect_list(struct(col("lang"), col("w")))),
        lit(0.0), (acc, x) => acc + x.getField("w")).as("tot"))
    val budgets = weighted.crossJoin(broadcast(tot))
      .select(col("lang"),
        least(col("n_l"),
          floor(lit(budget.toDouble) * col("w") / col("tot")).cast("long")).as("k_l"))
    // checkpointed: feeds both the bucket counts and the row branch
    val keyed = docs
      .select(col("doc_id"), col("lang"), hexKey(col("doc_id"), "temp:").as("hk"))
      .withColumn("bkt", conv(substring(col("hk"), 1, prefix), 16, 10)
        .cast("long"))
      .transform(graft.Lineage.cut)
    // exclusive per-language bucket offsets via a bounded sorted fold
    // (≤16^prefix structs per language — bounded at ANY corpus size);
    // array_sort on (bkt, cnt) structs orders by bkt, which is unique
    // within the group
    val offsets = keyed.groupBy("lang", "bkt").agg(count(lit(1)).as("cnt"))
      .groupBy("lang")
      .agg(array_sort(collect_list(struct(col("bkt"), col("cnt")))).as("a"))
      .select(col("lang"), explode(expr(
        """aggregate(a,
          |  named_struct(
          |    'r', cast(array() as array<struct<bkt:bigint,off:bigint>>),
          |    't', 0L),
          |  (acc, x) -> named_struct(
          |    'r', acc.r || array(named_struct('bkt', x.bkt, 'off', acc.t)),
          |    't', acc.t + x.cnt),
          |  acc -> acc.r)""".stripMargin)).as("o"))
      .select(col("lang"), col("o.bkt").as("bkt"), col("o.off").as("off"))
    val localW = Window.partitionBy("lang", "bkt")
      .orderBy(col("hk"), col("doc_id"))
    keyed
      .withColumn("loc", row_number().over(localW).cast("long"))
      .join(offsets, Seq("lang", "bkt"))
      .withColumn("rk", col("off") + col("loc"))
      .join(broadcast(budgets), "lang")
      .filter(col("rk") <= col("k_l"))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** D30: deterministic sharded-export manifest — the "cut the corpus
    * into dataloader shards" step at the end of a curation pipeline
    * (WebDataset/Megatron-style: training jobs read shard files, so
    * the engine must assign every document to exactly one of N shards
    * reproducibly and report what each shard holds). Shard identity is
    * the first hex nibble of a salted md5 (16 shards, uniform, pure
    * function of doc_id — same determinism contract as D14's split:
    * identical across cluster sizes, retries and engines). The
    * manifest is what a loader needs for planning: document count,
    * whitespace-token count (the batch-budget currency), byte volume,
    * and the doc_id range per shard.
    *
    * Scale shape: one narrow projection + one 16-group partial
    * aggregation — no full-corpus shuffle at any scale (the rows that
    * move are 16 × #map-tasks partials). The physical write
    * ([[writeShards]]) adds one hash exchange on the shard key so
    * each shard lands as one contiguous file set.
    */
  def exportShards(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .withColumn("shard",
        (expr("locate(substr(md5(concat('shard:', cast(doc_id as string))), 1, 1)," +
          " '0123456789abcdef')") - 1).cast("int"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(graft.functions.wsTokenCount(col("text"))).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("shard")

  /** The physical export behind the [[exportShards]] manifest: one
    * hash exchange on the shard key, docs sorted by their shuffle rank
    * (salted-hash order — a deterministic global shuffle, so the
    * training loader reads an order decorrelated from ingest order),
    * written as `shard=N/` parquet. Returns the manifest recomputed
    * FROM THE WRITTEN FILES, so a caller (and ExportShardsSpec) can
    * assert write-vs-plan equality.
    */
  def writeShards(s: SparkSession, dir: String, out: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .withColumn("shard",
        (expr("locate(substr(md5(concat('shard:', cast(doc_id as string))), 1, 1)," +
          " '0123456789abcdef')") - 1).cast("int"))
      .withColumn("pos", hexKey(col("doc_id"), "order:"))
    docs.repartition(16, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"), col("doc_id"))
      .write.mode("overwrite").partitionBy("shard").parquet(out)
    s.read.parquet(out)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(graft.functions.wsTokenCount(col("text"))).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("shard")
  }

  private def tokensSql =
    raw"""CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)"""

  private def stratifiedOracle =
    """WITH r AS (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk
      |  FROM documents)
      |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id
      |FROM r WHERE rk <= 20 ORDER BY lang, rk""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("sample_split", (s, d) => sampleSplit(s, d), Some(
      """SELECT doc_id, lang,
        |  CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
        |       WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // length(bin(x)) == floor(log2 x)+1 in both engines (binary-string
    // length, integer-exact); floor() for the batch slice, never a
    // double→int cast (Spark truncates, DuckDB rounds)
    Q("batch_by_length", (s, d) => batchByLength(s, d), Some(
      raw"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(length(bin(greatest(n_tokens, 1))) AS INTEGER) AS bucket
        |  FROM t),
        |r AS (
        |  SELECT bucket, n_tokens,
        |    CAST(floor((row_number() OVER (PARTITION BY bucket
        |                                   ORDER BY doc_id) - 1) / 32.0)
        |         AS BIGINT) AS batch_id
        |  FROM b)
        |SELECT bucket, batch_id,
        |  count(*) AS n_docs,
        |  max(n_tokens) AS max_tokens,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  max(n_tokens) * count(*) - CAST(sum(n_tokens) AS BIGINT) AS padding_waste
        |FROM r GROUP BY bucket, batch_id
        |ORDER BY bucket, batch_id""".stripMargin)),
    Q("sample_split_grouped", (s, d) => sampleSplitGrouped(s, d), Some(
      """SELECT doc_id, source,
        |  CASE WHEN substr(md5('gsplit:' || source), 1, 8) < 'cccccccc' THEN 'train'
        |       WHEN substr(md5('gsplit:' || source), 1, 8) < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // the oracle's one global window is fine ORACLE-side (DuckDB,
    // 500-500k rows); the engine side is the two-phase bucketed form.
    // SUM casts back to BIGINT (the export_shards HUGEINT caveat)
    Q("sample_token_budget", (s, d) => sampleTokenBudget(s, d), Some(
      s"""WITH t AS (
        |  SELECT doc_id, $tokensSql AS n_toks,
        |    substr(md5('bud:' || CAST(doc_id AS VARCHAR)), 1, 8) AS hk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_toks,
        |    COALESCE(SUM(n_toks) OVER (ORDER BY hk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM t)
        |SELECT doc_id, n_toks, CAST(cb AS BIGINT) AS cum_before
        |FROM c WHERE cb < 10000 ORDER BY doc_id""".stripMargin)),
    // same cross-engine contracts as its two parents: sqrt weights +
    // source-ordered fold (sample_temperature) and the per-source
    // single-window oracle standing in for the bucketed two-phase
    // engine form (sample_token_budget); SUMs cast back to BIGINT
    Q("sample_mixture", (s, d) => sampleMixture(s, d), Some(
      s"""WITH t AS (
        |  SELECT doc_id, source, $tokensSql AS n_toks,
        |    substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS hk
        |  FROM documents),
        |c AS (
        |  SELECT source, CAST(sum(n_toks) AS BIGINT) AS t_s
        |  FROM t GROUP BY source),
        |s AS (
        |  SELECT list_reduce(list(sqrt(CAST(t_s AS DOUBLE)) ORDER BY source),
        |                     (a, b) -> a + b) AS tot FROM c),
        |k AS (
        |  SELECT source, least(t_s,
        |    CAST(floor(10000 * sqrt(CAST(t_s AS DOUBLE)) / s.tot) AS BIGINT)) AS b_s
        |  FROM c, s),
        |cum AS (
        |  SELECT doc_id, source, n_toks,
        |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY hk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM t)
        |SELECT doc_id, source, n_toks, CAST(cb AS BIGINT) AS cum_before
        |FROM cum JOIN k USING (source) WHERE cb < b_s
        |ORDER BY doc_id""".stripMargin)),
    // the waterfill's sequential remainder carry is a recursive CTE
    // stepping through languages in the same ascending (t_l, lang)
    // order the engine's sorted fold uses; `//` = Spark's `div`
    // (both integer division on BIGINT). The per-language single
    // window stands in for the bucketed two-phase engine form, the
    // sample_token_budget convention
    Q("sample_unimax", (s, d) => sampleUnimax(s, d), Some(
      s"""WITH RECURSIVE t AS (
        |  SELECT doc_id, lang, $tokensSql AS n_toks,
        |    substr(md5('umax:' || CAST(doc_id AS VARCHAR)), 1, 8) AS hk
        |  FROM documents),
        |c AS (
        |  SELECT lang, CAST(sum(n_toks) AS BIGINT) AS t_l,
        |    CAST(row_number() OVER (ORDER BY sum(n_toks), lang) AS BIGINT) AS i,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM t GROUP BY lang),
        |w AS (
        |  SELECT CAST(0 AS BIGINT) AS i, CAST(20000 AS BIGINT) AS r,
        |         CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS b_l
        |  UNION ALL
        |  SELECT c.i, w.r - least(w.r // (c.n - w.i), 1 * c.t_l),
        |         c.lang, least(w.r // (c.n - w.i), 1 * c.t_l)
        |  FROM w JOIN c ON c.i = w.i + 1),
        |k AS (SELECT lang, b_l FROM w WHERE lang IS NOT NULL),
        |cum AS (
        |  SELECT doc_id, lang, n_toks,
        |    COALESCE(SUM(n_toks) OVER (PARTITION BY lang ORDER BY hk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM t)
        |SELECT doc_id, lang, n_toks, CAST(cb AS BIGINT) AS cum_before
        |FROM cum JOIN k USING (lang) WHERE cb < b_l
        |ORDER BY doc_id""".stripMargin)),
    // the bounded TopKAgg form is the REGISTERED primary (scale-safe
    // under a hot stratum: O(k) state, map-side partial selection); the
    // window formulation stays as the spec-pinned twin — two physical
    // strategies, one semantic, one shared oracle
    Q("sample_stratified", (s, d) => sampleStratifiedBounded(s, d), Some(
      stratifiedOracle)),
    Q("sample_stratified_window", (s, d) => sampleStratified(s, d), Some(
      stratifiedOracle)),
    // shingle-id == string-3-gram equivalence is the same 64-bit
    // collision budget dedup_jaccard's oracle already relies on; both
    // sides' per-doc shingles and the test union are distinct, so the
    // join counts each common shingle exactly once
    Q("contamination", contamination, Some(
      raw"""WITH sets AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, len(string_split_regex(text, '\s+')) - 1),
        |           i -> string_split_regex(text, '\s+')[i] || ' ' ||
        |                string_split_regex(text, '\s+')[i+1] || ' ' ||
        |                string_split_regex(text, '\s+')[i+2])) AS sh
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
        |         WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |test_sh AS (
        |  SELECT DISTINCT unnest(sh) AS g
        |  FROM sets JOIN sp USING (doc_id) WHERE split = 'test'),
        |train_g AS (
        |  SELECT doc_id, unnest(sh) AS g
        |  FROM sets JOIN sp USING (doc_id) WHERE split = 'train')
        |SELECT doc_id, count(*) AS n_common
        |FROM train_g JOIN test_sh USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // D18's CTEs + the verdict projection; the drop rule is integer
    // cross-multiplication in both engines, "drop" quoted (reserved)
    Q("contamination_verdict", (s, d) => contaminationVerdict(s, d), Some(
      raw"""WITH sets AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, len(string_split_regex(text, '\s+')) - 1),
        |           i -> string_split_regex(text, '\s+')[i] || ' ' ||
        |                string_split_regex(text, '\s+')[i+1] || ' ' ||
        |                string_split_regex(text, '\s+')[i+2])) AS sh
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
        |         WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |test_sh AS (
        |  SELECT DISTINCT unnest(sh) AS g
        |  FROM sets JOIN sp USING (doc_id) WHERE split = 'test'),
        |tr AS (
        |  SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles, sh
        |  FROM sets JOIN sp USING (doc_id) WHERE split = 'train'),
        |cm AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_common
        |  FROM (SELECT doc_id, unnest(sh) AS g FROM tr) t
        |  JOIN test_sh USING (g) GROUP BY doc_id)
        |SELECT tr.doc_id, tr.n_shingles,
        |  COALESCE(cm.n_common, CAST(0 AS BIGINT)) AS n_common,
        |  CASE WHEN tr.n_shingles > 0
        |       THEN round(CAST(COALESCE(cm.n_common, 0) AS DOUBLE) / tr.n_shingles, 6)
        |       ELSE CAST(0 AS DOUBLE) END AS frac,
        |  (tr.n_shingles > 0 AND
        |   COALESCE(cm.n_common, 0) * 10 >= tr.n_shingles * 7) AS "drop"
        |FROM tr LEFT JOIN cm USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    // list_reduce over the lang-ORDERED weight list = Spark's fold
    // over the lang-sorted collect_list: both engines sum the weights
    // left to right in the same order (see sampleTemperature scaladoc)
    Q("sample_temperature", (s, d) => sampleTemperature(s, d), Some(
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_l FROM documents GROUP BY lang),
        |s AS (
        |  SELECT list_reduce(list(sqrt(CAST(n_l AS DOUBLE)) ORDER BY lang),
        |                     (a, b) -> a + b) AS tot FROM c),
        |k AS (
        |  SELECT lang, least(n_l,
        |           CAST(floor(250 * sqrt(CAST(n_l AS DOUBLE)) / s.tot) AS BIGINT)) AS k_l
        |  FROM c, s),
        |r AS (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 8),
        |                    doc_id) AS rk
        |  FROM documents)
        |SELECT r.doc_id, r.lang
        |FROM r JOIN k USING (lang) WHERE rk <= k_l ORDER BY doc_id""".stripMargin)),
    Q("pack_contexts", (s, d) => packContexts(s, d), Some(
      s"""WITH t AS (
        |  SELECT doc_id, $tokensSql AS tokens FROM documents),
        |c AS (
        |  SELECT doc_id, tokens,
        |    COALESCE(SUM(tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM t)
        |SELECT doc_id, tokens,
        |  CAST(cb // 2048 AS BIGINT) AS ctx_id,
        |  CAST(cb % 2048 AS BIGINT) AS ctx_off
        |FROM c ORDER BY doc_id""".stripMargin)),
    // shard nibble via strpos/locate over the same hex alphabet (both
    // 1-based, both exact); SUMs cast back to BIGINT — DuckDB widens
    // BIGINT sums to HUGEINT, which would stringify identically but
    // schema-mismatch against Spark's long
    Q("export_shards", (s, d) => exportShards(s, d), Some(
      raw"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(strpos('0123456789abcdef',
        |      substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1
        |      AS INTEGER) AS shard,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS toks,
        |    CAST(length(text) AS BIGINT) AS nc
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(nc) AS BIGINT) AS n_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM t GROUP BY shard ORDER BY shard""".stripMargin))
  )
}
