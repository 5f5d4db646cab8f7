package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-proof exact-duplicate collapse — the shared front-end of the
  * dedup/text family (SURVEY §4 invariant: "pairwise stages run on
  * unique sets").
  *
  * The keep-first rule ("rep = smallest doc_id among exact copies")
  * was originally written as `min(doc_id) OVER (PARTITION BY digest)`.
  * That window is a structural scale-killer on the exact skew profile
  * the operators exist for: a window partition cannot be split, so a
  * viral document (10⁸ copies of a boilerplate page in a crawl) puts
  * EVERY copy into one WindowExec task, which sorts and scans them
  * serially — and AQE's skew handling does not apply to windows.
  *
  * The same rule as an aggregation has neither problem:
  *  - [[reps]] computes `groupBy(digest).agg(min(doc_id), …)`. Partial
  *    map-side aggregation collapses a hot digest to ONE row per map
  *    task before the exchange — the reducer for the viral key merges
  *    one row per mapper, not 10⁸ rows. Payload columns ride along via
  *    `min_by(payload, doc_id)` (bit-identical to the window
  *    formulation's rep-row filter, and deterministic because doc_ids
  *    are unique), with O(1 row) aggregation state per key.
  *  - [[docToRep]] joins every (doc_id, digest) row back to its
  *    digest's rep row. A skewed shuffle join IS splittable — AQE's
  *    OptimizeSkewedJoin carves the hot key's partition into chunks
  *    and replicates the single matching rep row to each.
  *
  * CollapseSkewSpec pins the family's plans free of WindowExec and
  * bounds the straggler ratio this buys on a 1e6-copy viral corpus
  * and a 1e6-copy viral batch.
  */
private[graft] object Collapse {

  /** Null-safe 128-bit content digest: md5 of the text bytes, with a
    * length-distinct sentinel for NULL texts (md5 hex is always 32
    * chars, the sentinel is not) so null texts still collapse together
    * AND survive the equi-join back — a bare null key would silently
    * drop them, where the window this replaces partitioned them as a
    * group.
    */
  def textKey(text: Column): Column =
    coalesce(md5(text.cast("binary")), lit("<null-text>"))

  /** One row per distinct `key`: `rep` = min(`idCol`), optional group
    * count, optional payload columns carried from the rep row
    * (min_by), optional caller aggregates (`extraAggs` — e.g. DSIR's
    * conditional copy counts; must themselves be partial-aggregable
    * built-ins to keep the hot-key collapse map-side). Aggregation
    * state per key is one row regardless of how many copies a digest
    * has; partial aggregation collapses hot keys map-side.
    */
  def reps(proj: DataFrame, key: String, countAs: Option[String] = None,
      payloads: Seq[String] = Nil, idCol: String = "doc_id",
      extraAggs: Seq[Column] = Nil): DataFrame = {
    val aggs = payloads.map(p => min_by(col(p), col(idCol)).as(p)) ++
      countAs.map(c => count(lit(1)).as(c)) ++ extraAggs
    if (aggs.isEmpty)
      proj.groupBy(col(key)).agg(min(col(idCol)).as("rep"))
    else
      proj.groupBy(col(key)).agg(min(col(idCol)).as("rep"), aggs: _*)
  }

  /** The doc→rep map: every (`idCol`, `key`) row joined back to its
    * digest's rep (plus `extra` columns from the reps side, e.g. the
    * group count). The join-back is the AQE-splittable half of the
    * collapse; only (id, digest) crosses the exchange — payloads never
    * ride it.
    */
  def docToRep(proj: DataFrame, repsDf: DataFrame, key: String,
      extra: Seq[String] = Nil, idCol: String = "doc_id"): DataFrame =
    proj.select(col(idCol), col(key))
      .join(repsDf.select(col(key) +: col("rep") +: extra.map(col): _*), key)
      .select(col(idCol) +: col("rep") +: extra.map(col): _*)
}
