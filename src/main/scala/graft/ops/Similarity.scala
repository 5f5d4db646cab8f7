package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.cosine

/** Similarity search over an embedding column (SURVEY §2.D6–D7):
  * brute-force cosine top-k as the exact baseline, and a sign-random-
  * projection (SRP) LSH-bucketed variant with multi-probe as the scale
  * path.
  *
  * Scale design (100 TB corpus, ~1e3 queries):
  *  - the query set is always the broadcast side; the corpus is never
  *    shuffled for candidate generation (scoring is map-side);
  *  - per-query top-k is the bounded [[graft.functions.TopKAgg]]
  *    typed Aggregator: O(k) state per group, so Spark's partial
  *    aggregation does the map-side top-k and the shuffle carries at
  *    most k candidates per (partition, query). No global sort, no
  *    unbounded collect_list buffers;
  *  - SRP hyperplanes are deterministic (component sign p,i =
  *    murmur3(p, i) parity) so buckets are reproducible across runs
  *    and cluster sizes;
  *  - signatures are computed by the native one-pass
  *    [[graft.functions.SrpSig]] expression — a row-local projection,
  *    ZERO shuffle (the posexplode + partial-aggregated groupBy it
  *    replaced shuffled the exploded corpus; and the naive HOF
  *    formulation before that hit the CollapseProject recompute
  *    blowup — measured 85s vs 3s — which a single opaque native
  *    expression is immune to). The explode formulations are kept
  *    below as spec oracles ([[srpBucketsSql]]/[[srpTableBucketsSql]],
  *    bit-equality pinned in NativeExprFuzzSpec);
  *  - multi-probe flips each single signature bit ON THE QUERY SIDE
  *    only: the corpus is bucketed once, queries explode
  *    ×(planes+1) — the small side pays the fan-out.
  */
object Similarity {

  /** (id, bucket) for every row of `df`: SRP bucket bit p = sign of
    * Σ_i vec[i] * r(p,i), r(p,i) = ±1 by murmur3(p,i) parity. A narrow
    * projection via the native [[graft.functions.SrpSig]] — no shuffle.
    */
  def srpBuckets(df: DataFrame, id: String, vec: String, planes: Int): DataFrame =
    df.select(col(id),
      element_at(graft.functions.srpSig(col(vec), planes, 1), 1).as("bucket"))

  /** The posexplode + groupBy formulation [[srpBuckets]] replaced —
    * kept as the fuzz-spec oracle. Docs with EMPTY vectors vanish here
    * (no exploded rows) but get bucket 0 from the native expression.
    */
  private[ops] def srpBucketsSql(df: DataFrame, id: String, vec: String,
      planes: Int): DataFrame = {
    val comp = df.select(col(id), posexplode(col(vec)).as(Seq("i", "x")))
    val signed = (0 until planes).map { p =>
      sum(when(hash(lit(p), col("i")).bitwiseAND(lit(1)) === 1, col("x"))
        .otherwise(-col("x"))).as(s"proj$p")
    }
    comp.groupBy(col(id))
      .agg(signed.head, signed.tail: _*)
      .select(col(id),
        (0 until planes).map(p =>
          when(col(s"proj$p") > 0, lit(1L << p)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("bucket"))
  }

  private val K = 5          // neighbors per query
  private val NQueries = 8   // vec_id < NQueries form the query set

  // spread: the embeddings file is single-row-group small, and every
  // consumer's first stage is row-local k-fold cosine work (see
  // Tables.spread — no-op on a well-partitioned cluster read)
  private def corpus(s: SparkSession, dir: String): DataFrame =
    Tables.spread(
      Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding")))

  private def querySet(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** Per-query top-k via the bounded [[graft.functions.TopKAgg]]
    * typed Aggregator: per-group state is O(k), so Spark's partial
    * aggregation does the map-side top-k and the shuffle carries only
    * k candidates per (partition, query) — no salt stage, no
    * collect_list materializing the full candidate set. Rows come out
    * as (q_id, rank, vec_id, cos).
    */
  private def topKPerQuery(scored: DataFrame): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(K))
    scored
      .groupBy("q_id")
      .agg(topk(-col("cos"), col("vec_id")).as("cand"))
      .select(col("q_id"), posexplode(col("cand")).as(Seq("pos", "c")))
      // rank on exact cosines; round only the reported value (the
      // oracle compares against DuckDB's double-accumulated cosine,
      // identical to within ulps)
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("c.id").as("vec_id"), round(-col("c.negScore"), 6).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** D6: exact brute-force cosine top-k (broadcast query set, map-side
    * scoring, two-stage top-k).
    */
  def annBruteforce(s: SparkSession, dir: String): DataFrame =
    annBruteforceOn(corpus(s, dir), querySet(s, dir))

  /** [[annBruteforce]] on arbitrary corpus/query frames — the exact
    * answer the ANN recall specs measure against.
    */
  private[ops] def annBruteforceOn(corp: DataFrame, queries: DataFrame): DataFrame = {
    val scored = corp
      .join(broadcast(queries))
      .withColumn("cos", cosine(col("embedding"), col("q_emb")))
      .select("q_id", "vec_id", "cos")
    topKPerQuery(scored)
  }

  private val NTables = 8        // independent hyperplane tables
  private val PlanesPerTable = 6 // bits per table (2^6 buckets)

  /** Per-table SRP buckets `(id, tbl, bucket)` — `tables` index rows
    * per vector, hyperplane (t, p) at global murmur3 index
    * t*planes + p. One narrow native [[graft.functions.SrpSig]]
    * projection + a posexplode of the tables-element result: no
    * shuffle anywhere in the signature stage (PlanSpec-guarded).
    */
  def srpTableBuckets(df: DataFrame, id: String, vec: String,
      planes: Int, tables: Int): DataFrame =
    df.select(col(id),
      posexplode(graft.functions.srpSig(col(vec), planes, tables))
        .as(Seq("tbl", "bucket")))

  /** The explode + groupBy formulation [[srpTableBuckets]] replaced —
    * kept as the fuzz-spec oracle (same empty-vector caveat as
    * [[srpBucketsSql]]).
    */
  private[ops] def srpTableBucketsSql(df: DataFrame, id: String, vec: String,
      planes: Int, tables: Int): DataFrame = {
    val comp = df.select(col(id), posexplode(col(vec)).as(Seq("i", "x")))
    val signed = (0 until tables * planes).map { g =>
      sum(when(hash(lit(g), col("i")).bitwiseAND(lit(1)) === 1, col("x"))
        .otherwise(-col("x"))).as(s"proj$g")
    }
    comp.groupBy(col(id))
      .agg(signed.head, signed.tail: _*)
      .select(col(id), posexplode(array((0 until tables).map { t =>
        (0 until planes).map(p =>
          when(col(s"proj${t * planes + p}") > 0, lit(1L << p)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_))
      }: _*)).as(Seq("tbl", "bucket")))
  }

  /** D7: multi-table SRP-LSH ANN. [[NTables]] independent tables of
    * [[PlanesPerTable]]-bit signatures; each query probes its bucket
    * plus all 1- and 2-bit flips in EVERY table, and candidates are
    * the union across tables. For a neighbor at angle θ the per-bit
    * collision probability is 1 - θ/π, so per-table probe-radius-2
    * recall is Σ_{k<=2} C(b,k) p^(b-k) (1-p)^k and missing all L
    * tables is exponentially unlikely — with (L=8, b=6, r=2) a
    * cos≈0.25 neighbor (p≈0.58, the worst in the synthetic corpus,
    * which is near-random — real embedding corpora cluster far
    * tighter) is still found with probability >0.99. L, b and the
    * probe radius are the recall/cost dials (the `tables` / `planes` /
    * `probeRadius` parameters): candidate volume per table is
    * ~(1 + b + C(b,2))/2^b of the corpus, so tighter corpora
    * should RAISE b and DROP the radius to keep buckets selective.
    *
    * Scale shape: the corpus is bucketed once (L index rows per
    * vector, never reshuffled per query); the probe fan-out
    * (L × (1 + b + C(b,2)) rows per query) lands entirely on the
    * broadcast query side; only bucket collisions are scored; the
    * per-query top-k is the bounded partial-aggregated TopKAgg.
    */
  def annLsh(s: SparkSession, dir: String, tables: Int = NTables,
      planes: Int = PlanesPerTable, probeRadius: Int = 2): DataFrame = {
    require(tables >= 1 && planes >= 1 && planes < 63 &&
        probeRadius >= 0 && probeRadius <= planes,
      s"invalid dials: tables=$tables planes=$planes probeRadius=$probeRadius")
    // buckets inlined into the scan projection (native SrpSig is
    // row-local): no self-join back onto the corpus, which the old
    // aggregate-based signature formulation forced — the corpus-side
    // candidate index is now scan → project → explode, zero shuffle
    val corp = corpus(s, dir).select(col("vec_id"), col("embedding"),
      posexplode(graft.functions.srpSig(col("embedding"), planes, tables))
        .as(Seq("tbl", "bucket")))
    val q = querySet(s, dir).select(col("q_id"), col("q_emb"),
      posexplode(graft.functions.srpSig(col("q_emb"), planes, tables))
        .as(Seq("tbl", "bucket0")))
    // all flip masks of popcount <= probeRadius (radius 0 probes only
    // the exact bucket)
    val flips: Seq[Long] = (0 to probeRadius).flatMap(r =>
      (0 until planes).combinations(r)
        .map(_.foldLeft(0L)((m, p) => m | (1L << p))).toSeq)
    val probes = q
      .withColumn("bucket", explode(array(
        flips.map(f => col("bucket0").bitwiseXOR(lit(f))): _*)))
      .select("q_id", "q_emb", "tbl", "bucket")
    val scored = corp.join(broadcast(probes), Seq("tbl", "bucket"))
      .withColumn("cos", cosine(col("embedding"), col("q_emb")))
      .select("q_id", "vec_id", "cos")
      .dropDuplicates("q_id", "vec_id")
    topKPerQuery(scored)
  }

  private val NLists = 16 // IVF coarse partitions
  private val NProbe = 8  // lists probed per query

  /** Deterministic IVF pivot set: the [[NLists]] corpus vectors with
    * the smallest md5("ivf:" ++ vec_id) — a hash-ordered sample,
    * reproducible across engines, runs and cluster sizes (which is
    * what makes the whole operator exactly DuckDB-oracle-able).
    * Production refinement: k-means|| centroids drop in here without
    * touching anything downstream; pivot-IVF keeps every structural
    * property (one-pass assignment, bounded probe cost) and is the
    * standard bootstrap before centroids are trained. 16 vectors
    * collect to the driver — the same driver-side footprint
    * `broadcast()` has.
    */
  private def ivfPivots(s: SparkSession, dir: String,
      nLists: Int = NLists): Array[(Long, Array[Float])] =
    corpus(s, dir)
      .withColumn("hk", md5(concat(lit("ivf:"), col("vec_id").cast("string"))))
      .orderBy("hk", "vec_id")
      .limit(nLists)
      .select("vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

  /** (cos, pid) structs over all pivots, best-first. Ties break to the
    * larger pid (struct ordering ascending, then reversed) — mirrored
    * in the oracle's ORDER BY cos DESC, pid DESC. The whole ranking is
    * one expression tree per row: [[NLists]] fused-cosine calls + a
    * 16-element sort, zero data movement.
    */
  // retained as the COMPOSED reference formulation: CosTopKSpec pins
  // the native cosTopK prefix bit-equal to slice(this, 1, k); no
  // production path calls it since r13 (the r13 knnskew probe measured
  // the per-row nLists-struct array_sort at ~3.9 ms/row at nLists=1000)
  private[ops] def pivotRanking(emb: Column, piv: Array[(Long, Array[Float])]): Column =
    reverse(array_sort(array(piv.toIndexedSeq.map { case (pid, v) =>
      struct(cosine(emb, typedLit(v)).as("cos"), lit(pid).as("pid"))
    }: _*)))

  /** D17: IVF ANN — the inverted-file scale path. Every corpus vector
    * is assigned to its nearest pivot's list in a NARROW projection
    * (no shuffle, no aggregation — at 100 TB the assignment is a pure
    * map over the corpus scan, and would be written once as a
    * list-partitioned table). A query probes its [[NProbe]] nearest
    * lists, so scoring touches ~NProbe/NLists of the corpus instead of
    * all of it; candidates meet the probes through a broadcast hash
    * join on the list id and the per-query top-k is the bounded
    * partial-aggregated TopKAgg.
    *
    * Recall geometry: a neighbor is found iff its list is probed.
    * On a CLUSTERED corpus (real embeddings) neighbors share the
    * nearest-pivot list with high probability and nprobe/nlists can
    * drop to 1-5%; on the synthetic near-random test vectors list
    * membership is nearly independent of proximity, so recall ~
    * NProbe/NLists — the spec pins exactly that geometry (and
    * rank-1 self-recall = 1 always, since a query's own list is its
    * first probe). The dials are `nLists` (partition granularity) and
    * `nProbe` (recall vs cost); `nProbe = nLists` probes everything
    * and reproduces the brute-force answer exactly (spec-pinned).
    */
  def annIvf(s: SparkSession, dir: String, nLists: Int = NLists,
      nProbe: Int = NProbe, pivots: String = "hash"): DataFrame = {
    val corp = corpus(s, dir)
    val piv = pivots match {
      case "hash" => ivfPivots(s, dir, nLists)
      case "kmeans" => trainedPivots(corp, nLists)
      case other => throw new IllegalArgumentException(
        s"unknown pivots '$other' (hash | kmeans)")
    }
    annIvfOn(corp, querySet(s, dir), piv, nProbe)
  }

  /** TRAINED IVF pivots: k-means‖-seeded Lloyd centers over the
    * corpus (the refinement [[ivfPivots]]' scaladoc promises — drop-in
    * behind the same pivot seam, nothing downstream changes). On a
    * clustered corpus the lists now FOLLOW the density: a query's
    * neighbors concentrate in its own and a few adjacent lists, so
    * recall at fixed nProbe/nLists rises from the hash-pivot
    * membership-lottery baseline to near-exact (spec-pinned on a
    * planted-cluster corpus). Centers are cast to the corpus element
    * type (float); list ids are 0..k−1 rather than pivot vec_ids.
    */
  private[ops] def trainedPivots(corp: DataFrame, nLists: Int,
      iters: Int = 2): Array[(Long, Array[Float])] = {
    val cached = graft.Caches.share(corp) // the Lloyd loop scans it 2·iters+1 times
    lloydCentroids(cached, nLists, iters, orderedFold = false,
        init = "parallel")
      .map { case (i, c) => (i.toLong, c.map(_.toFloat)) }
  }

  /** [[annIvf]] on arbitrary corpus/query frames with an explicit
    * pivot set — the seam the trained-vs-hash recall spec drives.
    */
  private[ops] def annIvfOn(corp: DataFrame, queries: DataFrame,
      piv: Array[(Long, Array[Float])], nProbe: Int): DataFrame = {
    val assigned = corp
      .withColumn("pid",
        element_at(graft.functions.cosTopK(col("embedding"), piv.toSeq, 1), 1)
          .getField("pid"))
    val probes = queries
      .withColumn("p", explode(graft.functions.cosTopK(col("q_emb"), piv.toSeq, nProbe)))
      .select(col("q_id"), col("q_emb"), col("p.pid").as("pid"))
    val scored = assigned.join(broadcast(probes), Seq("pid"))
      .withColumn("cos", cosine(col("embedding"), col("q_emb")))
      .select("q_id", "vec_id", "cos")
    topKPerQuery(scored)
  }

  // PQ dials, recall-swept at sf0.1 against brute force (dim-64
  // near-random vectors — the adversarial case, no cluster structure
  // for the cells to exploit): (m=8, rerank=200) → 0.825,
  // (m=16, rerank=50) → 0.875, (m=16, rerank=200) → 1.000. Four-dim
  // cells at 16 codes quantize a gaussian subspace tightly enough
  // that the exact top-5 always survives an ADC top-200.
  private val PqM = 16       // product-quantization subspaces
  private val PqK = 16       // codes per subspace codebook
  private val PqRerank = 200 // exact re-rank budget per query

  /** D17b: IVF-PQ — product-quantized ANN (Jégou et al. 2011,
    * "Product Quantization for Nearest Neighbor Search"), the
    * memory-bounded form a 100 TB vector corpus actually needs: raw
    * float storage is the bottleneck plain IVF ignores (a 4096-dim
    * float vector is 16 KB; its PQ code here is `m` bytes — the
    * corpus text outweighs its OWN index again). Structure:
    *
    *  1. TRAIN: per-subspace codebooks — the embedding splits into
    *     `m` contiguous sub-vectors and each subspace trains `k`
    *     centers through the existing [[lloydCentroids]] seam
    *     (k-means‖ init, the D24 machinery unchanged).
    *  2. ENCODE: each corpus vector's code is the array of its `m`
    *     nearest-center ids — a row-local projection (the IVF
    *     assignment pattern); at scale codes+list-ids are written
    *     once as the compact index table and raw vectors stay cold.
    *  3. SEARCH: queries probe `nProbe` IVF lists (trained pivots);
    *     candidates are scored WITHOUT touching raw vectors via ADC —
    *     per query a driver-built (m × k) lookup table of
    *     subspace-dot(q_sub, center)/|q| and center norms rides the
    *     broadcast probe join, and the approximate cosine is m table
    *     lookups + a sqrt per candidate.
    *  4. RE-RANK: the per-query top-`rerank` approximate candidates
    *     (bounded [[graft.functions.TopKAgg]]) join raw embeddings
    *     back by id for exact cosine; final top-k is exact over that
    *     set.
    *
    * Scale shape: the only full-corpus work after encoding is the
    * broadcast-probe join over CODES (m bytes/row moving, never
    * floats); raw embeddings move for ≤ rerank·|queries| rows. Like
    * D7, rows-only by nature — recall@5 vs [[annBruteforce]] is
    * spec-pinned (PQ fidelity isolated at full probe coverage, and
    * end-to-end at the IVF default).
    */
  def annIvfPq(s: SparkSession, dir: String, nLists: Int = NLists,
      nProbe: Int = NProbe, m: Int = PqM, k: Int = PqK,
      rerank: Int = PqRerank): DataFrame = {
    val corp = graft.Caches.share(corpus(s, dir)) // codebooks + encode + re-rank
    val piv = ivfPivots(s, dir, nLists)
    val books = pqCodebooks(corp, m, k)
    annIvfPqOn(corp, querySet(s, dir), piv, books, nProbe, rerank)
  }

  /** Per-subspace PQ codebooks — the [[lloydCentroids]] update FUSED
    * across all `m` subspaces: assignment is the row-local
    * [[pqCodes]] argmin, and ONE (mi, code, dim)-keyed partial
    * aggregate per iteration updates every book's means
    * simultaneously (m separate Lloyd loops would launch m× the
    * jobs for identical arithmetic — measured 70.9 s → 9.6 s on the
    * sf0.01 smoke run). L2 objective throughout: the mean IS the L2
    * Lloyd update, and L2 cell assignment is what makes ADC dot
    * approximation tight (cosine cells would quantize direction
    * only). Init: the k smallest-`pq:`-hash vectors sliced per
    * subspace (the [[ivfPivots]] determinism convention); an emptied
    * cell keeps its center. m·k·ds doubles cross the driver per
    * iteration.
    */
  private[ops] def pqCodebooks(corp: DataFrame, m: Int, k: Int,
      iters: Int = 2,
      orderedFold: Boolean = true): Array[IndexedSeq[(Int, Array[Double])]] = {
    val d = corp.select(size(col("embedding"))).head().getInt(0)
    require(d % m == 0, s"embedding dim $d not divisible by $m subspaces")
    val ds = d / m
    val initRows = corp
      .withColumn("hk", md5(concat(lit("pq:"), col("vec_id").cast("string"))))
      .orderBy("hk", "vec_id").limit(k)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    var books: Array[IndexedSeq[(Int, Array[Double])]] =
      Array.tabulate(m)(mi => initRows.zipWithIndex.map { case (v, i) =>
        i -> v.slice(mi * ds, (mi + 1) * ds) }.toIndexedSeq)
    // orderedFold=true IS the production default (and what annIvfPq
    // runs): the vec_id-ordered sum is bit-reproducible and therefore
    // DuckDB-oracle-able; collect_list is bounded by cell population
    // (n·d list elements total, the lloydCentroids bound), costing
    // ~1.6x CPU over a partial-aggregated mean at sf10. false is the
    // order-free alternative — a plain partial-aggregated avg, equal
    // to within last-ulp noise — kept for deployments that prefer the
    // cheaper update (code-assignment equality is spec-pinned in
    // IvfPqSpec, the embed_kmeans convention)
    val meanCol =
      if (orderedFold)
        aggregate(
          array_sort(collect_list(struct(col("vec_id"),
            col("v").cast("double").as("dv")))),
          lit(0.0), (a, x) => a + x.getField("dv")) / count(lit(1))
      else avg(col("v").cast("double"))
    for (_ <- 1 to iters) {
      val coded = corp.select(col("vec_id"), col("embedding"),
        posexplode(pqCodes(col("embedding"), books, ds)).as(Seq("mi", "code")))
      val updated = coded
        .select(col("vec_id"), col("mi"), col("code"),
          posexplode(slice(col("embedding"), col("mi") * ds + 1, lit(ds)))
            .as(Seq("pos", "v")))
        .groupBy("mi", "code", "pos")
        .agg(meanCol.as("mv"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (key, rows) =>
          key -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray }
      books = Array.tabulate(m)(mi => books(mi).map { case (code, old) =>
        code -> updated.getOrElse((mi, code), old) })
    }
    books
  }

  /** Row-local PQ encoding: per subspace, the L2-nearest center id —
    * argmin ‖x−c‖² = argmax (dot(x,c) − ‖c‖²/2), no shuffle. Ties to
    * the larger code (the [[bestOf]] convention). Round 10: the
    * native one-pass [[graft.functions.PqEncode]] expression — the
    * m·k `aggregate(zip_with(…))` folds of [[pqCodesHof]] were 256
    * interpreter lambdas per row at the default dials, the encode
    * stage's dominant CPU (the round-8 HOF rule); bit-identical
    * (same dim-order dot fold, same scala-sum half-norms, same
    * tie-break), pinned by PqEncodeSpec fuzz equality.
    */
  private def pqCodes(emb: Column,
      books: Array[IndexedSeq[(Int, Array[Double])]], ds: Int): Column = {
    val m = books.length
    val k = books.head.size
    val flat = books.flatMap { cb =>
      val sorted = cb.sortBy(_._1)
      // PqEncode emits slot POSITIONS — they equal the stored code ids
      // only under contiguous 0..k-1 ids, which every trainer here
      // produces; guard the precondition instead of silently drifting
      // from the HOF form (review finding)
      require(sorted.map(_._1) == (0 until k),
        s"pq codebook ids must be contiguous 0..${k - 1}, got ${sorted.map(_._1)}")
      sorted.map(_._2)
    }.toArray
    graft.functions.pqEncode(emb, flat, m, k, ds)
  }

  /** The HOF formulation [[pqCodes]] replaced — kept as the
    * equality-spec twin (the D13 convention).
    */
  private[ops] def pqCodesHof(emb: Column,
      books: Array[IndexedSeq[(Int, Array[Double])]], ds: Int): Column =
    array(books.zipWithIndex.map { case (cb, mi) =>
      val sub = slice(emb, mi * ds + 1, ds)
      element_at(reverse(array_sort(array(cb.map { case (code, c) =>
        val dot = aggregate(
          zip_with(sub, typedLit(c), (x, y) => x.cast("double") * y),
          lit(0.0), (a, v) => a + v)
        struct((dot - lit(c.map(x => x * x).sum / 2.0)).as("s"),
          lit(code).as("code"))
      }: _*))), 1).getField("code")
    }: _*)

  /** [[annIvfPq]] on arbitrary corpus/query frames with explicit
    * pivots and codebooks — the seam the recall spec drives.
    */
  private[ops] def annIvfPqOn(corp: DataFrame, queries: DataFrame,
      piv: Array[(Long, Array[Float])],
      books: Array[IndexedSeq[(Int, Array[Double])]],
      nProbe: Int, rerank: Int): DataFrame = {
    val spark = corp.sparkSession
    val m = books.length
    val ds = books.head.head._2.length
    // the compact index: list id + m-byte code per vector (the only
    // full-corpus frame the search touches)
    val indexed = corp.withColumn("pid",
        element_at(graft.functions.cosTopK(col("embedding"), piv.toSeq, 1), 1)
          .getField("pid"))
      .withColumn("codes", pqCodes(col("embedding"), books, ds))
      .select(col("vec_id"), col("pid"), col("codes"))
      .transform(graft.Lineage.cut)
    // per-query ADC tables, built on the driver from the collected
    // query set (queries are a model-sized broadcast everywhere in
    // the ANN family): adc[mi][c] = dot(q_mi, center)/|q|,
    // nt[mi][c] = |center|²
    val qrows = queries.select(col("q_id"), col("q_emb")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val adcRows = qrows.map { case (qid, q) =>
      val qn = math.sqrt(q.map(x => x * x).sum)
      val adc = books.zipWithIndex.map { case (cb, mi) =>
        cb.sortBy(_._1).map { case (_, c) =>
          val dot = (0 until ds).map(j => q(mi * ds + j) * c(j)).sum
          if (qn == 0) 0.0 else dot / qn
        }.toArray
      }
      val nt = books.map(cb => cb.sortBy(_._1).map { case (_, c) =>
        c.map(x => x * x).sum }.toArray)
      (qid, adc, nt)
    }
    import spark.implicits._
    val adcDf = adcRows.toSeq.toDF("q_id", "adc", "nt")
    val probes = queries
      .withColumn("p", explode(graft.functions.cosTopK(col("q_emb"), piv.toSeq, nProbe)))
      .select(col("q_id"), col("p.pid").as("pid"))
      .join(adcDf, "q_id")
    // ADC scoring: m lookups + sqrt per candidate; codes never leave
    // their rows, raw floats never enter the join
    val adot = (0 until m).map(mi =>
      element_at(element_at(col("adc"), mi + 1),
        element_at(col("codes"), mi + 1) + 1)).reduce(_ + _)
    val an2 = (0 until m).map(mi =>
      element_at(element_at(col("nt"), mi + 1),
        element_at(col("codes"), mi + 1) + 1)).reduce(_ + _)
    val approx = indexed.join(broadcast(probes), Seq("pid"))
      .withColumn("acos",
        when(an2 > 0, adot / sqrt(an2)).otherwise(lit(0.0)))
      // no dedupe needed: a vector has ONE list and a query's probed
      // lists are distinct, so each (q, vector) pair joins at most once
      .select(col("q_id"), col("vec_id"), col("acos"))
    val topr = udaf(new graft.functions.TopKAgg(rerank))
    val cand = approx.groupBy("q_id")
      .agg(topr(-col("acos"), col("vec_id")).as("cand"))
      .select(col("q_id"), explode(col("cand")).as("c"))
      .select(col("q_id"), col("c.id").as("vec_id"))
    // exact re-rank over the bounded candidate set
    val exact = cand
      .join(corp, "vec_id")
      .join(broadcast(queries), "q_id")
      .withColumn("cos", cosine(col("embedding"), col("q_emb")))
      .select("q_id", "vec_id", "cos")
    topKPerQuery(exact)
  }

  /** D31: symmetric int8 embedding quantization — the storage form a
    * 100 TB vector corpus actually ships (a float32 corpus quantized
    * to int8 cuts ANN index storage and shuffle volume 4×; the D17b
    * IVF-PQ path compresses further but destroys per-dimension
    * values, while int8 keeps them — the common serving format for
    * re-rankable indexes). Per vector: scale = max|x|/127, code_i =
    * ⌊x_i/scale + ½⌋ — all-int8 by construction (−127..127), zero
    * vectors keep scale 0 and all-zero codes. Also reports the
    * round-trip reconstruction error (mean squared, dim-order fold)
    * so a curation pipeline can gate on quantization loss.
    *
    * Cross-engine exactness: max over |x| is order-insensitive and
    * exact; scale, x/scale, +½ are single correctly-rounded IEEE ops;
    * ⌊·⌋ then int-cast is exact (never a bare double→int cast: Spark
    * truncates, DuckDB rounds); the error fold runs in dimension
    * order on both engines. Scale shape: a narrow row-local
    * projection — no shuffle, no driver state, codegen-friendly HOFs
    * over the array column.
    */
  def embedQuantize(s: SparkSession, dir: String): DataFrame =
    embedQuantizeOn(corpus(s, dir))

  /** The quantization arithmetic as a reusable pair (scale, codes) —
    * one definition shared by [[embedQuantizeOn]] (the storage form)
    * and [[annQuantized]] (searching ON the codes), so the two can
    * never drift.
    */
  private def quantScale(emb: Column): Column =
    aggregate(emb, lit(0.0),
      (a, v) => greatest(a, abs(v.cast("double")))) / 127.0

  private def quantCodes(emb: Column, scale: Column): Column =
    when(scale === 0.0, transform(emb, _ => lit(0)))
      .otherwise(transform(emb,
        v => floor(v.cast("double") / scale + 0.5).cast("int")))

  /** [[embedQuantize]] over an explicit (vec_id, embedding) frame —
    * the testable seam. */
  private[ops] def embedQuantizeOn(vecs: DataFrame): DataFrame = {
    vecs
      .withColumn("scale", quantScale(col("embedding")))
      .withColumn("codes", quantCodes(col("embedding"), col("scale")))
      .withColumn("mse",
        when(col("scale") === 0.0, lit(0.0))
        .otherwise(
          aggregate(
            zip_with(col("embedding"), col("codes"), (v, c) =>
              (v.cast("double") - c.cast("double") * col("scale")) *
              (v.cast("double") - c.cast("double") * col("scale"))),
            lit(0.0), (a, t) => a + t) / size(col("embedding")).cast("double")))
      // comma-serialized, NOT an array column: the driver's pandas
      // hash-compare cannot sort/factorize list cells, so registered
      // queries ship scalar columns only (ScalarOutputSpec). The raw
      // int-array form stays available via the internal `codes` column
      // above for consumers that want it (the serialization is the
      // last projection, lossless for integers).
      .select(col("vec_id"), col("scale"),
        array_join(transform(col("codes"), _.cast("string")), ",")
          .as("codes"),
        col("mse"))
      .orderBy("vec_id")
  }

  /** D31b: top-k ANN over the INT8-QUANTIZED corpus (round 10 —
    * closing the D31 loop: the quantized form is the serving format,
    * so search must run ON the codes, not just store them). Cosine
    * over symmetric per-vector quantization is scale-free — cos(s_a·
    * c_a, s_b·c_b) = cos(c_a, c_b), the per-vector scales cancel — so
    * the scored index is PURE int8 codes: 4× smaller frames in the
    * scoring join and nothing dequantized. The code dot products are
    * exact integer sums (≤ 127²·d, exact in double), which makes the
    * ranking BIT-identical across engines without any fold-order
    * care — better-oracled than the float cosine it approximates.
    * Same broadcast-queries + bounded TopKAgg shape as [[annBruteforce]];
    * recall vs the exact float answer is spec-pinned.
    */
  def annQuantized(s: SparkSession, dir: String): DataFrame =
    annQuantizedOn(corpus(s, dir), querySet(s, dir))

  private[ops] def annQuantizedOn(corp: DataFrame,
      queries: DataFrame): DataFrame = {
    def codesF(c: Column) =
      transform(quantCodes(c, quantScale(c)), _.cast("float"))
    val cc = corp.select(col("vec_id"), codesF(col("embedding")).as("cemb"))
    val qq = queries.select(col("q_id"), codesF(col("q_emb")).as("qemb"))
    val scored = cc.join(broadcast(qq))
      .withColumn("cos", cosine(col("cemb"), col("qemb")))
      .select("q_id", "vec_id", "cos")
    topKPerQuery(scored)
  }

  /** D24: spherical k-means refinement over the embedding corpus —
    * the clustering stage of embedding-space curation (SemDeDup,
    * Abbas et al. 2023, clusters before intra-cluster dedup; DsDm /
    * cluster-balanced sampling pick training mixtures from exactly
    * this assignment). Deterministic end to end: initial centroids
    * are the k smallest-hash vectors (the [[ivfPivots]] bootstrap
    * convention, salt `km:`), each Lloyd step assigns by cosine
    * (scale-invariant, so the unnormalized mean centroid yields the
    * same assignment spherical k-means' normalized mean would) and
    * recomputes per-dimension means.
    *
    * Cross-engine exactness: assignment similarity uses only
    * correctly-rounded IEEE ops (+, ×, ÷, sqrt) folded in DIMENSION
    * order on both engines (zip_with+aggregate here, dim-ordered
    * list_reduce in the oracle), and the centroid mean folds the
    * cluster's values in VEC_ID order — so even the argmax tie-break
    * (cos desc, pid desc) is bit-reproducible. The ordered
    * per-(cluster, dim) fold bounds its collect_list by CLUSTER SIZE:
    * that is the oracle-able formulation; at 100 TB the update step
    * would use a plain partial-aggregated sum (order-free, equal to
    * within last-ulp noise) and k-means|| init, changing nothing
    * structural. Assignment itself is a narrow row-local projection
    * (k fused folds per row, no shuffle); each update is one
    * (pid, dim)-keyed partial agg; 2·k·d doubles cross the driver per
    * iteration (the ivfPivots footprint).
    */
  def embedKmeans(s: SparkSession, dir: String, k: Int = 8,
      iters: Int = 1, orderedFold: Boolean = true,
      init: String = "hash", sorted: Boolean = true): DataFrame =
    embedKmeansOn(corpus(s, dir), k, iters, orderedFold, init, sorted)

  /** (cos, pid) argmax against an explicit center set, as one
    * row-local expression tree: |centers| fused dim-order folds + a
    * sort; ties to the larger pid (array_sort asc + reverse ==
    * ORDER BY cos DESC, pid DESC). Shared by the Lloyd loop and the
    * k-means|| weighting pass.
    */
  private def bestOf(emb: Column,
      centers: Seq[(Int, Array[Double])]): Column =
    // round 10: the native one-pass [[graft.functions.CosBest]] —
    // the HOF form below was k interpreter dot folds + an array_sort
    // per row, the assignment stage's dominant CPU in
    // embed_kmeans/dedup_semantic; bit-identical (same dim-order
    // folds, same driver sqrt(Σc²), same struct-max tie-break incl.
    // NaN-greatest and the null→(null, max pid) path), pinned by
    // CosBestSpec fuzz equality against [[bestOfHof]]
    graft.functions.cosBest(emb, centers)

  /** The HOF formulation [[bestOf]] replaced — kept as the
    * equality-spec twin (the D13 convention).
    */
  private[ops] def bestOfHof(emb: Column,
      centers: Seq[(Int, Array[Double])]): Column = {
    val na = aggregate(transform(emb, x =>
      x.cast("double") * x.cast("double")), lit(0.0), (a, v) => a + v)
    element_at(reverse(array_sort(array(centers.toIndexedSeq.map {
      case (pid, cv) =>
        val dot = aggregate(
          zip_with(emb, typedLit(cv), (x, y) => x.cast("double") * y),
          lit(0.0), (a, v) => a + v)
        // sqrt(Σ cval²) folded dim-order on the driver — the same
        // IEEE ops the oracle's sqrt(list_reduce(...)) performs
        val snb = cv.foldLeft(0.0)((a, v) => a + v * v)
        val denom = sqrt(na) * lit(math.sqrt(snb))
        struct(when(denom === 0.0, 0.0).otherwise(dot / denom).as("cos"),
          lit(pid).as("pid"))
    }: _*))), 1)
  }

  /** The deterministic hash-sample bootstrap (the [[ivfPivots]]
    * convention, salt `km:`): the k smallest-hash vectors.
    */
  private def hashInit(vecs: DataFrame, k: Int): Array[(Int, Array[Double])] =
    vecs
      .withColumn("hk", md5(concat(lit("km:"), col("vec_id").cast("string"))))
      .orderBy("hk", "vec_id").limit(k)
      .select("embedding").collect()
      .zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Float](0).toArray.map(_.toDouble) }

  /** k-means|| initialization (Bahmani et al., "Scalable k-means++",
    * VLDB'12) — the production init the hash bootstrap stands in for:
    * instead of k-means++'s k sequential full-corpus passes, each of
    * `rounds` passes OVERSAMPLES ~`oversample`·k candidates with
    * probability ∝ their cost against the centers chosen so far, then
    * the small weighted candidate set is re-clustered to k on the
    * driver. Cluster shape per round: one keyed aggregate for φ
    * (total cost) + one narrow filter whose survivors (expected
    * oversample·k rows) collect — never more than O(rounds·l·k·d)
    * doubles cross the driver, and the corpus is only ever scanned,
    * never shuffled. Spherical variant: cost(x) = 1 − max cos(x, C).
    *
    * Deterministic throughout (the engine's reproducibility
    * convention): the seed center is the smallest-`km:`-hash vector,
    * per-point sampling uses the xxhash64(vec_id, round) parity
    * uniform, and the driver re-cluster is the greedy max-variant of
    * weighted k-means++ followed by driver-local weighted Lloyd to
    * convergence. Returns exactly k centers (padded by cycling when a
    * degenerate corpus yields fewer distinct candidates than k — the
    * Lloyd loop's empty-cluster rule keeps such duplicates harmless).
    */
  private[ops] def kmeansParInit(vecs: DataFrame, k: Int, rounds: Int = 3,
      oversample: Double = 2.0): Array[(Int, Array[Double])] = {
    val seed = hashInit(vecs, 1).map(_._2)
    val cand = scala.collection.mutable.ArrayBuffer.from[Array[Double]](seed)
    for (r <- 1 to rounds) {
      val centers = cand.toIndexedSeq.zipWithIndex.map(_.swap)
      val costCol = lit(1.0) - bestOf(col("embedding"), centers).getField("cos")
      val phi = vecs.agg(sum(costCol).as("phi")).head().getDouble(0)
      if (phi > 0) {
        val p = least(lit(1.0), lit(oversample * k) * costCol / lit(phi))
        val u = pmod(xxhash64(col("vec_id"), lit(r)), lit(1000000000L))
          .cast("double") / 1e9
        cand ++= vecs.filter(u < p)
          .orderBy("vec_id") // deterministic candidate order
          .select("embedding").collect()
          .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      }
    }
    // weight candidates by the corpus mass they attract (one keyed
    // partial agg), then re-cluster the weighted sketch on the driver.
    // dedupe by CONTENT (arrays compare by reference) — duplicate
    // candidates would split their weight arbitrarily
    val distinctCand: IndexedSeq[Array[Double]] =
      cand.map(_.toVector).distinct.map(_.toArray).toIndexedSeq
    val weights = vecs
      .select(bestOf(col("embedding"),
        distinctCand.zipWithIndex.map(_.swap)).getField("pid").as("ci"))
      .groupBy("ci").count().collect()
      .map(row => row.getInt(0) -> row.getLong(1)).toMap
    val centers = reclusterWeighted(
      distinctCand.zipWithIndex.map { case (c, i) =>
        c -> weights.getOrElse(i, 0L) }, k)
    centers.zipWithIndex.map { case (c, i) => i -> c }.toArray
  }

  /** Driver-local weighted re-cluster of the k-means|| candidate
    * sketch (tens of points): greedy max-variant k-means++ seeding
    * (first = heaviest; next = argmax weight·cosine-distance² to the
    * chosen set) then weighted Lloyd until assignments stop moving.
    */
  private def reclusterWeighted(cand: Seq[(Array[Double], Long)],
      k: Int): Seq[Array[Double]] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0) 0.0 else dot / d
    }
    def dist(a: Array[Double], b: Array[Double]): Double = 1.0 - cos(a, b)
    val n = cand.length
    val seeds = scala.collection.mutable.ArrayBuffer(
      cand.indices.maxBy(i => (cand(i)._2, -i)))
    while (seeds.length < math.min(k, n)) {
      val next = cand.indices.filterNot(seeds.contains).maxBy { i =>
        val d = seeds.map(s => dist(cand(i)._1, cand(s)._1)).min
        (cand(i)._2 * d * d, -i)
      }
      seeds += next
    }
    var centers = seeds.map(i => cand(i)._1).toIndexedSeq
    var assign = Array.fill(n)(-1)
    var moved = true
    var guard = 0
    while (moved && guard < 50) {
      val newAssign = Array.tabulate(n)(i =>
        centers.indices.maxBy(c => (cos(cand(i)._1, centers(c)), c)))
      moved = !java.util.Arrays.equals(assign, newAssign)
      assign = newAssign
      centers = centers.indices.map { c =>
        val members = cand.indices.filter(assign(_) == c)
        val w = members.map(cand(_)._2).sum
        if (w == 0) centers(c)
        else {
          val m = new Array[Double](cand.head._1.length)
          members.foreach { i =>
            val (v, wi) = cand(i)
            var d = 0; while (d < m.length) { m(d) += v(d) * wi; d += 1 }
          }
          m.map(_ / w)
        }
      }
      guard += 1
    }
    // pad degenerate corpora (fewer distinct candidates than k) by
    // cycling — duplicates empty out and keep their centroid
    (0 until k).map(i => centers(i % centers.length))
  }

  /** [[embedKmeans]] on an arbitrary (vec_id, embedding) frame — the
    * seam the init-comparison spec drives. `init`: "hash" (the
    * oracle-pinned bootstrap) or "parallel" (k-means||). `sorted`:
    * the oracle harness wants a deterministic row order; a 100 TB
    * caller should pass false and skip the global sort of the full
    * assignment.
    */
  def embedKmeansOn(vecsIn: DataFrame, k: Int = 8,
      iters: Int = 1, orderedFold: Boolean = true,
      init: String = "hash", sorted: Boolean = true): DataFrame = {
    // consumed 2·iters+1 times (assignments + updates) — cache, or
    // every pass re-scans the parquet
    val vecs = graft.Caches.share(vecsIn)
    val centroids = lloydCentroids(vecs, k, iters, orderedFold, init)
    val out = vecs
      .withColumn("p", bestOf(col("embedding"), centroids.toIndexedSeq))
      .select(col("vec_id"), col("p.pid").as("pid"),
        round(col("p.cos"), 6).as("cos"))
    if (sorted) out.orderBy("vec_id") else out
  }

  /** D35: cluster-balanced subsample — cap every semantic cluster's
    * contribution at `cap` vectors, chosen by deterministic hash
    * priority within the cluster. The diversity-preservation step of
    * embedding-space curation (DataComp-style pools and the DsDm /
    * cluster-mixture selection literature rebalance topic mass from
    * exactly this k-means assignment): quality filters and dedup skew
    * a crawl toward its dominant modes, and a per-cluster cap
    * re-flattens the distribution without a learned sampler.
    *
    * Composition of two already-pinned pieces: the [[embedKmeans]]
    * assignment (bit-exact vs its unrolled-Lloyd oracle) and the D15
    * bounded-selection shape — per-cluster take-`cap` runs through the
    * O(cap)-state [[graft.functions.TopKAgg]] aggregator, so map-side
    * partial aggregation does the heavy selection and a viral cluster
    * (the dominant mode this operator exists to cap) is never one
    * serialized window task. The priority key is the `strat:`-style
    * 32-bit md5 prefix (lexicographic hex order == numeric order of
    * the top hash bits, exact in a double), salt `cb:` so the pick
    * decorrelates from every other hash-derived sample on these ids.
    */
  def sampleClusterBalanced(s: SparkSession, dir: String,
      cap: Int = 25): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(cap))
    embedKmeansOn(corpus(s, dir), sorted = false)
      .select(col("pid"), col("vec_id"),
        conv(substring(md5(concat(lit("cb:"), col("vec_id").cast("string"))),
          1, 8), 16, 10).cast("long").cast("double").as("hk"))
      .groupBy("pid")
      .agg(topk(col("hk"), col("vec_id")).as("cand"))
      .select(col("pid"), posexplode(col("cand")).as(Seq("pos", "c")))
      .select(col("pid"), (col("pos") + 1).cast("long").as("rk"),
        col("c.id").as("vec_id"))
      .orderBy("pid", "rk")
  }

  /** D46: kNN graph — the top-[[K]] cosine neighbors of EVERY corpus
    * vector (not just a query set): the substrate of graph-based
    * curation (connected-component semantic clusters, kNN-density
    * outlier pruning, label propagation) and the build step of
    * graph-ANN indexes. All-pairs is n² and never acceptable; the
    * IVF decomposition bounds candidate generation exactly like
    * [[annIvf]], with BOTH sides of the join now corpus-sized:
    *
    *  1. ONE ranking pass per vector ([[pivotRanking]] against the
    *     deterministic hash pivots) yields its `nProbe` probe lists —
    *     prefix 1 of which is its own inverted-list assignment; the
    *     shared frame is Lineage.cut so assignment and probes don't
    *     recompute the nLists-cosine scan twice.
    *  2. Candidates meet through a SHUFFLE join on the list id (the
    *     broadcast of [[annIvfOn]] is impossible — the probe side is
    *     the whole corpus). MILD list-size skew (input bytes) is
    *     AQE-splittable; a DEGENERATE cell (a dense ball no pivot
    *     landed in) is JOIN-OUTPUT-quadratic skew that AQE provably
    *     does not split (the r13 knnskew probe: `skewed=true` never
    *     appears, even with the byte threshold floored — skew
    *     decisions read input partition bytes, and the hot cell's m²
    *     rows explode out of a few-MB partition). The guard is the
    *     `hotSalt` static split below: per-list assigned counts are a
    *     model-sized aggregate, lists over [[HotFactor]]× the mean
    *     join on (pid, salt) with probes replicated per salt —
    *     identical pair set, m² spread over [[HotSalt]] tasks, even
    *     corpora keep the exact unsalted plan (SURVEY §8 r13).
    *  3. Per-vector top-k through the bounded partial-aggregated
    *     [[graft.functions.TopKAgg]] — O(k) state map-side, no
    *     per-vector window.
    *
    * Scale dials: candidate volume ≈ n·nProbe·(n/nLists); the default
    * (`nLists = 0` → auto) grows the list count as max(16, ⌈√n⌉) —
    * per-list cells stay ~√n rows and total work is n^1.5, the
    * classic IVF-graph tradeoff (at fixed nLists the candidate join
    * degenerates to n²/nLists: quadratic again). One cheap count job
    * sizes the index; the oracle re-derives the same ⌈√n⌉ with a
    * scalar subquery, so the adaptive dial stays exactly checkable at
    * every SF. Recall follows the [[annIvf]] geometry (~nProbe/nLists
    * on unclustered vectors, near-exact on clustered corpora);
    * `nProbe = nLists` reproduces the exact graph. Self-edges are
    * excluded; a vector's own list is always its first probe, so
    * rank-1 self-recall never costs an edge.
    *
    * ORDER-OF-PIPELINE contract: the graph build assumes a
    * DEDUPLICATED corpus. m exact copies of one embedding land in
    * one Voronoi cell and meet in the list self-join — m² candidate
    * pairs that no join-splitting can erase (the volume itself is
    * quadratic, unlike the AQE-splittable skew of a merely-popular
    * cell). That is not a defect to engineer around here: every real
    * curation DAG runs exact/embedding dedup (D1, D5 — whose
    * collapse front-ends exist precisely for viral payloads) BEFORE
    * graph analytics, and this engine ships both stages. The same
    * contract covers every rider of these edges ([[knnDensity]],
    * [[knnClassify]], [[semanticClusters]], [[pageRank]],
    * [[knnHubness]]).
    */
  def knnGraph(s: SparkSession, dir: String, nLists: Int = 0,
      nProbe: Int = 4, hotSalt: Int = HotSalt): DataFrame = {
    val nl =
      if (nLists > 0) nLists
      else math.max(16, math.ceil(math.sqrt(
        corpus(s, dir).count().toDouble)).toInt)
    val piv = ivfPivots(s, dir, nl)
    val ranked = corpus(s, dir)
      .select(col("vec_id"), col("embedding"),
        graft.functions.cosTopK(col("embedding"), piv.toSeq, nProbe).as("pr"))
      .transform(graft.Lineage.cut)
    val assigned = ranked.select(
      element_at(col("pr"), 1).getField("pid").as("pid"),
      col("vec_id"), col("embedding"))
    val probes = ranked.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), explode(col("pr")).as("p"))
      .select(col("p.pid").as("pid"), col("q_id"), col("q_emb"))
    // HOT-LIST SALT (round 13 — the knnskew probe's finding): a
    // degenerate Voronoi cell (a dense ball no pivot landed in) is a
    // JOIN-OUTPUT-quadratic hot key: m assigned × m probes explode out
    // of ONE task, while the task's INPUT is a few MB — invisible to
    // AQE's OptimizeSkewedJoin, which splits on input partition bytes
    // (measured: 2e9-row hot-cell output, no `skewed=true` even with
    // the byte threshold floored; SURVEY §8). So the split is made
    // static where the size is KNOWN: per-list assigned counts are an
    // nLists-row aggregate over the cached ranking (model-sized — the
    // pivot-collect convention); lists over [[HotFactor]]× the mean
    // get their assigned side salted `hotSalt` ways and their probe
    // rows replicated per salt — the join key becomes (pid, salt), the
    // hot cell's m² work spreads over hotSalt tasks, and the candidate
    // PAIR SET is identical (same pairs, different meeting task), so
    // results and the oracle are untouched. Even corpora have no hot
    // lists: the salt column is constant 0 and the only added cost is
    // the nLists-row count.
    // ONE model-sized stats pass over the cached ranking: per-list
    // probe AND assigned counts (an nLists-row collect — the
    // pivot-collect convention). It feeds BOTH static plan decisions
    // below: the hot-list salt and the output-sized partition count.
    val stats = ranked
      .select(posexplode(col("pr")).as(Seq("pos", "p")))
      .groupBy(col("p.pid").as("pid"))
      .agg(count(lit(1)).as("probes"),
        count(when(col("pos") === 0, lit(1))).as("assigned"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val hotIds: Seq[Long] =
      if (hotSalt <= 1) Seq.empty
      else {
        val mean = stats.map(_._3).sum.toDouble / math.max(1, stats.length)
        stats.filter(_._3 > HotFactor * mean).map(_._1).toSeq
      }
    // OUTPUT-SIZED PARTITIONING (round 14 — the r13 residual's root
    // cause, measured at sf100): the candidate join's task count must
    // follow its OUTPUT volume Σ_l assigned_l·probes_l (exact from the
    // stats pass; salting respreads a hot cell's pairs but never
    // changes the count), not its input bytes. AQE sizes this exchange
    // by input (~0.4 GB at sf100 → 34 tasks), so per-task distinct
    // q_ids (~235k) blow past the objectHashAggregate fallback
    // threshold and the partial TopKAgg degenerates to SORTING the
    // entire candidate stream — 13.2e9 rows, 237 GB of task spill,
    // 1.10 µs/pair vs the 0.58 on-design cost (§8 r14; this is what
    // the r13 wall-clock A/B could not resolve inside host noise —
    // the stage-CPU instrument did). An explicit repartition to
    // ⌈pairs/TargetPairsPerTask⌉ keeps per-task q_ids orders of
    // magnitude under the threshold AT ANY SCALE (probe rows per task
    // ≈ n·nProbe/nParts), the agg hash map cache-resident, and is
    // AQE-stable (user-specified shuffles are never coalesced). Both
    // sides repartition on the join key, so EnsureRequirements adds no
    // further exchange — same data movement as the implicit plan.
    // Measured at sf100 (fresh JVMs, 96g, stage CPU): join-stage CPU
    // 14,470 s → 5,687 s and wall 887 → 256 s with this + the side
    // order below; per-pair 0.43 µs — the sf10→sf100 CPU ladder drops
    // to ~24×/decade, inside the 31.6× n^1.5 design line.
    val pairs = stats.map(t => t._2 * t._3).sum
    // SMALL-SCALE GATE (round 15 — the r14 verdict's weak item): the
    // explicit double repartition exists ONLY to size this exchange by
    // output volume where AQE's input-byte sizing under-partitions.
    // When ⌈pairs/TargetPairsPerTask⌉ <= defaultParallelism the
    // formula itself says output-sizing is moot — every task is under
    // the pair budget at the default width — yet the unconditional
    // exchange still paid two shuffles + sorts with the embedding
    // payloads (measured at sf0.1: knn_graph CPU 3.88 → 14.86 s,
    // graph_audit 17.8 → 33.5 s vs r13's implicit plan). So the gate:
    // below the threshold, join without explicit repartition (the r13
    // plan — AQE sizes it fine at that volume); above it, the r14
    // output-sized exchange, unchanged (sf100 stage table identical:
    // rawParts there is ~207 ≫ 32).
    val rawParts = math.ceil(pairs / TargetPairsPerTask.toDouble).toInt
    val explicitParts =
      if (rawParts <= s.sparkContext.defaultParallelism) None
      else Some(math.min(4096, rawParts))
    // JOIN SIDE ORDER: Spark streams the LEFT of an inner sort-merge
    // join and buffers the RIGHT per key group. With probes streamed,
    // each probe row (one q_id) emits its whole cell consecutively —
    // the downstream partial TopKAgg hits ONE hot hash entry per inner
    // loop and the buffered assigned rows scan sequentially (~cell ×
    // 300 B, prefetch friendly). The reverse order cycles every output
    // row through a DIFFERENT q_id agg entry across a working set of
    // cell×nProbe probe rows — ~1.7 MB at sf100, falling out of L2
    // exactly as cells grow with √n. Measured with the repartition
    // (the two shipped together): join-stage CPU 7,607 → 5,687 s
    // (−25%) vs the no-fallback control at sf100 — the delta is the
    // combined cache effect, not individually attributed (§8 r14).
    def sized(df: DataFrame, keys: Column*): DataFrame =
      explicitParts.fold(df)(n => df.repartition(n, keys: _*))
    val scored = (if (hotIds.isEmpty)
        sized(probes, col("pid"))
          .join(sized(assigned, col("pid")), Seq("pid"))
      else {
        val hot = col("pid").isInCollection(hotIds)
        val aSalted = assigned.withColumn("salt",
          when(hot, pmod(hash(col("vec_id")), lit(hotSalt)))
            .otherwise(lit(0)))
        val pSalted = probes.withColumn("salt", explode(
          when(hot, sequence(lit(0), lit(hotSalt - 1)))
            .otherwise(array(lit(0)))))
        sized(pSalted, col("pid"), col("salt"))
          .join(sized(aSalted, col("pid"), col("salt")),
            Seq("pid", "salt"))
      })
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("embedding"), col("q_emb")))
      .select("q_id", "vec_id", "cos")
    topKPerQuery(scored)
  }

  /** Candidate-pair budget per task of [[knnGraph]]'s list join — the
    * output-volume partitioning grain (~40 s of scoring at the
    * measured ~0.6 µs/pair). Chosen so per-task distinct query ids
    * (≈ pairs/cellSize) stay far under the 131072 typed-agg fallback
    * threshold while tasks stay coarse enough to amortize scheduling.
    */
  val TargetPairsPerTask = 64000000L

  /** Salt fan-out for join-output-skewed kNN-graph lists (see
    * [[knnGraph]]); lists beyond [[HotFactor]]× the mean assigned size
    * are split this many ways.
    */
  val HotSalt = 16
  val HotFactor = 4.0

  /** D49: kNN-density outlier scoring — each vector's density is the
    * mean cosine to its [[knnGraph]] neighbors; vectors whose density
    * falls below the corpus mean are flagged as outliers (sparse
    * regions of embedding space: OCR garbage, wrong-language
    * fragments, adversarial spam — the "isolated point" failure mode
    * embedding-based curation prunes, complementary to D45 which
    * prunes the over-DENSE prototype mass).
    *
    * Determinism composes from two pinned pieces: the edge set is
    * [[knnGraph]]'s (exactly oracled), and all arithmetic after it is
    * integer micro-units — per-vector density = Σ round(cos·1e6) over
    * its k edges (an integer), and the outlier rule compares
    * `density·n < Σ density` in exact 64-bit math (the D45
    * convention: no float mean ever exists). The reported `density`
    * column is the micro-sum / (k·1e6) — a double derived from the
    * integer, identical in both engines.
    *
    * Scale shape: one partial aggregation over the edge rows (k rows
    * per vector, integer state), a two-long global aggregate
    * broadcast back as a one-row frame. Nothing here exceeds the
    * graph build's own cost.
    *
    * Edgeless vectors (alone in every list they probe — possible on
    * a degenerate or heavily-pruned corpus) are PRESERVED via the
    * left join back to the corpus (the [[knnHubness]] zero-row
    * convention, round 12): micro-sum 0, density 0.0, outlier true —
    * the most isolated vectors are exactly the op's target and must
    * not vanish from the output or the corpus-mean baseline. The
    * divisor stays the constant K by design: an under-full
    * neighborhood contributes fewer cosine terms, and the smaller
    * sum-over-K correctly reads as lower density (dividing by the
    * actual neighbor count would HIDE isolation behind a high mean
    * over two accidental neighbors).
    */
  def knnDensity(s: SparkSession, dir: String): DataFrame =
    knnDensityOn(corpus(s, dir), knnGraph(s, dir))

  /** [[knnDensity]] on a prebuilt edge frame (q_id, vec_id, cos) —
    * the shared-edges seam: a pipeline running several graph riders
    * builds the n^1.5 [[knnGraph]] ONCE (Lineage.cut it) and feeds
    * each rider, instead of paying the build per rider.
    */
  def knnDensityOn(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val m = edges
      .select(col("q_id"), round(col("cos") * 1e6, 0).cast("long").as("m"))
      .groupBy(col("q_id").as("vec_id")).agg(sum(col("m")).as("dm"))
    val dens = nodes.select(col("vec_id"))
      .join(m, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("dm"), lit(0L)).as("dm"))
      .transform(graft.Lineage.cut) // feeds the global stats AND the output
    val tot = dens.agg(sum(col("dm")).as("tot"), count(lit(1)).as("n"))
    dens.crossJoin(broadcast(tot))
      .select(col("vec_id"),
        round(col("dm").cast("double") / (K * 1e6), 6).as("density"),
        (col("dm") * col("n") < col("tot")).as("outlier"))
      .orderBy("vec_id")
  }

  /** D51: kNN label propagation — each vector's predicted label is
    * the majority vote of its [[knnGraph]] neighbors' labels
    * (one-hop semi-supervised classification: spread sparse human
    * curation labels — quality tiers, topics, safety flags — to the
    * unlabeled bulk through embedding space; k-fixed, so also the
    * standard leave-one-out kNN-accuracy audit of how label-coherent
    * an embedding model is). Tie-break: the SMALLEST label among
    * tied counts (deterministic; no vote ordering exists to disagree
    * on).
    *
    * Scale shape: the edge→label join keys on vec_id (unique —
    * unskewable); the vote count and the argmax are BOTH partial
    * aggregations (`max_by(label, (cnt, −label))` — one row of state
    * per (vector, label), then per vector), so a dominant label is
    * map-side work, never a vector-keyed window.
    */
  def knnClassify(s: SparkSession, dir: String,
      nLists: Int = 0, nProbe: Int = 4): DataFrame =
    knnClassifyOn(knnGraph(s, dir, nLists, nProbe),
      Tables.load(s, dir, "embeddings").select(col("vec_id"), col("label")))

  /** [[knnClassify]] on a prebuilt edge frame + (vec_id, label)
    * table — the shared-edges seam ([[knnDensityOn]]).
    */
  def knnClassifyOn(edges: DataFrame, labels: DataFrame): DataFrame = {
    val votes = edges
      .select(col("q_id"), col("vec_id"))
      .join(labels, "vec_id")
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    val pred = votes.groupBy(col("q_id").as("vec_id"))
      .agg(max_by(col("label"),
        struct(col("cnt"), -col("label"))).as("pred_label"))
    pred.join(labels, "vec_id")
      .select(col("vec_id"), col("label"),
        col("pred_label"), (col("label") === col("pred_label")).as("correct"))
      .orderBy("vec_id")
  }

  /** D52: semantic clusters — connected components of the MUTUAL-kNN
    * graph at a cosine floor (edge u–v iff v ∈ kNN(u) AND u ∈ kNN(v)
    * AND cos ≥ `threshold`): the topic/near-duplicate-neighborhood
    * clustering step of embedding curation (SemDeDup's cluster
    * granularity without a fixed k; mutual-kNN is the standard
    * density trick — a hub vector cannot glue unrelated regions
    * through one-directional edges). Cluster id = the component's
    * smallest vec_id; `cluster_size` rides along.
    *
    * Scale shape: edges are bounded by the graph build (≤ k·n, and
    * the mutual intersect only shrinks them); components via
    * [[Dedup]]'s D4b: union-find on the driver when the edge list fits
    * [[graft.Lineage.fitsDriver]], else the O(log n)-round
    * alternating-star loop (per-round frames are Lineage.cut and
    * freed); the size attach is a groupBy + join-back — a
    * mega-cluster collapses map-side and splits under AQE, never a
    * cluster-keyed window.
    */
  def semanticClusters(s: SparkSession, dir: String,
      threshold: Double = MutualThreshold, nLists: Int = 0, nProbe: Int = 4): DataFrame =
    semanticClustersOn(corpus(s, dir), knnGraph(s, dir, nLists, nProbe),
      threshold)

  /** Undirected mutual-kNN edges (a < b) at the cosine floor — the
    * shared front half of [[semanticClustersOn]] and [[pageRankOn]].
    * `private[graft]` (r16): a multi-rider session ([[graft.Pipeline.graphAudit]])
    * computes this ONCE and feeds both riders through their
    * `*OnMutual` seams — the intersect is a distinct + exchange over
    * the FULL filtered edge list on both sides, and the two riders
    * previously re-derived it identically from the same edge frame
    * (guide §1.2: don't compute things twice).
    */
  /** The default mutual-edge cosine floor shared by
    * [[semanticClusters]], [[pageRank]] and [[graft.Pipeline.graphAudit]]
    * (hoisted r17, ADVICE r16: the audit previously hardcoded 0.3 and
    * could silently diverge from the single-rider seams if the
    * defaults ever moved).
    */
  private[graft] val MutualThreshold = 0.3

  private[graft] def mutualEdges(edges: DataFrame, threshold: Double): DataFrame = {
    val e = edges
      .filter(col("cos") >= threshold)
      .select(col("q_id").as("x"), col("vec_id").as("y"))
      .transform(graft.Lineage.cut) // feeds both sides of the intersect
    e.intersect(e.select(col("y").as("x"), col("x").as("y")))
      .filter(col("x") < col("y"))
      .select(col("x").as("a"), col("y").as("b"))
  }

  /** [[semanticClusters]] on a prebuilt edge frame — the shared-edges
    * seam ([[knnDensityOn]]).
    */
  def semanticClustersOn(nodes: DataFrame, edges: DataFrame,
      threshold: Double = MutualThreshold): DataFrame =
    semanticClustersOnMutual(nodes, mutualEdges(edges, threshold))

  /** [[semanticClustersOn]] past the mutual-edge derivation — the
    * shared-MUTUAL seam for sessions that also run [[pageRankOnMutual]]
    * over the same `mutual` frame (cut it first; both riders traverse
    * it repeatedly). Identical result by construction: the public
    * seam is a delegation.
    */
  private[graft] def semanticClustersOnMutual(nodes: DataFrame,
      mutual: DataFrame): DataFrame = {
    val (labels, _) = Dedup.ccAlternatingStar(
      nodes.select(col("vec_id").as("id")), mutual)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("vec_id"), col("label").as("cluster"),
        col("cluster_size"))
      .orderBy("vec_id")
  }

  /** PageRank fixed point scale: ranks live in integer units of
    * 1e-12 of the total probability mass, so every engine computes
    * the identical 64-bit arithmetic (the D45/D49 convention — no
    * float sum ever exists to disagree on order). 85/100 is the
    * standard 0.85 damping as an exact rational.
    */
  private val PrScale = 1000000000000L
  private val PrIters = 10

  /** D53: PageRank over the mutual-kNN semantic graph — graph
    * centrality as a curation signal (central vectors are the
    * corpus's representative mass, antihubs its isolated noise; the
    * graph-ranking complement of [[knnDensity]]'s local density).
    * Standard power iteration with 0.85 damping on the [[semanticClusters]]
    * edge set (symmetric, so out-degree = degree), run a fixed
    * `PrIters` rounds — INTEGER-EXACT: rank r(v) is a 64-bit count of
    * 1e-12 mass units, each round computes r'(v) = ⌊0.15·SCALE/n⌋ +
    * Σ_{u~v} ⌊85·r(u) / (100·deg(u))⌋, and integer sums are
    * order-independent, so both engines land on the identical fixed
    * point row for row. Dangling vectors (no mutual edge) keep the
    * teleport term only (their damped mass is dropped, the "leaky"
    * formulation — documented, deterministic, and the standard choice
    * when ranking within components). Overflow-safe: r ≤ SCALE=1e12,
    * so 85·r ≤ 8.5e13 ≪ 2⁶³.
    *
    * Scale shape: per round, one join of the rank table to the edge
    * list on the source key (unique per (edge, u) — the hot DESTINATION
    * of a hub vector is a groupBy that collapses map-side) and one
    * partial-aggregated sum per destination; rounds are Lineage.cut
    * and freed like the CC/k-means loops. 10 rounds × O(k·n) edge rows.
    * A symmetric edge list that fits [[graft.Lineage.fitsDriver]] (16
    * bytes a row against the broadcast threshold) skips the rounds'
    * jobs: one collect, then the same 10 integer rounds on the driver
    * ([[DriverGraph.pageRank]]) — the same rows, since the arithmetic
    * is exact.
    */
  def pageRank(s: SparkSession, dir: String,
      threshold: Double = MutualThreshold, nLists: Int = 0, nProbe: Int = 4): DataFrame =
    pageRankOn(corpus(s, dir), knnGraph(s, dir, nLists, nProbe), threshold)

  /** [[pageRank]] on a prebuilt edge frame — the shared-edges seam
    * ([[knnDensityOn]]).
    */
  def pageRankOn(nodeFrame: DataFrame, edges: DataFrame,
      threshold: Double = MutualThreshold): DataFrame =
    pageRankOnMutual(nodeFrame, mutualEdges(edges, threshold))

  /** [[pageRankOn]] past the mutual-edge derivation — the shared-MUTUAL
    * seam ([[semanticClustersOnMutual]]).
    */
  private[graft] def pageRankOnMutual(nodeFrame: DataFrame,
      mutual: DataFrame): DataFrame = {
    val spark = nodeFrame.sparkSession
    val (sym, mSym) = graft.Lineage.cutCounted(
      mutual.select(col("a"), col("b"))
        .unionByName(mutual.select(col("b").as("a"), col("a").as("b"))))
    val n = nodeFrame.select(col("vec_id")).count()
    // an empty node frame has no mass to share: zero rows, not / by zero
    val tele = if (n > 0) 15L * PrScale / (100L * n) else 0L
    val r0 = if (n > 0) PrScale / n else 0L
    // The rank table iterates over the ACTIVE nodes only (ids with
    // >= 1 mutual edge): a dangling node receives no contribution and
    // contributes none, so its rank is the teleport constant after
    // every round; it is attached ONCE after the rounds instead of
    // through a full nodes-frame left join per round.
    val r =
      if (graft.Lineage.fitsDriver(spark, mSym, 16)) {
        val g = DriverGraph.collect(sym)
        graft.Lineage.free(sym)
        DriverGraph.pageRank(spark, g, tele, r0, PrIters)
      } else pageRankLoop(sym, mSym, tele, r0)
    nodeFrame.select(col("vec_id").as("id"))
      .join(r, Seq("id"), "left")
      .select(col("id").as("vec_id"),
        coalesce(col("r"), lit(tele)).as("pr_micro"),
        round(coalesce(col("r"), lit(tele)).cast("double") / PrScale, 6)
          .as("pagerank"))
      .orderBy("vec_id")
  }

  /** The distributed power iteration over the cut symmetric edge list
    * `sym` of `mSym` rows (freed here); returns the active nodes'
    * (id, r) after [[PrIters]] rounds. The symmetric edge list
    * guarantees every active node receives >= 1 contribution per
    * round, so `contrib` covers the active set exactly.
    */
  private def pageRankLoop(sym: DataFrame, mSym: Long, tele: Long,
      r0: Long): DataFrame = {
    val deg = sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
    // deg is LOOP-INVARIANT: fold it into the edge list once, so each
    // of the PrIters rounds pays ONE rank join instead of two (round
    // 12 — measured ~2x on the loop's join work; the cut frame is
    // (a, b, deg), 3 longs per directed edge).
    //
    // r17, guide §2.4: the loop frames are cut behind PLAIN-hash
    // `repartition(w, key)` roots at one shared scale-adaptive width,
    // so the per-round join finds BOTH sides co-partitioned and plans
    // ZERO loop-state exchanges — before this, EnsureRequirements
    // re-shuffled the loop-invariant symDeg AND the rank table at
    // AQE's 1024 initial width EVERY round (r16 §4 negative finding
    // 3: a cut frame's AQE-coalesced width never satisfies the join's
    // co-partition negotiation).
    val w = graft.Lineage.loopWidth(sym.sparkSession, mSym, 32)
    val symDeg = sym.join(deg.withColumnRenamed("id", "a"), "a")
      .repartition(w, col("a"))
      .transform(graft.Lineage.cut)
    var r = deg.select(col("id"), lit(r0).as("r"))
      .repartition(w, col("id"))
      .transform(graft.Lineage.cut)
    graft.Lineage.free(sym)
    for (_ <- 1 to PrIters) {
      val contrib = symDeg
        // build side is the n-row rank table: hash build per
        // co-partitioned task, no per-round sort (SMJ would sort the
        // cached symDeg every round)
        .join(r.withColumnRenamed("id", "a").hint("shuffle_hash"), "a")
        .select(col("b").as("id"),
          expr("(85 * r) div (100 * deg)").as("c"))
        .groupBy("id").agg(sum(col("c")).as("c"))
      val next = contrib
        .select(col("id"), (lit(tele) + col("c")).as("r"))
        .repartition(w, col("id"))
        .transform(graft.Lineage.cut)
      graft.Lineage.free(r)
      r = next
    }
    graft.Lineage.free(symDeg)
    r
  }

  /** D54: hubness audit of the embedding space — per vector, the
    * IN-degree of the directed kNN graph (how many vectors chose it
    * as a neighbor). High-dimensional spaces concentrate neighbor
    * choices onto hub points (Radovanović et al. JMLR 2010), which
    * distorts every kNN-derived curation signal; the audit flags
    * `hub` (in-degree > 2k) and `antihub` (in-degree 0 — chosen by
    * nobody, invisible to the graph family). Out-degree is k by
    * construction, so in-degree is the whole story.
    *
    * Scale shape: one partial-aggregated count over the edge rows
    * keyed by the NEIGHBOR id (a hub key collapses map-side), left
    * join back to the corpus for the zero rows.
    */
  def knnHubness(s: SparkSession, dir: String,
      nLists: Int = 0, nProbe: Int = 4): DataFrame =
    knnHubnessOn(corpus(s, dir), knnGraph(s, dir, nLists, nProbe))

  /** [[knnHubness]] on a prebuilt edge frame — the shared-edges seam
    * ([[knnDensityOn]]).
    */
  def knnHubnessOn(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val indeg = edges
      .groupBy(col("vec_id")).agg(count(lit(1)).as("in_degree"))
    nodes.select(col("vec_id"))
      .join(indeg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .withColumn("hub", col("in_degree") > 2 * K)
      .withColumn("antihub", col("in_degree") === 0)
      .orderBy("vec_id")
  }

  /** D45: prototypicality pruning — score every vector by its cosine
    * to its own cluster centroid (the SSL-prototypes metric of
    * Sorscher et al. 2022, "Beyond neural scaling laws": examples
    * very close to their cluster prototype are the easy/redundant
    * mass a data-pruned corpus sheds first) and flag the keep set as
    * the vectors at-or-below their cluster's MEAN prototypicality —
    * i.e. keep the harder, more informative half of every cluster.
    *
    * The keep rule compares in integer micro-units (`micro =
    * round(cos·1e6)` as a BIGINT; keep ⇔ `micro·n ≤ Σ micro` over the
    * cluster): both engines do exact 64-bit arithmetic, so the
    * comparison cannot drift on float summation order — the mean
    * never exists as a float at all (the `text_dsir` −0.0 lesson,
    * applied before the knife-edge instead of after).
    *
    * Scale shape: the assignment is the broadcast-centroid row-local
    * map [[embedKmeansOn]] already is; the per-cluster statistics are
    * ONE partial aggregation with two longs of state per cluster (a
    * viral cluster — the dominant crawl mode — collapses map-side,
    * the [[Collapse]] argument); the stats table is k rows, broadcast
    * back. No cluster-keyed window anywhere.
    */
  def sampleProtoPrune(s: SparkSession, dir: String): DataFrame = {
    val assign = embedKmeansOn(corpus(s, dir), sorted = false)
      .withColumn("micro", round(col("cos") * 1e6, 0).cast("long"))
      // feeds both the stats aggregate and the join-back — without the
      // cut the CosBest assignment map runs twice
      .transform(graft.Lineage.cut)
    val stats = assign.groupBy("pid")
      .agg(sum(col("micro")).as("msum"), count(lit(1)).as("n"))
    assign.join(broadcast(stats), "pid")
      .select(col("vec_id"), col("pid"), col("cos"),
        (col("micro") * col("n") <= col("msum")).as("keep"))
      .orderBy("vec_id")
  }

  /** The trained centers themselves (init + `iters` Lloyd steps) —
    * what [[embedKmeansOn]] assigns against, exposed so downstream
    * structures can consume CENTERS rather than assignments (the IVF
    * trained-pivot path, [[annIvf]] `pivots = "kmeans"`). `vecsIn`
    * should already be cached by the caller when it has further
    * consumers (the centroid loop alone scans it 2·iters+1 times).
    */
  private[ops] def lloydCentroids(vecs: DataFrame, k: Int,
      iters: Int, orderedFold: Boolean,
      init: String): Array[(Int, Array[Double])] = {
    var centroids: Array[(Int, Array[Double])] = init match {
      case "hash" => hashInit(vecs, k)
      case "parallel" => kmeansParInit(vecs, k)
      case other => throw new IllegalArgumentException(
        s"unknown init '$other' (hash | parallel)")
    }

    def best(emb: Column): Column = bestOf(emb, centroids.toIndexedSeq)

    for (_ <- 1 to iters) {
      val assigned = vecs
        .withColumn("pid", best(col("embedding")).getField("pid"))
        .select(col("vec_id"), col("pid"), posexplode(col("embedding")))
      // orderedFold = the oracle-able formulation (vec_id-ordered sum,
      // bit-reproducible, collect_list bounded by cluster size);
      // orderedFold = false is the PRODUCTION update — a plain
      // partial-aggregated mean, order-free and cluster-size-unbounded,
      // equal to within last-ulp noise (assignment equality at test
      // scale is spec-pinned)
      val meanCol =
        if (orderedFold)
          aggregate(
            array_sort(collect_list(struct(col("vec_id"),
              col("col").cast("double").as("v")))),
            lit(0.0), (a, x) => a + x.getField("v")) / count(lit(1))
        else avg(col("col").cast("double"))
      val updated = assigned
        .groupBy("pid", "pos")
        .agg(meanCol.as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (pid, rows) =>
          pid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
        }
      // an emptied cluster keeps its previous centroid
      centroids = centroids.map { case (pid, old) =>
        pid -> updated.getOrElse(pid, old)
      }
    }
    centroids
  }

  /** The unrolled-Lloyd CTE chain of the `embed_kmeans` oracle (ends
    * at `f(vec_id, pid, cos)` — the final assignment), shared with the
    * `dedup_semantic` oracle which composes intra-cluster near-dup on
    * top of the same bit-exact assignment.
    *
    * Similarity scans (`s1`/`s2`) fold per-VECTOR arrays
    * (`list_transform(range, i -> e[i]*ce[i])` then a left fold) off a
    * vectors × k cross join, NOT a vec×dim×pid explode grouped back
    * into fold lists: the products and the left-to-right fold order
    * are identical doubles either way, but the explode form
    * materialized ~n·d·k join rows with three n·d·k-element list
    * aggregates — the DuckDB-side OOM that kept this oracle out of
    * the sf10 sweep (200k×64×8 ≈ 10⁸ rows). The mean update keeps the
    * per-dim vec_id-ordered fold (n·d list elements — bounded) which
    * matches the engine's orderedFold update bit-for-bit.
    */
  private[ops] val KmeansCtes: String =
      """v AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |vd AS MATERIALIZED (
        |  SELECT vec_id, i AS dim, e[i] AS val
        |  FROM (SELECT vec_id, e, unnest(range(1, len(e) + 1)) AS i FROM v)),
        |piv AS MATERIALIZED (
        |  SELECT vec_id, row_number() OVER (
        |           ORDER BY md5('km:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS pid
        |  FROM v),
        |c0 AS MATERIALIZED (
        |  SELECT p.pid, v.e AS ce
        |  FROM piv p JOIN v USING (vec_id) WHERE p.pid < 8),
        |s1 AS MATERIALIZED (
        |  SELECT v.vec_id, c.pid,
        |         list_reduce(list_transform(range(1, len(v.e) + 1),
        |           i -> v.e[i] * c.ce[i]), (x, y) -> x + y) AS dot,
        |         sqrt(list_reduce(list_transform(range(1, len(v.e) + 1),
        |           i -> v.e[i] * v.e[i]), (x, y) -> x + y)) AS sna,
        |         sqrt(list_reduce(list_transform(range(1, len(c.ce) + 1),
        |           i -> c.ce[i] * c.ce[i]), (x, y) -> x + y)) AS snb
        |  FROM v CROSS JOIN c0 c),
        |a1 AS MATERIALIZED (
        |  SELECT vec_id, pid FROM (
        |    SELECT vec_id, pid, row_number() OVER (PARTITION BY vec_id
        |             ORDER BY CASE WHEN sna * snb = 0 THEN 0.0
        |                           ELSE dot / (sna * snb) END DESC,
        |                      pid DESC) AS rk
        |    FROM s1) WHERE rk = 1),
        |c0d AS MATERIALIZED (
        |  SELECT pid, i AS dim, ce[i] AS cval
        |  FROM (SELECT pid, ce, unnest(range(1, len(ce) + 1)) AS i FROM c0)),
        |c1 AS MATERIALIZED (
        |  SELECT c.pid, c.dim, COALESCE(u.m, c.cval) AS cval
        |  FROM c0d c LEFT JOIN (
        |    SELECT a.pid, d.dim,
        |           list_reduce(list(d.val ORDER BY d.vec_id), (x, y) -> x + y)
        |             / count(*) AS m
        |    FROM a1 a JOIN vd d USING (vec_id)
        |    GROUP BY a.pid, d.dim) u
        |  ON c.pid = u.pid AND c.dim = u.dim),
        |c1a AS MATERIALIZED (
        |  SELECT pid, list(cval ORDER BY dim) AS ce FROM c1 GROUP BY pid),
        |s2 AS MATERIALIZED (
        |  SELECT v.vec_id, c.pid,
        |         list_reduce(list_transform(range(1, len(v.e) + 1),
        |           i -> v.e[i] * c.ce[i]), (x, y) -> x + y) AS dot,
        |         sqrt(list_reduce(list_transform(range(1, len(v.e) + 1),
        |           i -> v.e[i] * v.e[i]), (x, y) -> x + y)) AS sna,
        |         sqrt(list_reduce(list_transform(range(1, len(c.ce) + 1),
        |           i -> c.ce[i] * c.ce[i]), (x, y) -> x + y)) AS snb
        |  FROM v CROSS JOIN c1a c),
        |f AS MATERIALIZED (
        |  SELECT vec_id, pid, cos FROM (
        |    SELECT vec_id, pid,
        |           CASE WHEN sna * snb = 0 THEN 0.0
        |                ELSE dot / (sna * snb) END AS cos,
        |           row_number() OVER (PARTITION BY vec_id
        |             ORDER BY CASE WHEN sna * snb = 0 THEN 0.0
        |                           ELSE dot / (sna * snb) END DESC,
        |                      pid DESC) AS rk
        |    FROM s2) WHERE rk = 1)""".stripMargin

  /** The `ann_ivfpq` oracle (round 15 — closes the last trainable
    * rows-only key): the WHOLE trained pipeline re-derived in SQL —
    * codebook init (k smallest md5('pq:'||vec_id)), two unrolled
    * fused-Lloyd iterations (the [[KmeansCtes]] pattern per subspace:
    * argmax(dot − ‖c‖²/2) assignment with ties to the LARGER code —
    * [[graft.functions.PqEncode]]'s Double.compare `>=` update — and
    * the vec_id-ordered mean fold [[pqCodebooks]] uses under
    * `orderedFold`), corpus encode, IVF probe (the ann_ivf CTEs
    * verbatim), per-query ADC tables with the engine's exact fold
    * orders (subspace dot / qn per entry, then the mi-ordered left
    * fold — sums of identical doubles in identical order on both
    * engines), acos-ranked rerank-candidate cut (TopKAgg order:
    * acos DESC, vec_id ASC), and the exact cosine top-K re-rank.
    * Every double on the compare surface is bit-reproducible because
    * every fold order matches; no sketch, no loss — which is why this
    * key was never rows-only "by nature", just unfinished.
    */
  private def ivfPqOracle: String = {
    val (m, k) = (PqM, PqK)
    // one fused-Lloyd step: assignment vs b{t-1}, ordered-fold means,
    // reassembled b{t} (+ its per-dim explode for the next step)
    def step(t: Int): String =
      s"""s$t AS MATERIALIZED (
         |  SELECT s.vec_id, s.mi, b.code,
         |         list_reduce(list_transform(range(1, len(s.se) + 1),
         |             j -> s.se[j] * b.ce[j]), (x, y) -> x + y)
         |           - list_reduce(list_transform(b.ce, x -> x * x),
         |               (x, y) -> x + y) / 2.0 AS sc
         |  FROM vsub s JOIN b${t - 1} b ON s.mi = b.mi),
         |a$t AS MATERIALIZED (
         |  SELECT vec_id, mi, code FROM (
         |    SELECT vec_id, mi, code, row_number() OVER (
         |        PARTITION BY vec_id, mi ORDER BY sc DESC, code DESC) AS rk
         |    FROM s$t) WHERE rk = 1),
         |u$t AS MATERIALIZED (
         |  SELECT a.mi, a.code, d.pos,
         |         list_reduce(list(d.val ORDER BY d.vec_id), (x, y) -> x + y)
         |           / count(*) AS mv
         |  FROM a$t a JOIN vsubd d ON a.vec_id = d.vec_id AND a.mi = d.mi
         |  GROUP BY a.mi, a.code, d.pos),
         |b$t AS MATERIALIZED (
         |  SELECT c.mi, c.code,
         |         list(COALESCE(u.mv, c.cval) ORDER BY c.pos) AS ce
         |  FROM b${t - 1}d c LEFT JOIN u$t u
         |    ON c.mi = u.mi AND c.code = u.code AND c.pos = u.pos
         |  GROUP BY c.mi, c.code),
         |b${t}d AS MATERIALIZED (
         |  SELECT mi, code, pos, ce[pos] AS cval
         |  FROM (SELECT mi, code, ce, unnest(range(1, len(ce) + 1)) AS pos
         |        FROM b$t))""".stripMargin
    s"""WITH v AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |dim AS MATERIALIZED (SELECT len(e) // $m AS ds FROM v LIMIT 1),
       |mis AS MATERIALIZED (SELECT unnest(range(0, $m)) AS mi),
       |vsub AS MATERIALIZED (
       |  SELECT v.vec_id, m.mi,
       |         list_transform(range(1, d.ds + 1),
       |           j -> v.e[m.mi * d.ds + j]) AS se
       |  FROM v CROSS JOIN mis m CROSS JOIN dim d),
       |vsubd AS MATERIALIZED (
       |  SELECT vec_id, mi, pos, se[pos] AS val
       |  FROM (SELECT vec_id, mi, se, unnest(range(1, len(se) + 1)) AS pos
       |        FROM vsub)),
       |binit AS MATERIALIZED (
       |  SELECT vec_id, row_number() OVER (
       |      ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
       |  FROM v
       |  QUALIFY row_number() OVER (
       |      ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id) <= $k),
       |b0 AS MATERIALIZED (
       |  SELECT s.mi, b.code, s.se AS ce
       |  FROM binit b JOIN vsub s USING (vec_id)),
       |b0d AS MATERIALIZED (
       |  SELECT mi, code, pos, ce[pos] AS cval
       |  FROM (SELECT mi, code, ce, unnest(range(1, len(ce) + 1)) AS pos
       |        FROM b0)),
       |${step(1)},
       |${step(2)},
       |s3 AS MATERIALIZED (
       |  SELECT s.vec_id, s.mi, b.code,
       |         list_reduce(list_transform(range(1, len(s.se) + 1),
       |             j -> s.se[j] * b.ce[j]), (x, y) -> x + y)
       |           - list_reduce(list_transform(b.ce, x -> x * x),
       |               (x, y) -> x + y) / 2.0 AS sc
       |  FROM vsub s JOIN b2 b ON s.mi = b.mi),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, mi, code FROM (
       |    SELECT vec_id, mi, code, row_number() OVER (
       |        PARTITION BY vec_id, mi ORDER BY sc DESC, code DESC) AS rk
       |    FROM s3) WHERE rk = 1),
       |piv AS (
       |  SELECT vec_id AS pid, embedding AS pvec
       |  FROM embeddings
       |  ORDER BY md5('ivf:' || CAST(vec_id AS VARCHAR)), vec_id
       |  LIMIT $NLists),
       |assign AS (
       |  SELECT c.vec_id, p.pid,
       |         row_number() OVER (PARTITION BY c.vec_id
       |           ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
       |                                           CAST(p.pvec AS DOUBLE[])) DESC,
       |                    p.pid DESC) AS rn
       |  FROM embeddings c CROSS JOIN piv p),
       |lists AS (SELECT vec_id, pid FROM assign WHERE rn = 1),
       |qprobe AS (
       |  SELECT q.vec_id AS q_id, p.pid,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                           CAST(p.pvec AS DOUBLE[])) DESC,
       |                    p.pid DESC) AS rn
       |  FROM embeddings q CROSS JOIN piv p
       |  WHERE q.vec_id < $NQueries),
       |qv AS MATERIALIZED (
       |  SELECT vec_id AS q_id, e AS qe,
       |         sqrt(list_reduce(list_transform(e, x -> x * x),
       |           (x, y) -> x + y)) AS qn
       |  FROM v WHERE vec_id < $NQueries),
       |qsub AS MATERIALIZED (
       |  SELECT q.q_id, m.mi,
       |         list_transform(range(1, d.ds + 1),
       |           j -> q.qe[m.mi * d.ds + j]) AS qs,
       |         q.qn
       |  FROM qv q CROSS JOIN mis m CROSS JOIN dim d),
       |adc AS MATERIALIZED (
       |  SELECT q.q_id, b.mi, b.code,
       |         CASE WHEN q.qn = 0 THEN 0.0
       |              ELSE list_reduce(list_transform(range(1, len(b.ce) + 1),
       |                     j -> q.qs[j] * b.ce[j]), (x, y) -> x + y) / q.qn
       |         END AS av,
       |         list_reduce(list_transform(b.ce, x -> x * x),
       |           (x, y) -> x + y) AS nt
       |  FROM qsub q JOIN b2 b ON q.mi = b.mi),
       |cand0 AS (
       |  SELECT qp.q_id, l.vec_id
       |  FROM qprobe qp JOIN lists l ON l.pid = qp.pid
       |  WHERE qp.rn <= $NProbe),
       |acand AS MATERIALIZED (
       |  SELECT c0.q_id, c0.vec_id,
       |         list_reduce(list(a.av ORDER BY a.mi), (x, y) -> x + y) AS adot,
       |         list_reduce(list(a.nt ORDER BY a.mi), (x, y) -> x + y) AS an2
       |  FROM cand0 c0
       |  JOIN codes c ON c.vec_id = c0.vec_id
       |  JOIN adc a ON a.q_id = c0.q_id AND a.mi = c.mi AND a.code = c.code
       |  GROUP BY c0.q_id, c0.vec_id),
       |rr AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |        ORDER BY CASE WHEN an2 > 0 THEN adot / sqrt(an2)
       |                      ELSE 0.0 END DESC,
       |                 vec_id) AS rk
       |    FROM acand) WHERE rk <= $PqRerank),
       |exact AS (
       |  SELECT r.q_id, r.vec_id,
       |         list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
       |                                CAST(q.embedding AS DOUBLE[])) AS cos
       |  FROM rr r
       |  JOIN embeddings c ON c.vec_id = r.vec_id
       |  JOIN embeddings q ON q.vec_id = r.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY cos DESC, vec_id) AS rank
       |  FROM exact)
       |SELECT q_id, rank, vec_id, round(cos, 6) AS cos
       |FROM ranked WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  }

  /** The [[knnGraph]] oracle CTE chain (ends at `knn(q_id, rank,
    * vec_id, cos)` — the exact edge set at default dials), shared
    * with the `knn_density` oracle so the two cannot drift. The
    * bounded sf10 sweep (tools/sweep_sf10.py) textually narrows the
    * `qprobe` CTE to a strided query sample — keep its shape in sync.
    */
  private[ops] val KnnCtes: String =
    s"""piv AS (
       |  SELECT vec_id AS pid, embedding AS pvec
       |  FROM embeddings
       |  QUALIFY row_number() OVER (
       |      ORDER BY md5('ivf:' || CAST(vec_id AS VARCHAR)), vec_id)
       |    <= GREATEST(16, CAST(ceil(sqrt(
       |         (SELECT count(*) FROM embeddings))) AS BIGINT))),
       |r AS (
       |  SELECT c.vec_id, p.pid,
       |         row_number() OVER (PARTITION BY c.vec_id
       |           ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
       |                                           CAST(p.pvec AS DOUBLE[])) DESC,
       |                    p.pid DESC) AS rn
       |  FROM embeddings c CROSS JOIN piv p),
       |lists AS (SELECT vec_id, pid FROM r WHERE rn = 1),
       |qprobe AS (SELECT vec_id AS q_id, pid FROM r WHERE rn <= 4),
       |scored AS (
       |  SELECT qp.q_id, l.vec_id,
       |         list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
       |                                CAST(q.embedding AS DOUBLE[])) AS cos
       |  FROM qprobe qp
       |  JOIN lists l USING (pid)
       |  JOIN embeddings c ON c.vec_id = l.vec_id
       |  JOIN embeddings q ON q.vec_id = qp.q_id
       |  WHERE l.vec_id <> qp.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored),
       |knn AS (SELECT q_id, rank, vec_id, cos
       |        FROM ranked WHERE rank <= $K)""".stripMargin

  /** The mutual-kNN edge CTE chain on top of [[KnnCtes]] (ends at
    * `sym(a, b)`, the symmetric edge list at the default 0.3 floor) —
    * shared by the `semantic_clusters` and `pagerank` oracles so the
    * edge definition has one source of truth.
    */
  private[ops] val MutualCtes: String =
    s"""$KnnCtes,
       |ed AS MATERIALIZED (
       |  SELECT q_id AS x, vec_id AS y FROM knn
       |  WHERE round(cos, 6) >= 0.3),
       |mut AS MATERIALIZED (
       |  SELECT a.x AS a, a.y AS b
       |  FROM ed a JOIN ed b ON a.x = b.y AND a.y = b.x
       |  WHERE a.x < a.y),
       |sym AS (SELECT a, b FROM mut UNION SELECT b AS a, a AS b FROM mut)""".stripMargin

  /** The unrolled-power-iteration PageRank oracle (the KmeansCtes
    * unrolled-Lloyd pattern): integer mass units, BIGINT-cast sums
    * (DuckDB sum() is HUGEINT — the dtype-sensitive driver lesson).
    */
  private def pageRankOracle: String = {
    val rounds = (1 to PrIters).map { k =>
      s"""r$k AS (
         |  SELECT e2.vec_id AS id,
         |         CAST(t.t + coalesce(c.c, 0) AS BIGINT) AS r
         |  FROM embeddings e2 CROSS JOIN tele t
         |  LEFT JOIN (
         |    SELECT s.b AS id,
         |           CAST(sum((85 * r.r) // (100 * d.deg)) AS BIGINT) AS c
         |    FROM sym s JOIN r${k - 1} r ON r.id = s.a
         |    JOIN deg d ON d.id = s.a
         |    GROUP BY s.b) c ON c.id = e2.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $MutualCtes,
       |deg AS MATERIALIZED (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg
       |  FROM sym GROUP BY a),
       |tele AS (SELECT (15 * $PrScale) // (100 * count(*)) AS t FROM embeddings),
       |r0 AS (SELECT vec_id AS id,
       |  (SELECT $PrScale // count(*) FROM embeddings) AS r FROM embeddings),
       |$rounds
       |SELECT id AS vec_id, r AS pr_micro,
       |       round(CAST(r AS DOUBLE) / $PrScale, 6) AS pagerank
       |FROM r$PrIters ORDER BY vec_id""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    Q("ann_bruteforce", annBruteforce, Some(
      s"""WITH scored AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |         list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
         |                                CAST(q.embedding AS DOUBLE[])) AS cos
         |  FROM embeddings c, embeddings q WHERE q.vec_id < $NQueries),
         |ranked AS (
         |  SELECT q_id, vec_id, cos,
         |         row_number() OVER (PARTITION BY q_id
         |                            ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT q_id, rank, vec_id, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= $K ORDER BY q_id, rank""".stripMargin)),
    // quantized search: the code dots are exact integer sums, so the
    // ranking is bit-identical across engines (no fold-order care);
    // the quantization CTE is the embed_quantize formulation verbatim
    Q("ann_quantized", (s, d) => annQuantized(s, d), Some(
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |cs AS (
         |  SELECT vec_id, e,
         |    CASE WHEN len(e) = 0 THEN 0.0
         |         ELSE list_reduce(list_transform(e, x -> abs(x)),
         |                (a, b) -> greatest(a, b)) / 127.0 END AS scale
         |  FROM v),
         |codes AS (
         |  SELECT vec_id,
         |    CASE WHEN scale = 0 THEN list_transform(e, x -> 0.0)
         |         ELSE list_transform(e, x -> floor(x / scale + 0.5)) END AS c
         |  FROM cs),
         |scored AS (
         |  SELECT q.vec_id AS q_id, d.vec_id AS vec_id,
         |         list_cosine_similarity(d.c, q.c) AS cos
         |  FROM codes d, codes q WHERE q.vec_id < $NQueries),
         |ranked AS (
         |  SELECT q_id, vec_id, cos,
         |         row_number() OVER (PARTITION BY q_id
         |                            ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT q_id, rank, vec_id, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= $K ORDER BY q_id, rank""".stripMargin)),
    // FULL hash oracle since r14: SrpSig's hyperplane family replayed
    // through the Murmur3 CTE chains (HashOracles.srpLshOracle)
    Q("ann_lsh", (s, d) => annLsh(s, d),
      Some(HashOracles.srpLshOracle(PlanesPerTable, NTables, 2, NQueries, K))),
    // rows-only by nature (trained pivots + trained codebooks — the
    // D7 convention): fidelity pinned by the recall spec instead
    Q("ann_ivfpq", (s, d) => annIvfPq(s, d), Some(ivfPqOracle)),
    // exact oracle: pivots, assignment, probes and ranking are all
    // deterministic SQL; cosine ties resolve identically because both
    // engines accumulate the double dot/norms in array order
    Q("ann_ivf", (s, d) => annIvf(s, d), Some(
      s"""WITH piv AS (
         |  SELECT vec_id AS pid, embedding AS pvec
         |  FROM embeddings
         |  ORDER BY md5('ivf:' || CAST(vec_id AS VARCHAR)), vec_id
         |  LIMIT $NLists),
         |assign AS (
         |  SELECT c.vec_id, p.pid,
         |         row_number() OVER (PARTITION BY c.vec_id
         |           ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
         |                                           CAST(p.pvec AS DOUBLE[])) DESC,
         |                    p.pid DESC) AS rn
         |  FROM embeddings c CROSS JOIN piv p),
         |lists AS (SELECT vec_id, pid FROM assign WHERE rn = 1),
         |qprobe AS (
         |  SELECT q.vec_id AS q_id, p.pid,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |                                           CAST(p.pvec AS DOUBLE[])) DESC,
         |                    p.pid DESC) AS rn
         |  FROM embeddings q CROSS JOIN piv p
         |  WHERE q.vec_id < $NQueries),
         |scored AS (
         |  SELECT qp.q_id, l.vec_id,
         |         list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
         |                                CAST(q.embedding AS DOUBLE[])) AS cos
         |  FROM qprobe qp
         |  JOIN lists l ON l.pid = qp.pid
         |  JOIN embeddings c ON c.vec_id = l.vec_id
         |  JOIN embeddings q ON q.vec_id = qp.q_id
         |  WHERE qp.rn <= $NProbe),
         |ranked AS (
         |  SELECT q_id, vec_id, cos,
         |         row_number() OVER (PARTITION BY q_id
         |                            ORDER BY cos DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT q_id, rank, vec_id, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= $K ORDER BY q_id, rank""".stripMargin)),
    // per-element arithmetic is single correctly-rounded IEEE ops on
    // both engines (see embedQuantize scaladoc); floor-then-cast, not
    // a bare double→int cast
    Q("embed_quantize", (s, d) => embedQuantize(s, d), Some(
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |q AS (
        |  SELECT vec_id, e,
        |    CASE WHEN len(e) = 0 THEN 0.0
        |         ELSE list_reduce(list_transform(e, x -> abs(x)),
        |                (a, b) -> greatest(a, b)) / 127.0 END AS scale
        |  FROM v),
        |c AS (
        |  SELECT vec_id, e, scale,
        |    CASE WHEN scale = 0
        |         THEN list_transform(e, x -> CAST(0 AS INTEGER))
        |         ELSE list_transform(e, x ->
        |           CAST(floor(x / scale + 0.5) AS INTEGER)) END AS codes
        |  FROM q)
        |SELECT vec_id, scale,
        |  array_to_string(list_transform(codes, x -> CAST(x AS VARCHAR)),
        |                  ',') AS codes,
        |  CASE WHEN scale = 0 THEN 0.0
        |       ELSE list_reduce(list_transform(range(1, len(e) + 1), i ->
        |              (e[i] - codes[i] * scale) * (e[i] - codes[i] * scale)),
        |              (x, y) -> x + y) / len(e) END AS mse
        |FROM c ORDER BY vec_id""".stripMargin)),
    // full unrolled re-derivation of one Lloyd step: DuckDB rebuilds
    // the hash-chosen centroids, the dim-ordered similarity folds, the
    // vec_id-ordered mean folds and the (cos desc, pid desc) argmax —
    // every float op is correctly-rounded IEEE applied in the same
    // order, so assignment matches bit-for-bit, not just to tolerance
    Q("embed_kmeans", (s, d) => embedKmeans(s, d), Some(
      s"""WITH $KmeansCtes
         |SELECT vec_id, CAST(pid AS INTEGER) AS pid, round(cos, 6) AS cos
         |FROM f ORDER BY vec_id""".stripMargin)),
    // the balanced subsample rides the same bit-exact assignment CTEs;
    // the oracle ranks by the raw hex prefix while the engine ranks by
    // its numeric value — identical order (fixed-width lowercase hex)
    Q("sample_cluster_balanced", (s, d) => sampleClusterBalanced(s, d),
      Some(s"""WITH $KmeansCtes,
         |r AS (
         |  SELECT pid, vec_id, row_number() OVER (PARTITION BY pid
         |           ORDER BY substr(md5('cb:' || CAST(vec_id AS VARCHAR)), 1, 8),
         |                    vec_id) AS rk
         |  FROM f)
         |SELECT CAST(pid AS INTEGER) AS pid, rk, vec_id
         |FROM r WHERE rk <= 25 ORDER BY pid, rk""".stripMargin)),
    // prototypicality rides the same bit-exact assignment; the keep
    // rule compares integer micro-units (round(cos·1e6) as BIGINT), so
    // no float mean ever exists to disagree on summation order
    Q("sample_proto_prune", (s, d) => sampleProtoPrune(s, d),
      Some(s"""WITH $KmeansCtes,
         |m AS (
         |  SELECT vec_id, pid, round(cos, 6) AS cos,
         |         CAST(round(round(cos, 6) * 1e6) AS BIGINT) AS micro
         |  FROM f),
         |st AS (SELECT pid, sum(micro) AS msum, count(*) AS n
         |       FROM m GROUP BY pid)
         |SELECT m.vec_id, CAST(m.pid AS INTEGER) AS pid, m.cos,
         |       m.micro * st.n <= st.msum AS keep
         |FROM m JOIN st USING (pid) ORDER BY m.vec_id""".stripMargin)),
    // exact oracle, the ann_ivf convention with the corpus as its own
    // query set: one ranking CTE feeds both the list assignment
    // (rn = 1) and the probe set (rn <= nProbe); self-edges excluded;
    // the pivot count re-derives the engine's adaptive max(16, ceil
    // sqrt(n)) — IEEE sqrt is correctly rounded in both engines
    Q("knn_graph", (s, d) => knnGraph(s, d), Some(
      s"""WITH $KnnCtes
         |SELECT q_id, rank, vec_id, round(cos, 6) AS cos
         |FROM knn ORDER BY q_id, rank""".stripMargin)),
    // density rides the same edge CTEs; everything after the edges is
    // integer micro-unit arithmetic (the sample_proto_prune rule), so
    // neither engine ever materializes a float mean. The left join to
    // embeddings preserves edgeless vectors as micro-sum 0 (the
    // engine's zero-row convention, round 12)
    Q("knn_density", (s, d) => knnDensity(s, d), Some(
      s"""WITH $KnnCtes,
         |ds AS (
         |  SELECT q_id AS vec_id,
         |         sum(CAST(round(round(cos, 6) * 1e6) AS BIGINT)) AS dm
         |  FROM knn GROUP BY q_id),
         |dm AS (
         |  SELECT e.vec_id, COALESCE(ds.dm, 0) AS dm
         |  FROM embeddings e LEFT JOIN ds ON ds.vec_id = e.vec_id),
         |tot AS (SELECT sum(dm) AS tot, count(*) AS n FROM dm)
         |SELECT vec_id, round(CAST(dm AS DOUBLE) / ${K * 1e6}, 6) AS density,
         |       dm * tot.n < tot.tot AS outlier
         |FROM dm CROSS JOIN tot ORDER BY vec_id""".stripMargin)),
    // majority vote over the shared edge CTEs; the row_number twin of
    // the engine's max_by(label, (cnt, -label)) argmax
    Q("knn_classify", (s, d) => knnClassify(s, d), Some(
      s"""WITH $KnnCtes,
         |v AS (
         |  SELECT k.q_id, e.label, count(*) AS cnt
         |  FROM knn k JOIN embeddings e ON e.vec_id = k.vec_id
         |  GROUP BY k.q_id, e.label),
         |p AS (
         |  SELECT q_id AS vec_id, label AS pred_label,
         |         row_number() OVER (PARTITION BY q_id
         |                            ORDER BY cnt DESC, label) AS rk
         |  FROM v)
         |SELECT p.vec_id, e.label, p.pred_label,
         |       e.label = p.pred_label AS correct
         |FROM p JOIN embeddings e ON e.vec_id = p.vec_id
         |WHERE p.rk = 1 ORDER BY p.vec_id""".stripMargin)),
    // mutual-kNN edges at the rounded-cosine floor (the engine
    // filters the same 6dp value), reachability closure -> component
    // min — the dedup_clusters oracle pattern on the knn edge set
    Q("semantic_clusters", (s, d) => semanticClusters(s, d), Some(
      s"""WITH RECURSIVE $MutualCtes,
         |reach AS (
         |  SELECT vec_id AS id, vec_id AS r FROM embeddings
         |  UNION
         |  SELECT sym.b AS id, reach.r FROM reach JOIN sym ON sym.a = reach.id),
         |cc AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         |sz AS (SELECT cluster, count(*) AS cluster_size FROM cc GROUP BY cluster)
         |SELECT cc.id AS vec_id, cc.cluster, sz.cluster_size
         |FROM cc JOIN sz USING (cluster) ORDER BY vec_id""".stripMargin)),
    // integer-exact unrolled power iteration over the shared mutual
    // edge CTEs — order-independent 64-bit sums, identical fixed point
    Q("pagerank", (s, d) => pageRank(s, d), Some(pageRankOracle)),
    // in-degree of the directed knn edges, zero rows preserved
    Q("knn_hubness", (s, d) => knnHubness(s, d), Some(
      s"""WITH $KnnCtes,
         |ind AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS in_degree
         |        FROM knn GROUP BY vec_id)
         |SELECT e.vec_id, coalesce(i.in_degree, 0) AS in_degree,
         |       coalesce(i.in_degree, 0) > ${2 * K} AS hub,
         |       coalesce(i.in_degree, 0) = 0 AS antihub
         |FROM embeddings e LEFT JOIN ind i USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin))
  )


}
