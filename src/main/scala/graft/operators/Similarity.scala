package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), for training-data curation (near-dup by embedding,
  * retrieval-style filtering).
  *
  * Two paths with the same output shape (query_id, rank, neighbor_id, sim):
  *   - [[bruteForceTopK]]: exact cosine top-k. The query side is
  *     broadcast; cost is O(|corpus| · |queries| · dim) with zero
  *     shuffles of the corpus — at 100 TB this is the right EXACT plan
  *     whenever the query set is small (it streams the corpus once).
  *   - [[ivfTopK]]: IVF-style two-stage search — corpus pre-assigned to
  *     its nearest centroid, queries probe only the `nprobe` nearest
  *     centroid partitions. Recall < 1, cost divided by ~nlist/nprobe.
  *
  * All math is Catalyst built-ins (`zip_with` + `aggregate` fold) over
  * `array<double>`; per-row arithmetic is IEEE-deterministic.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns — a native
    * codegen'd expression (graft.plans.DotProd): one primitive loop, no
    * intermediate array, bit-identical to the zip_with/aggregate fold.
    */
  def dot(a: Column, b: Column): Column = graft.plans.DotProd.dot(a, b)

  /** The composed-built-ins fold, kept for cross-checking the native
    * expression (DotProdSpec asserts bit-equality on random data).
    */
  def dotBuiltins(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Project (id, unit-normalized vector). The norm is materialized as a
    * column in a previous projection, NOT referenced inside the divide
    * lambda — a lambda-internal `norm(v)` would be re-evaluated per
    * element (O(dim²), the same trap as TextFunctions.shingles).
    * Normalize-once also removes the per-pair norm recomputation from
    * every similarity join: cosine degrades to a plain dot product.
    */
  private def normalized(df: DataFrame, idCol: String, vecCol: String,
                         idAs: String, vecAs: String): DataFrame =
    df.select(col(idCol).as(idAs), asDouble(col(vecCol)).as("_v"))
      .withColumn("_n", norm(col("_v")))
      // try_divide + coalesce: an all-zero embedding would divide 0/0 —
      // a DIVIDE_BY_ZERO error under ANSI mode (Spark 4 default), or NaN
      // otherwise, and Spark orders NaN ABOVE every double so such
      // vectors would rank FIRST in every desc top-k. Zero components
      // instead: sim 0, ranks last.
      .select(col(idAs), transform(col("_v"),
        x => coalesce(try_divide(x, col("_n")), lit(0.0))).as(vecAs))

  /** md5-derived ±1 sign for matrix cell (i, j) under `seed`: parity of
    * the first hex digit of md5("i:j:seed"), 1-based indices — the rule
    * the q_random_proj oracle re-derives in SQL.
    */
  private def rpSign(i: Int, j: Int, seed: String): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i:$j:$seed".getBytes("UTF-8"))
    if (((h(0) >> 4) & 0xF) % 2 == 0) 1.0 else -1.0
  }

  /** Deterministic ±1 random projection (Johnson–Lindenstrauss with an
    * Achlioptas sign matrix): proj_j(v) = Σ_i v_i · s(i, j), s(i, j)
    * from [[rpSign]]. The matrix is data-independent and DERIVED from
    * md5, so the oracle re-computes it in SQL rather than trusting an
    * embedded table; each proj_j is the native [[dot]] sequential fold,
    * bit-identical to any engine's left fold over the same index order
    * (the q_ann_topk raw-double convention).
    *
    * The corpus-scale move this enables: a float embedding store
    * shrinks inDim/outDim-fold BEFORE candidate generation — map-only,
    * no shuffle, and the output is an ordinary (id, vec) frame, so
    * every ANN operator here composes with it unchanged. JL preserves
    * distances in expectation only; MEASURE the retrieval cost with
    * the q_rp_recall report, never assume it.
    *
    * `inDim` is asserted in-plan per row: zip_with would otherwise
    * silently null-pad a short vector or drop a long one's tail.
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    inDim: Int, outDim: Int, seed: String = "rp"): DataFrame = {
    require(inDim > 0 && outDim > 0,
      s"randomProject: dims must be positive, got $inDim -> $outDim")
    val v = asDouble(col(vecCol))
    val proj = array((1 to outDim).map { j =>
      val signs = array((1 to inDim).map(i => lit(rpSign(i, j, seed))): _*)
      dot(v, signs)
    }: _*)
    df.select(col(idCol), proj.as("proj"),
        assert_true(size(col(vecCol)) === inDim,
          lit(s"randomProject: input vector dimension != $inDim")).as("_ck"))
      .filter(col("_ck").isNull).drop("_ck")
  }

  /** Exact top-k cosine neighbors for each query vector.
    * `queries`/`corpus`: (idCol, vecCol). Self-matches excluded.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int = 10,
                     maxQueries: Int = 65536): DataFrame = {
    requireBounded(queries, maxQueries, "query side",
      "bruteForceTopK broadcasts every query to every task and pays " +
        "|corpus| × |queries| exact dots — a query panel that grows with " +
        "the corpus makes the exact plan quadratic. Pass a bounded, " +
        "corpus-size-independent panel (the md5 fixed-budget pattern), " +
        "or raise maxQueries explicitly if the cost is truly intended")
    val c = normalized(corpus, idCol, vecCol, "neighbor_id", "cvec")
    val q = normalized(queries, idCol, vecCol, "query_id", "qvec")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("qvec"), col("cvec")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** IVF-style ANN: corpus vectors assigned to their nearest centroid
    * once (a materializable index at scale); each query probes the
    * `nprobe` nearest centroids' partitions only.
    *
    * Centroids are caller-provided (idCol, vecCol) — e.g. a k-means fit
    * or a deterministic sample. Centroid set is broadcast at both stages.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              idCol: String, vecCol: String, k: Int = 10, nprobe: Int = 2,
              maxCentroids: Int = DefaultMaxCentroids): DataFrame = {
    // guard ONCE here — the composed stages below take the checked path
    // flag so a heavy centroid lineage (e.g. a TakeOrdered over the
    // corpus) is not re-scanned per stage just to re-count it
    requireBoundedCentroids(centroids, maxCentroids)
    ivfTopKAssignedUnchecked(
      assignToCentroidsUnchecked(corpus, centroids, idCol, vecCol),
      queries, centroids, idCol, vecCol, k, nprobe, 0L)
  }

  /** Ceiling on the broadcast centroid side of the assign stage.
    * 65536 centroids × 64-dim doubles ≈ 32 MB broadcast — already at
    * the edge of what every executor should hold resident; beyond it
    * the design is wrong, not the knob.
    */
  val DefaultMaxCentroids: Int = 65536

  /** Refuse an unbounded centroid side BEFORE paying the assign stage.
    *
    * The assign stage is |corpus| × |centroids| exact dot products with
    * the centroid set broadcast to every task. A centroid frame whose
    * cardinality scales WITH the corpus turns that linear pass quadratic
    * silently: the r15 SF-curve sweep caught exactly this (a
    * modulo-stride centroid pick made assign N×N/25 — 15.5× wall for
    * 10× data at sf1) and the round-15 fix only bounded the query
    * FIXTURES. This guard institutionalizes the lesson at the operator:
    * one early-exit count (`limit(max+1).count()` — stops reading at
    * max+1 rows, never a full scan of a huge side) and a loud refusal
    * naming the failure mode. Raise `maxCentroids` explicitly only with
    * a centroid set whose size is a design constant, never a function
    * of corpus size.
    */
  private def requireBoundedCentroids(centroids: DataFrame,
                                      maxCentroids: Int): Unit =
    requireBounded(centroids, maxCentroids, "centroid side",
      "The assign stage broadcasts every centroid to every task and pays " +
        "|corpus| × |centroids| dot products — a centroid count that " +
        "grows with the corpus makes it quadratic (the N×N/25 assign the " +
        "r15 SF-curve sweep caught). Pass a bounded, corpus-size-" +
        "independent centroid set (k-means fit / fixed-budget sample), " +
        "or raise maxCentroids explicitly if the broadcast+compute cost " +
        "is truly intended")

  /** Shared guard body: one early-exit count (`limit(max+1)` — stops
    * reading at max+1 rows, never a full scan of a huge side) and a
    * loud refusal naming the quadratic failure mode. Every exhaustive
    * operator here has a side that must be bounded and
    * corpus-size-INDEPENDENT; the r15/r16 SF-curve sweeps each caught
    * one fixture violating that silently, so the contract now lives at
    * the operators, not the call sites.
    */
  /** Guard caveat (shared with `Joins.containmentJoin`): the check is
    * an EAGER extra job at call time, and the guarded operator
    * re-evaluates the side's lineage — a nondeterministic side can pass
    * the guard on one instantiation and materialize larger in the
    * operator. Pass deterministic (or persisted) bounded sides.
    */
  private def requireBounded(side: DataFrame, max: Int, what: String,
                             consequence: String): Unit = {
    require(max > 0, s"$what bound must be positive")
    val n = side.limit(max + 1).count()
    require(n <= max, s"Similarity: $what has > $max rows. $consequence")
  }

  /** The IVF INDEX: each corpus vector normalized and labeled with its
    * nearest centroid — `(neighbor_id, cvec, cent_id)`. This is the
    * frame to persist (parquet partitioned/bucketed by `cent_id`) and
    * reuse across query batches: the assignment pass over the corpus is
    * paid once at index-build time, not per query — see
    * [[ivfTopKAssigned]] and the round-trip spec.
    */
  def assignToCentroids(corpus: DataFrame, centroids: DataFrame,
                        idCol: String, vecCol: String,
                        maxCentroids: Int = DefaultMaxCentroids): DataFrame = {
    requireBoundedCentroids(centroids, maxCentroids)
    assignToCentroidsUnchecked(corpus, centroids, idCol, vecCol)
  }

  private def assignToCentroidsUnchecked(corpus: DataFrame, centroids: DataFrame,
                                         idCol: String, vecCol: String): DataFrame = {
    val cent = normalized(centroids, idCol, vecCol, "cent_id", "centv")
    assignStage(cent, normalized(corpus, idCol, vecCol, "neighbor_id", "v"),
      "neighbor_id", 1)
      .withColumnRenamed("v", "cvec")
  }

  /** Per-cell occupancy of an IVF index — the skew observability the
    * LSH paths get from `hotBucketReport`. Probe cost is Σ|cell| over
    * the probed cells, so one cell holding a large corpus share makes
    * every query touching it pay that share in exact dots (measured:
    * the regenerated sf1 corpus concentrated the modulo-stride config's
    * cells and tripled the probe, SCALE.md round 9). When top shares
    * concentrate: re-fit with more/better centroids (`fitCentroids`),
    * or cap with `maxCellSize` below.
    */
  def ivfCellReport(corpusAssigned: DataFrame, topN: Int = 20): DataFrame =
    corpusAssigned.groupBy("cent_id").agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("n_vectors").desc, col("cent_id")).limit(topN)

  /** Probe a prebuilt (possibly reloaded-from-parquet) IVF index.
    *
    * `maxCellSize > 0` drops WHOLE over-occupied cells from the probe
    * (the LSH hot-bucket discipline): bounded per-probe cost in
    * exchange for recall loss that is observable via [[ivfCellReport]]
    * rather than silent. Default 0 = exact probe of every cell — the
    * oracle-replayed configuration.
    */
  def ivfTopKAssigned(corpusAssigned: DataFrame, queries: DataFrame,
                      centroids: DataFrame, idCol: String, vecCol: String,
                      k: Int = 10, nprobe: Int = 2, maxCellSize: Long = 0L,
                      maxCentroids: Int = DefaultMaxCentroids): DataFrame = {
    requireBoundedCentroids(centroids, maxCentroids)
    ivfTopKAssignedUnchecked(corpusAssigned, queries, centroids, idCol, vecCol,
      k, nprobe, maxCellSize)
  }

  private def ivfTopKAssignedUnchecked(
      corpusAssigned: DataFrame, queries: DataFrame,
      centroids: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int, maxCellSize: Long): DataFrame = {
    val cent = normalized(centroids, idCol, vecCol, "cent_id", "centv")
    val queryAssigned = assignStage(cent,
        normalized(queries, idCol, vecCol, "query_id", "v"), "query_id", nprobe)
      .withColumnRenamed("v", "qvec")
    val corpusCapped =
      if (maxCellSize <= 0) corpusAssigned
      else corpusAssigned.join(
        broadcast(corpusAssigned.groupBy("cent_id")
          .agg(count(lit(1)).as("_cellsz"))
          .filter(col("_cellsz") <= maxCellSize)
          .select("cent_id")),
        Seq("cent_id"))
    val scored = corpusCapped.join(broadcast(queryAssigned), Seq("cent_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("qvec"), col("cvec")).as("sim"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  private def assignStage(cent: DataFrame, dfn: DataFrame,
                          id: String, keep: Int): DataFrame = {
      val scored = dfn
        .crossJoin(broadcast(cent))
        .select(col(id), col("v"), col("cent_id"),
          dot(col("v"), col("centv")).as("csim"))
      if (keep == 1) {
        // struct-max aggregation instead of a window sort: map-side
        // combinable, no per-partition sort of |corpus|·|centroids| rows.
        // Tie-break = lowest cent_id (negated inside the max struct).
        scored.groupBy(id)
          .agg(max(struct(col("csim"), negate(col("cent_id")).as("nc"))).as("m"),
            first(col("v")).as("v"))
          .select(col(id), col("v"), negate(col("m.nc")).as("cent_id"))
      } else {
        val w = Window.partitionBy(id).orderBy(col("csim").desc, col("cent_id"))
        scored.withColumn("crank", row_number().over(w))
          .filter(col("crank") <= keep)
          .drop("csim", "crank")
      }
  }

  /** Int8 quantization of (normalized) embeddings:
    * (id, scale, qvec array<tinyint>) with `x ≈ qvec[i] · scale`,
    * `scale = max|x| / 127` per vector. 8× smaller than array<double>
    * in shuffle and cache — the difference between an embedding corpus
    * that fits executor memory at 100 TB and one that doesn't. Max
    * per-component error is scale/2 (≤ 1/254 on unit vectors), so
    * int8·int8 top-k agrees with exact cosine on all but hairline ties.
    * The integer dot product is exact (no float accumulation), making
    * quantized scores bit-reproducible across engines — oracle-checkable,
    * unlike most "approximate" paths.
    */
  def quantized(df: DataFrame, idCol: String, vecCol: String,
                idAs: String, scaleAs: String, vecAs: String): DataFrame =
    normalized(df, idCol, vecCol, idAs, "_uv")
      // scale materialized as a column BEFORE the transform lambda — the
      // same once-per-row evaluation discipline as normalized()
      .withColumn(scaleAs, array_max(transform(col("_uv"), x => abs(x))) / lit(127.0))
      .select(col(idAs), col(scaleAs),
        transform(col("_uv"),
          x => round(coalesce(try_divide(x, col(scaleAs)), lit(0.0)))
            .cast("tinyint")).as(vecAs))

  /** Exact integer dot product of two int8 vectors (promoted to int
    * before multiply — tinyint·tinyint would overflow under ANSI).
    */
  private def dotInt(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("int") * y.cast("int")),
      lit(0L), (acc, v) => acc + v)

  /** Top-k cosine neighbors over int8-quantized vectors — same output
    * shape and plan as [[bruteForceTopK]] (broadcast queries, one corpus
    * pass, WindowGroupLimit top-k) at 1/8th the corpus bytes.
    * `sim` = integer dot rescaled by both scales.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int = 10,
                    maxQueries: Int = 65536): DataFrame = {
    requireBounded(queries, maxQueries, "query side",
      "quantizedTopK broadcasts every query to every task and pays " +
        "|corpus| × |queries| integer dots — a query panel that grows " +
        "with the corpus makes the exact plan quadratic. Pass a bounded " +
        "panel or raise maxQueries explicitly")
    val c = quantized(corpus, idCol, vecCol, "neighbor_id", "cscale", "cq")
    val q = quantized(queries, idCol, vecCol, "query_id", "qscale", "qq")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotInt(col("qq"), col("cq")).cast("double") * col("qscale") * col("cscale"))
          .as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Exact embedding near-dup pairs: every (a, b) with cosine ≥
    * threshold. O(n²) self-join — like [[TextDedup.jaccardPairs]] this
    * is the ORACLE path, for verification and small corpora; the scale
    * path is [[lshBuckets]] candidates verified by this same dot
    * product. Inputs are normalized once and persisted (both join
    * sides read them), so cosine degrades to a plain dot product.
    */
  def cosinePairsExact(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double,
                       maxInput: Int = 65536): DataFrame = {
    requireBounded(df, maxInput, "cosinePairsExact input",
      "this is the |N|²/2 exact-truth path (verification and fixed-budget " +
        "panels); above the bound the right tool is lshNearDupPairs " +
        "(banded candidates + exact verify). Raise maxInput explicitly " +
        "only for a deliberate exact sweep")
    val n = normalized(df, idCol, vecCol, "_id", "_v")
      // release: caller-scope, ≤ maxInput rows (SCALE.md r17 persist audit)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = n.select(col("_id").as("id_a"), col("_v").as("_va"))
    val b = n.select(col("_id").as("id_b"), col("_v").as("_vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), dot(col("_va"), col("_vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Multi-table LSH near-dup candidates verified by exact cosine — the
    * scale path. A SINGLE n-bit table has vanishing recall (P[all n sign
    * bits agree] = (1-θ/π)ⁿ — 0.45 even at cosine 0.98 with n=12), so
    * this runs `tables` independent tables of `nbits` bits each: a pair
    * is a candidate if it collides in ANY table
    * (recall = 1-(1-pⁿ)^tables ≈ 1 for true near-dups; random pairs
    * collide at ~tables/2ⁿ — the classic AND-OR amplification).
    *
    * Plan shape for 100 TB: the bucket join carries ONLY (id, table,
    * bucket) — candidate ids are deduped BEFORE the vectors are joined
    * back, so the wide array<double> rows never ride through the
    * quadratic step. Optional `maxBucketSize` drops degenerate buckets
    * (count > cap) with the same cap+observability discipline as
    * TextDedup ([[lshBucketSizeReport]] to see what was dropped).
    *
    * SIZE `nbits` WITH THE CORPUS: random-pair candidates are
    * ~N²·tables/2^nbits (uniformly spread across buckets, so
    * `maxBucketSize` does NOT bound them) — a fixed nbits makes the
    * candidate stage quadratic in N. Measured on the sf1→sf10 decade:
    * 7.1× wall for 10× data at nbits=14 (the r16 gate sweep's top
    * reading — the quadratic term emerging). The rule is now CODE, not
    * prose: `nbits <= 0` (the default) auto-sizes via [[autoNbits]] —
    * nbits = ⌈log₂N⌉ + 3, floor 8, LOUD REFUSAL past 30 — from one
    * count of the persisted normalized frame (which the bucket pass
    * and both verify joins reuse, so the count pre-pays
    * materialization rather than adding a scan). That keeps candidates
    * ∝ N at every corpus size the auto rule covers; past ~2^27 vectors
    * it refuses instead of silently pinning at 30 bits (which would
    * re-quadratic the join) — pass nbits explicitly there. Each +1 bit
    * costs per-table recall ×(1−θ/π), so deliberate high-recall
    * regimes should raise `tables` alongside
    * (recall = 1−(1−pⁿ)^tables); explicit nbits remains honored for
    * oracle-replay twins and tuned deployments.
    */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, nbits: Int = 0, tables: Int = 4,
                      dim: Int = 64, seed: Long = 42L,
                      maxBucketSize: Option[Int] = None): DataFrame = {
    val n = normalized(df, idCol, vecCol, "_id", "_v")
      // release: caller-scope (SCALE.md r17 persist audit)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bits = if (nbits > 0) nbits else autoNbits(n.count())
    val buckets = lshBucketsBanded(n, "_id", "_v", bits, tables, dim, seed)
    val kept = maxBucketSize match {
      case Some(cap) =>
        val sizes = buckets.groupBy("t", "bucket")
          .agg(count(lit(1)).as("_bsz")).filter(col("_bsz") <= cap)
        buckets.join(sizes.select("t", "bucket"), Seq("t", "bucket"))
      case None => buckets
    }
    val a = kept.select(col("_id").as("id_a"), col("t"), col("bucket"))
    val b = kept.select(col("_id").as("id_b"), col("t"), col("bucket"))
    val cand = a.join(b, Seq("t", "bucket")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    cand
      .join(n.select(col("_id").as("id_a"), col("_v").as("_va")), Seq("id_a"))
      .join(n.select(col("_id").as("id_b"), col("_v").as("_vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), dot(col("_va"), col("_vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Smallest k with 2^k ≥ n (n ≥ 1) — integer-exact on both engines
    * (the DuckDB oracle replays it as a MIN over a shifted-powers
    * range, never a float log2, so a count one past a power of two
    * can't round differently across engines). n = 1 returns 0
    * (2^0 ≥ 1), exactly like the oracle's MIN-over-powers form — the
    * earlier `64 - nlz(max(1, n-1))` returned 1 there, a latent
    * cross-engine divergence masked only by autoNbits' floor clamp.
    */
  def ceilLog2(n: Long): Int = {
    require(n >= 1, s"ceilLog2: n must be >= 1, got $n")
    if (n == 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
  }

  /** The log₂N sizing rule for [[lshNearDupPairs]] as code: random-pair
    * candidates are ~N²·tables/2^nbits, so nbits = ⌈log₂N⌉ + slack
    * keeps them ∝ N·tables/2^slack (slack 3 ⇒ ~N·tables/8 — a per-vector
    * candidate budget under 1). Floor-clamped to 8 so tiny corpora keep
    * useful buckets. Above 30 bits (n ≳ 2^27 vectors at slack 3) the
    * sizing REFUSES LOUDLY instead of clamping: a silent pin at 30
    * returns the candidate term to the quadratic regime — exactly the
    * failure class [[requireBounded]] guards everywhere else. Beyond
    * that scale pass `nbits` explicitly and raise `tables` for recall
    * (recall = 1−(1−pⁿ)^tables). Note the DuckDB replay oracle
    * ([[graft.OracleCtes.lshNearDupOracle]]) carries plane literals up
    * to its `maxBits` parameter, DEFAULT 24 — enough for N ≤ ~2 M
    * vectors; replaying a larger corpus needs a larger explicit
    * maxBits (planes stride nbits-independently, so the literals are a
    * prefix-compatible superset at any size).
    */
  def autoNbits(n: Long, slack: Int = 3): Int = {
    val raw = ceilLog2(math.max(1L, n)) + slack
    require(raw <= 30,
      s"autoNbits: $n vectors need nbits=$raw > 30 — auto-sizing cannot " +
        "keep LSH candidates ∝ N past 2^30 buckets, and clamping would " +
        "silently re-quadratic the candidate join. Pass nbits explicitly " +
        "and raise `tables` to buy recall back (recall = 1-(1-p^nbits)^tables)")
    math.max(8, raw)
  }

  /** Bucket-size distribution per table — the observability surface for
    * tuning `maxBucketSize` (same discipline as TextDedup's
    * hotShingleReport): a degenerate corpus (many identical vectors)
    * shows up here as a hot bucket before it becomes a quadratic join.
    */
  def lshBucketSizeReport(df: DataFrame, idCol: String, vecCol: String,
                          nbits: Int = 0, tables: Int = 4, dim: Int = 64,
                          seed: Long = 42L): DataFrame = {
    val n = normalized(df, idCol, vecCol, "_id", "_v")
    // nbits <= 0 resolves through the SAME auto-sizing as
    // lshNearDupPairs' default, so the reported bucket distribution is
    // the one production actually runs with — a report at a fixed 10
    // bits can look healthy while production runs at autoNbits(N)
    val bits = if (nbits > 0) nbits else autoNbits(n.count())
    lshBucketsBanded(n, "_id", "_v", bits, tables, dim, seed)
      .groupBy("t", "bucket").agg(count(lit(1)).as("bucket_size"))
      .groupBy("t").agg(
        max(col("bucket_size")).as("max_bucket"),
        avg(col("bucket_size")).as("avg_bucket"),
        count(lit(1)).as("n_buckets"))
      .orderBy("t")
  }

  /** The deterministic hyperplane component for (global) bit `gbit`,
    * dimension `d` — public so oracles can regenerate the IDENTICAL
    * plane constants (Double.toString round-trips exactly). Canonical
    * definition lives with the native expression.
    */
  def planeComponent(seed: Long, gbit: Int, d: Int): Double =
    graft.plans.LshSig.planeComponent(seed, gbit, d)

  /** `tables` independent LSH tables in one pass: (id, t, bucket) rows,
    * one per table. All buckets come from the ONE native [[graft.plans.LshSig]]
    * expression (plane constants as a reference object, three-loop
    * codegen) — the composed per-bit-literal form carried tables·nbits
    * 64-element literals through analysis and codegen, a multi-second
    * fixed cost per query. Wrong vector length throws loudly (else every
    * row lands in bucket 0 → O(n²) candidate join).
    */
  def lshBucketsBanded(df: DataFrame, idCol: String, vecCol: String,
                       nbits: Int, tables: Int, dim: Int = 64,
                       seed: Long = 42L): DataFrame =
    df.select(col(idCol),
        posexplode(graft.plans.LshSig.sig(asDouble(col(vecCol)), nbits, tables, dim, seed))
          .as(Seq("t", "bucket")))

  /** Deterministic k-means centroid fit for [[ivfTopK]] — closes the
    * "centroids are caller-provided" gap. Lloyd iterations entirely as
    * DataFrame ops:
    *   - init: k seeds picked by hash order (xxhash64 of the id —
    *     deterministic across runs/cluster sizes, no RNG);
    *   - assign: struct-max nearest-centroid (map-side combinable, no
    *     window sort) against the broadcast centroid set;
    *   - update: element-wise mean via posexplode → two-level partial
    *     aggregation (shuffle rows = n·dim scalars, partials combine
    *     map-side; dim is small so this is one cheap wide agg).
    * Empty clusters keep their previous centroid. Returns
    * (cent_id, centroid) with `iters` refinement passes — at 100 TB run
    * the fit on a hash-sample (`TextFunctions.hashSampleFilter`), then
    * assign the full corpus once.
    */
  def fitCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int = 5): DataFrame = {
    val spark = corpus.sparkSession
    val vecs = normalized(corpus, idCol, vecCol, "_id", "v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seeds = seedsKMeansParallel(vecs, k)
    val out = lloydLoop(vecs, seeds, k, iters)
    vecs.unpersist()
    out
  }

  /** Lloyd refinement from caller-provided seed centroids — the spec
    * surface for comparing init strategies on equal footing.
    */
  def fitCentroidsSeeded(corpus: DataFrame, idCol: String, vecCol: String,
                         seeds: Seq[Seq[Double]], iters: Int = 5): DataFrame = {
    val vecs = normalized(corpus, idCol, vecCol, "_id", "v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = lloydLoop(vecs, seeds, seeds.size, iters)
    vecs.unpersist()
    out
  }

  /** k-means cost of a centroid set: Σ (1 − cosine to nearest centroid)
    * — the quantity init strategies compete on.
    */
  def inertia(corpus: DataFrame, idCol: String, vecCol: String,
              centroids: DataFrame): DataFrame = {
    val v = normalized(corpus, idCol, vecCol, "_id", "v")
    // normalize the CENTROID side too — Lloyd means have norms < 1 that
    // vary per cluster, and raw data-point centroid sets have norms ≫ 1,
    // so an unnormalized dot is not the documented cosine and inertia
    // values were not comparable across centroid SOURCES (caught when
    // the CENTROID_RECALL.json measurement read a better-recall fit as
    // "worse" inertia)
    val cent = normalized(centroids.select(col("cent_id").as("_cid"),
        col("centroid")), "_cid", "centroid", "cent_id", "centv")
    v.crossJoin(broadcast(cent))
      .groupBy("_id").agg(max(dot(col("v"), col("centv"))).as("closest"))
      .agg(sum(lit(1.0) - col("closest")).as("inertia"))
  }

  /** Number of init oversampling rounds: ⌈log₂ k⌉ (min 1) — the
    * k-means|| bound, vs the k rounds of sequential farthest-point.
    */
  def initRounds(k: Int): Int =
    math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(1, k - 1)))

  /** Deterministic k-means||-style init (Bahmani et al., VLDB'12),
    * replacing the O(k)-pass farthest-point loop: ⌈log₂ k⌉ oversampling
    * rounds, each ONE corpus pass taking the 2k points FARTHEST from the
    * current candidate set (deterministic stand-in for the cost-
    * proportional sampling; ties break by xxhash64 then id), then one
    * weighting pass and a driver-side weighted farthest-point reduction
    * of the ~2k·log k candidates down to k. Total corpus passes:
    * log₂ k + 2 instead of 2k.
    */
  private def seedsKMeansParallel(vecs: DataFrame, k: Int): Seq[Seq[Double]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val firstSeed = vecs.orderBy(xxhash64(col("_id")), col("_id")).limit(1)
      .select(col("v")).collect()(0).getSeq[Double](0).toSeq
    var cands = Vector(firstSeed)
    for (_ <- 0 until initRounds(k)) {
      val cent = cands.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("cent_id", "centv")
      val far = vecs.crossJoin(broadcast(cent))
        .select(col("_id"), col("v"), dot(col("v"), col("centv")).as("csim"))
        .groupBy("_id").agg(max(col("csim")).as("closest"), first(col("v")).as("v"))
        .orderBy(col("closest").asc, xxhash64(col("_id")).asc, col("_id"))
        .limit(2 * k)
        .select(col("v")).collect().map(_.getSeq[Double](0).toSeq)
      cands = (cands ++ far).distinct
    }
    // weighting pass: how many points each candidate wins
    val cent = cands.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("cent_id", "centv")
    val weights = vecs.crossJoin(broadcast(cent))
      .select(col("_id"),
        struct(dot(col("v"), col("centv")).as("csim"),
          negate(col("cent_id")).as("nc")).as("s"))
      .groupBy("_id").agg(max(col("s")).as("m"))
      .groupBy(negate(col("m.nc")).as("cent_id")).agg(count(lit(1)).as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side deterministic weighted farthest-point down to k:
    // start at the heaviest candidate, then greedily add the candidate
    // maximizing weight · (1 − sim to the chosen set) — O(c²·dim) on
    // ≤ ~2k·log k candidates, no further cluster passes.
    def simLocal(a: Seq[Double], b: Seq[Double]): Double =
      a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
    val byId = cands.indices.map(i => i.toLong -> cands(i)).toMap
    val startId = weights.toSeq
      .sortBy { case (id, w) => (-w, id) }.headOption.map(_._1).getOrElse(0L)
    val chosen = scala.collection.mutable.ArrayBuffer(startId)
    while (chosen.size < math.min(k, cands.size)) {
      val next = byId.keysIterator.filterNot(chosen.contains).map { id =>
        val closest = chosen.iterator.map(c => simLocal(byId(id), byId(c))).max
        (id, weights.getOrElse(id, 0L).toDouble * (1.0 - closest))
      }.maxBy { case (id, score) => (score, -id) }._1
      chosen += next
    }
    // degenerate corpora (< k distinct points): pad by repeating the
    // first seed — empty clusters keep their centroid through Lloyd
    val picked = chosen.map(byId).toSeq
    picked ++ Seq.fill(math.max(0, k - picked.size))(picked.head)
  }

  /** Lloyd iterations (assign via struct-max, update via posexplode
    * partial means); empty clusters keep their previous centroid.
    */
  private def lloydLoop(vecs: DataFrame, seeds: Seq[Seq[Double]], k: Int,
                        iters: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    var centLocal: Map[Long, Seq[Double]] =
      seeds.zipWithIndex.map { case (v, i) => (i + 1).toLong -> v }.toMap
    for (_ <- 0 until iters) {
      val cent = centLocal.toSeq.sortBy(_._1).toDF("cent_id", "centv")
      val updated = vecs.crossJoin(broadcast(cent))
        .select(col("_id"), col("v"), col("cent_id"),
          dot(col("v"), col("centv")).as("csim"))
        .groupBy("_id")
        .agg(max(struct(col("csim"), negate(col("cent_id")).as("nc"))).as("m"),
          first(col("v")).as("v"))
        .select(negate(col("m.nc")).as("cent_id"), col("v"))
        .select(col("cent_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cent_id", "pos").agg(avg(col("x")).as("mx"))
        .groupBy("cent_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("mx")))).as("ps"))
        .select(col("cent_id"), transform(col("ps"), p => p.getField("mx")).as("centv"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
      // clusters that captured no points keep their previous centroid
      centLocal = centLocal.map { case (id, old) => id -> updated.getOrElse(id, old) }
    }
    centLocal.toSeq.sortBy(_._1).toDF("cent_id", "centroid")
  }

  /** Random-hyperplane LSH bucketing for cosine: `nbits` sign bits from
    * dot products with deterministic pseudo-random hyperplanes (seeded by
    * bit index — no RNG at plan time). Same-bucket vectors are near-dup
    * candidates; used as the scale path for embedding near-dup detection.
    */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
                 nbits: Int = 16, dim: Int = 64, seed: Long = 42L): DataFrame =
    // single-table special case of the native expression (table 0 uses
    // global bits 0..nbits-1 — identical constants to the historical
    // per-bit-literal form); dim mismatch throws loudly inside lsh_sig
    df.select(col(idCol),
      element_at(graft.plans.LshSig.sig(asDouble(col(vecCol)), nbits, 1, dim, seed), 1)
        .as("bucket"))

  /** Engine-portable centroid pick for [[semanticDedup]]'s oracle path:
    * the k corpus rows that sort first by `md5(id || ':' || seed)`
    * (lowercase hex compares identically in every engine, same trick as
    * TextQuality.hashSplit). A hash-ordered pick is a uniform random
    * sample, so cells are balanced in expectation — good enough for the
    * verification path; production uses [[fitCentroids]] (k-means||) for
    * tighter cells. k rows ride a global sort-limit (TakeOrdered — no
    * full sort materializes).
    */
  def hashSeedCentroids(df: DataFrame, idCol: String, vecCol: String,
                        k: Int, seed: Long = 42L): DataFrame =
    df.select(col(idCol), col(vecCol))
      .orderBy(md5(concat(col(idCol).cast("string"), lit(":" + seed))),
        col(idCol))
      .limit(k)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-space
    * near-duplicate pruning that stays sub-quadratic by comparing only
    * WITHIN clusters — cluster the corpus, run exact cosine pairs inside
    * each cell, connect the ≥ tau pairs transitively, keep one doc per
    * semantic group (smallest id, same canonical rule as
    * Graph.dedupClusters so curation composes). Docs whose near-dup
    * lands in a different cell are missed by construction — that recall
    * trade IS the algorithm; measure it with the same
    * within-vs-exact comparison TextDedup.lshRecallReport applies to LSH.
    *
    * `centroids`: any (idCol, vecCol) frame — [[fitCentroids]] output in
    * production (k ≈ N/5000 keeps cells ~constant-size as the corpus
    * grows, so the per-cell quadratic step never re-approaches corpus²),
    * [[hashSeedCentroids]] for the cross-engine oracle. Cost model at
    * 100 TB: one broadcast-assign pass over the corpus (centroids are
    * small), one shuffle on cent_id for the self-join, Σ|cell|² dot
    * products, then CC on the (tiny) pair set.
    *
    * Returns (idCol, cent_id, group_id, is_canonical) — group_id is the
    * smallest id reachable through ≥ tau within-cell similarity.
    */
  /** Cross-corpus SEMANTIC screen — the embedding analogue of
    * `TextDedup.crossCorpusNearDups`: each new-drop vector is assigned
    * to its centroid cell and compared (exact cosine) against only the
    * CORPUS vectors already assigned to that cell. `corpusAssigned` is
    * the persisted IVF index from [[assignToCentroids]] — built once
    * when the corpus landed, partitioned by `cent_id` on disk — so a
    * daily drop pays |new| assignment + per-cell |new|·|cell| dots and
    * never re-reads, re-normalizes, or re-pairs the historical corpus.
    * Old×old pairs are structurally impossible (the join is new×corpus).
    * Returns (new_id, corpus_id, sim ≥ tau).
    */
  def crossCorpusSemanticPairs(newDocs: DataFrame, idCol: String,
                               vecCol: String, corpusAssigned: DataFrame,
                               centroids: DataFrame, tau: Double): DataFrame = {
    val cent = normalized(centroids, idCol, vecCol, "cent_id", "centv")
    val newAssigned = assignStage(cent,
      normalized(newDocs, idCol, vecCol, "new_id", "v"), "new_id", 1)
    newAssigned.join(corpusAssigned.select(col("cent_id"),
        col("neighbor_id").as("corpus_id"), col("cvec")), Seq("cent_id"))
      .select(col("new_id"), col("corpus_id"),
        dot(col("v"), col("cvec")).as("sim"))
      .filter(col("sim") >= tau)
  }

  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, tau: Double): DataFrame = {
    val cent = normalized(centroids, idCol, vecCol, "cent_id", "centv")
    val assigned = assignStage(cent,
        normalized(df, idCol, vecCol, "_sd_id", "v"), "_sd_id", 1)
      // both sides of the within-cell self-join read the assignment.
      // release: caller-scope (SCALE.md r17 persist audit)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = assigned.select(col("cent_id"), col("_sd_id").as("id_a"),
      col("v").as("_va"))
    val b = assigned.select(col("cent_id"), col("_sd_id").as("id_b"),
      col("v").as("_vb"))
    val pairs = a.join(b, Seq("cent_id"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), dot(col("_va"), col("_vb")).as("sim"))
      .filter(col("sim") >= tau)
    Graph.dedupClusters(df, idCol, pairs, "id_a", "id_b")
      .join(assigned.select(col("_sd_id").cast("long").as(idCol),
        col("cent_id").cast("long").as("cent_id")), Seq(idCol))
      .select(col(idCol), col("cent_id"),
        col("cluster_id").as("group_id"), col("is_canonical"))
  }

  // ---- product quantization (PQ) -------------------------------------

  /** PQ codebooks: the vector space is cut into `m` subspaces of
    * `dim/m` components; each subspace gets `ksub` centroids. Returns
    * the exploded codebook `(sub, code, cv)` — m·ksub tiny rows, the
    * broadcast side of every later stage.
    *
    * Centroids here are the md5-hash-seeded corpus pick (a uniform
    * sample — the engine-portable convention [[hashSeedCentroids]]
    * uses for every oracle path); production would Lloyd-refine each
    * subspace's codebook with [[fitCentroidsSeeded]] on a corpus
    * sample, which changes no downstream plan. Codes are assigned by
    * the same md5 order, so the codebook is a pure function of
    * (corpus, seed) that any engine reproduces. The ksub-row
    * row_number window is index-build-time work on a centroid-sized
    * frame — never on the corpus.
    */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
                  m: Int, ksub: Int, dim: Int, seed: Long = 42L): DataFrame = {
    require(m > 0 && dim % m == 0, s"pq: dim $dim must split into m=$m equal subvectors")
    require(ksub > 0 && ksub <= 256,
      s"pq: ksub=$ksub exceeds the one-unsigned-byte code range (<= 256)")
    val sd = dim / m
    val cents = normalized(hashSeedCentroids(df, idCol, vecCol, ksub, seed),
      idCol, vecCol, "_pq_cid", "cv0")
      .withColumn("code", row_number().over(
        Window.orderBy(
          md5(concat(col("_pq_cid").cast("string"), lit(":" + seed))),
          col("_pq_cid"))) - 1)
    cents.select(col("code"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("cv0"))
      .select(col("sub"), col("code"),
        slice(col("cv0"), col("sub") * lit(sd) + lit(1), lit(sd)).as("cv"))
  }

  /** PQ-encode the corpus: each (normalized) vector becomes `m` small
    * codes — the nearest codebook centroid per subspace by exact
    * sub-L2. THIS is the 100 TB memory move for an embedding store:
    * at m=96, ksub=256 a 768-d float corpus drops from 3 KB to 96
    * BYTES per vector (~32×; armed with int4 packing, 64×) — the
    * difference between an index that fits a cluster's memory and one
    * that pages. Cost: one corpus scan × m·ksub broadcast codebook
    * rows, map-side struct-min per (vector, subspace), zero shuffles
    * of vector payloads (the only exchange carries (id, sub, code)
    * triples). Returns `(idCol, codes array<tinyint>)`.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame,
               idCol: String, vecCol: String, m: Int, dim: Int): DataFrame = {
    val sd = dim / m
    val sub = normalized(corpus, idCol, vecCol, "_pq_id", "_pq_v")
      .select(col("_pq_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("_pq_v"))
      .select(col("_pq_id"), col("sub"),
        slice(col("_pq_v"), col("sub") * lit(sd) + lit(1), lit(sd)).as("xs"))
    // sequential fold in element order — the same IEEE accumulation
    // DuckDB's list_reduce performs, so distances replay bit-exactly
    val d2 = aggregate(
      zip_with(col("xs"), col("cv"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, v) => acc + v)
    sub.join(broadcast(codebooks), Seq("sub"))
      .select(col("_pq_id"), col("sub"), d2.as("_d2"), col("code"))
      // struct-min argmin: map-side combinable, ties to the lowest code
      .groupBy("_pq_id", "sub")
      .agg(min(struct(col("_d2").as("d2"), col("code").as("code"))).as("mn"))
      .groupBy("_pq_id")
      .agg(collect_list(struct(col("sub").as("sub"), col("mn.code").as("code"))).as("sc"))
      .select(col("_pq_id").as(idCol),
        // codes are UNSIGNED bytes in two's-complement storage (the
        // standard uint8-in-JVM idiom): 0..127 stored as-is, 128..255
        // as code−256 — an explicit mapping, because a plain tinyint
        // cast WRAPS silently with ANSI off and THROWS with ANSI on;
        // [[pqTopK]] decodes with & 0xFF. One byte per code at any
        // ksub ≤ 256.
        transform(array_sort(col("sc")), x => {
          val c = x.getField("code")
          when(c < 128, c).otherwise(c - 256).cast("tinyint")
        }).as("codes"))
  }

  /** ADC top-k over a PQ-encoded corpus: per query, a lookup table of
    * subspace partial dots against every codebook centroid (m·ksub
    * doubles — broadcast), then each corpus vector's score is the sum
    * of its m table hits. The corpus side carries ONLY (id, sub, code):
    * no vector bytes move at query time. Partial dots are 9dp-rounded
    * and DECIMAL-summed (order-free → cross-engine bit-exact, the
    * repo's standing float convention), so ranks are deterministic.
    * Output shape matches [[bruteForceTopK]]: (query_id, rank,
    * neighbor_id, sim_pq).
    */
  def pqTopK(corpusCodes: DataFrame, queries: DataFrame, codebooks: DataFrame,
             idCol: String, vecCol: String, m: Int, dim: Int,
             k: Int = 10): DataFrame = {
    val sd = dim / m
    val qsub = normalized(queries, idCol, vecCol, "query_id", "qv")
      .select(col("query_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("qv"))
      .select(col("query_id"), col("sub"),
        slice(col("qv"), col("sub") * lit(sd) + lit(1), lit(sd)).as("qs"))
    val lut = qsub.join(codebooks, Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        dot(col("qs"), col("cv")).as("pdot"))
    val scored = corpusCodes
      .select(col(idCol).as("neighbor_id"), posexplode(col("codes")).as(Seq("sub", "code")))
      // unsigned-byte decode (see pqEncode): −56 stored means code 200
      .select(col("neighbor_id"), col("sub"),
        col("code").cast("int").bitwiseAND(lit(255)).as("code"))
      .join(broadcast(lut), Seq("sub", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(round(col("pdot"), 9).cast(org.apache.spark.sql.types.DecimalType(28, 9)))
        .cast("double").as("sim_pq"))
    val w = Window.partitionBy("query_id").orderBy(col("sim_pq").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim_pq")
  }
}
