package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{col, lit, xxhash64}

/** Physical-plan audit: the properties that decide whether a query
  * survives a 100× scale-up, asserted so a regression (a lost pushdown, a
  * de-broadcast-ed join, a vanished partial aggregate) fails CI rather
  * than shipping as a silent 10× slowdown.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  /** Shuffle Exchanges in the (AQE-current) physical plan; broadcast
    * exchanges don't count — a broadcast dim is the desired shape.
    */
  private def shuffleCount(df: DataFrame): Int = {
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    Seq("Exchange hashpartitioning", "Exchange rangepartitioning",
      "Exchange SinglePartition").map(s => p.sliding(s.length).count(_ == s)).sum
  }

  test("q1_agg: shipdate filter pushed to parquet, unused columns pruned") {
    val p = plan(q("q1_agg"))
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    assert(!p.contains("l_suppkey"), "scan reads columns the query never uses")
    assert(p.contains("HashAggregate"), "no hash aggregation")
  }

  test("q3_top10: dimension side broadcast, no shuffle of customer") {
    val p = plan(q("q3_top10"))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(p.contains("PushedFilters"), "segment filter not pushed to scan")
  }

  test("q_j1_left: small lookup broadcast to the fact side") {
    assert(plan(q("q_j1_left")).contains("BroadcastHashJoin"))
  }

  test("q_j6_containment: nested-loop join only on the broadcast side") {
    assert(plan(q("q_j6_containment")).contains("BroadcastNestedLoopJoin"))
  }

  test("q_recon: pre-aggregation below the outer join has partial+final pair") {
    val p = plan(q("q_recon"))
    assert(p.contains("HashAggregate"))
    // partial aggregation shows as two HashAggregate nodes for the orders agg
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "map-side partial aggregation missing — shuffle carries raw rows")
  }

  test("q_dedup_exact: dedup is a hash aggregate, not a sort") {
    val p = plan(q("q_dedup_exact"))
    assert(p.contains("HashAggregate"))
  }

  test("q_f_orders: all four predicates reach the parquet scan") {
    val p = plan(q("q_f_orders"))
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThanOrEqual(o_orderdate") || p.contains("o_orderdate"),
      "date range not pushed")
    assert(p.contains("In(o_orderpriority") || p.contains("o_orderpriority"),
      "isin not pushed")
  }

  test("projection-only query scans only selected columns") {
    val p = plan(q("q_p_project"))
    assert(p.contains("ReadSchema"))
    assert(!p.contains("c_acctbal") && !p.contains("c_nationkey"),
      "column pruning failed — scan reads the whole customer schema")
  }

  test("q_p5_rowid: no unpartitioned Window — ids come from zipWithIndex") {
    val df = q("q_p5_rowid")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"row ids regressed to a window (single-partition funnel at scale):\n$p")
  }

  test("q_seq_pack: prefix sum stays range-partitioned — no Window, no SinglePartition funnel") {
    val df = q("q_seq_pack")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"sequence packing regressed to a window (single-partition funnel at scale):\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"sequence packing funnels through one partition:\n$p")
  }

  test("q_c_clean: JSON extraction + cleaning stays inside codegen, no UDF") {
    val df = q("q_c_clean")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"cleaning projection fell out of codegen:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
      "UDF appeared in the cleaning hot path")
    assert(p.contains("from_json"), "from_json extraction missing")
  }

  test("q_events_sessions_native: single shuffle on user_id for session build") {
    val p = plan(q("q_events_sessions_native"))
    // one hashpartitioning exchange on user_id feeds the MergingSessions
    // aggregation AND the seq window (Catalyst reuses the partitioning —
    // no second user_id shuffle between them)
    assert(p.contains("hashpartitioning(user_id"), s"expected a user_id shuffle:\n$p")
    assert(p.contains("MergingSessions"), s"expected the native session operator:\n$p")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"session agg and seq window should share ONE user_id exchange:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"sessionization funneled through one partition:\n$p")
  }

  test("q_repetition: scalar metrics shuffle-free; gram counts partially aggregated") {
    val scalar = graft.operators.TextQuality.repetitionReport(
      Tables.documents(spark, sf), "text", "doc_id")
    val p = plan(scalar)
    // the dup-frac/run-length fold must not introduce a Window or extra
    // Exchange — only the top-gram agg pair and the final join shuffle
    assert(!p.contains("Window"), s"scalar repetition metrics regressed to a window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"gram counting lost its map-side partial aggregate:\n$p")
  }

  test("q_bm25 scoring: top-k is TakeOrderedAndProject, stats joins broadcast") {
    val p = plan(graft.operators.Retrieval.bm25Scored(
      Tables.documents(spark, sf), "text", "doc_id", Seq("spark", "window"), k = 10))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k regressed to a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"df/len joins lost broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"tf/df/score aggregations lost their partial pairs:\n$p")
  }

  test("q_funnel: step filter pushed to scan, one user shuffle, cap window partitioned") {
    val p = plan(q("q_funnel"))
    assert(p.contains("PushedFilters") && p.contains("In(event_type"),
      s"step-type filter not pushed to the scan:\n$p")
    // the per-user cap runs in a USER-partitioned window (spillable,
    // bounded partitions); what must never appear is a single-partition
    // window funneling all events through one task
    assert(!p.contains("Exchange SinglePartition"),
      s"funnel funneled through one partition:\n$p")
    assert("hashpartitioning\\(user".r.findAllIn(p).size >= 1,
      s"expected the single user_id shuffle:\n$p")
  }

  test("q_o1_sort_limit: top-k is TakeOrderedAndProject, never a global sort") {
    // BENCH_r02 recorded a 7.5× outlier for this query that did not
    // reproduce (0.15 s in the r3 rerun) — environmental, not a plan
    // change. This assertion makes the only REAL way it could regress
    // (losing the TakeOrderedAndProject rewrite to a full Sort+Limit,
    // e.g. via topKSortFallbackThreshold or a wrapped write) a CI failure.
    val df = q("q_o1_sort_limit")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy().limit(20) lost the top-k rewrite:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"top-k regressed to a global range sort:\n$p")
  }

  test("q_retention: cohort window is partitioned, never SinglePartition") {
    val p = plan(q("q_retention"))
    assert(p.contains("Window"), s"expected the cohort-size window:\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"cohort window funneled through one partition:\n$p")
  }

  test("chunkByTokens: pure map-side fan-out — zero exchanges, pruned scan") {
    // audit the operator (the q_chunk driver query adds a total-order
    // sort for oracle determinism — that exchange is the harness's)
    val p = plan(graft.functions.TextFunctions.chunkByTokens(
      Tables.documents(spark, sf), "text", "doc_id", 32, 24))
    assert(!p.contains("Exchange"),
      s"chunking must not shuffle (scan→project→generate only):\n$p")
    assert(!p.contains("title") && !p.contains("lang"),
      "chunk scan reads columns the query never uses")
  }

  test("phashNearDupPairs: banded equi-join, never a cartesian/nested-loop") {
    val hashes = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id"), xxhash64(col("text")).bitwiseAND(lit((1L << 56) - 1)).as("phash"))
    val p = plan(graft.operators.Multimodal.phashNearDupPairs(hashes, "doc_id", "phash"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"hamming pairs regressed to an all-pairs join:\n$p")
  }

  test("q_embed_neardup: candidate ids deduped before vectors join back") {
    val p = plan(q("q_embed_neardup"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH near-dup regressed to an all-pairs join:\n$p")
    // the dedup (HashAggregate on id_a,id_b) must sit below the
    // vector-fetch joins: the quadratic candidate stream collapses to
    // distinct id pairs BEFORE any array<double> rides a join
    assert(p.contains("HashAggregate"), s"candidate dedup missing:\n$p")
  }

  test("q_range_join / q_interval_join: grid equi-joins, never cartesian/nested-loop") {
    for (name <- Seq("q_range_join", "q_interval_join")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name regressed to an all-pairs plan:\n$p")
    }
  }

  test("q_recon_summary: no Sort or range Exchange below the summary aggregate") {
    // BENCH r2-r5 recorded a bimodal 0.45↔2.3 s band for this query: the
    // summary used to aggregate over detail()'s orderBy, whose range-
    // partitioning sample job ran (or didn't) depending on whether
    // EliminateSorts fired before AQE. The summary now aggregates the
    // unordered detail frame; this pins that the sort (and its sampling
    // exchange) can never reappear under the aggregate.
    val df = q("q_recon_summary")
    df.collect()
    // the AQE toString appends the pre-adaptive "Initial Plan" — audit
    // only the final executed section or every node double-counts
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // exactly one GLOBAL sort (the 5-row metric orderBy); the SMJ's
    // per-partition sorts (`global=false`) are legitimate join machinery
    assert("Sort \\[[^\\]]*\\], true,".r.findAllIn(p).size <= 1,
      s"a second global Sort survives below the summary's metric ordering:\n$p")
    assert("Exchange rangepartitioning".r.findAllIn(p).size <= 1,
      s"detail orderBy's range exchange leaked into the summary plan:\n$p")
  }

  test("q_minhash_pairs_md5: banded equi-join, never a cartesian") {
    val p = plan(q("q_minhash_pairs_md5"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"portable LSH regressed to an all-pairs join:\n$p")
    // (round 11: the signature min-aggregate is gone entirely — the
    // native md5_minhash_sig computes per-doc minima map-side; the
    // companion pin below bounds the Exchange count instead)
  }

  test("q_inc_curate: delta-bound pair stages, no cartesian, no nested loop") {
    // the capstone's scale contract: the diff moves (key, fingerprint),
    // pair generation is posting-list equi-joins on 8-byte hashes
    // (within-delta AND delta×unchanged), CC rides the edge ledger —
    // nothing in the composed plan may regress to an all-pairs join.
    // COVERAGE NOTE: the query localCheckpoint()s each version frame
    // and each intermediate ledger, so THIS plan covers only the final
    // incrementEdges transition + CC; the bootstrap fullEdges and the
    // first transition are audited un-checkpointed by the companion
    // test below.
    val p = plan(q("q_inc_curate"))
    assert(!p.contains("CartesianProduct"),
      s"incremental curation regressed to a cartesian:\n${p.take(4000)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"incremental curation regressed to a nested-loop join:\n${p.take(4000)}")
  }

  test("IncrementalCuration.fullEdges/incrementEdges: no all-pairs plan, un-checkpointed") {
    // the r16 ADVICE finding: q_inc_curate's localCheckpoint()s truncate
    // lineage, so its plan audit sees only the LAST transition. Audit
    // the raw builders directly: the bootstrap pair-gen, and the
    // kept-edge anti-joins, within-delta and delta×unchanged pair-gen
    // over the delta-sized checkpoints incrementEdges takes of its diff
    // and its delta's hash frames. The diff is audited by itself.
    import graft.pipelines.IncrementalCuration
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val prev = docs.filter(col("doc_id") % 7 =!= 0)
    val full = IncrementalCuration.fullEdges(prev, "text", "doc_id")
    val pFull = plan(full)
    assert(!pFull.contains("CartesianProduct") &&
      !pFull.contains("BroadcastNestedLoopJoin"),
      s"fullEdges regressed to an all-pairs plan:\n${pFull.take(4000)}")
    val inc = IncrementalCuration.incrementEdges(
      prev, docs, full, "text", "doc_id")
    val pInc = plan(inc)
    assert(!pInc.contains("CartesianProduct") &&
      !pInc.contains("BroadcastNestedLoopJoin"),
      s"incrementEdges regressed to an all-pairs plan:\n${pInc.take(4000)}")
    // incrementEdges checkpoints its diff, so the diff's full-outer join
    // is audited on its own
    val pDiff = plan(graft.operators.Diff.snapshotDiff(prev, docs, Seq("doc_id"), Seq("text")))
    assert(pDiff.contains("FullOuter") && !pDiff.contains("CartesianProduct") &&
      !pDiff.contains("BroadcastNestedLoopJoin"),
      s"snapshotDiff regressed to an all-pairs plan:\n${pDiff.take(4000)}")
  }

  test("store-backed transition: the shingle store is never shuffled") {
    // r18: the r17 probe measured the store path STILL shuffling ~570 MB
    // at sf10 because the static plan SMJ'd the store against the tomb
    // aggregate / stale ids and AQE's late broadcast conversion happens
    // only after the store side's shuffle WRITE is paid. The fix is
    // plan-time broadcast hints; this pin asserts the structural
    // consequence with AQE off (so EnsureRequirements' exchanges are
    // visible): no ShuffleExchange may sit above a shingle-store scan
    // (an RDD scan carrying the hash column `s`). The sizes store
    // (doc, sz — a documented metadata-sized pass) and the tomb
    // aggregate are allowed their tiny exchanges.
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.pipelines.IncrementalCuration
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = graft.Tables.documents(spark, sf)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val prev = docs.filter(col("doc_id") % 7 =!= 0)
      val st0 = IncrementalCuration.bootstrapState(prev, "text", "doc_id")
      val st = st0.copy(edges = st0.edges.localCheckpoint())
      val t = IncrementalCuration.transitionState(prev, docs, st, "text", "doc_id")
      // the shingle store's scans are the checkpointed RDDs its segment
      // reads; the delta's own checkpointed hash frame has the same
      // (doc, s) columns but another RDD
      def rddScans(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collectLeaves().collect { case r: RDDScanExec => r.rdd.id }
      val storeRdds = rddScans(st.shingles.queryExecution.executedPlan).toSet
      assert(storeRdds.nonEmpty, "the shingle segment reads no checkpointed RDD")
      // an exchange is an offender only if it moves RAW store rows —
      // its own output still carries the hash column `s` AND a store
      // segment scan feeds it. Downstream exchanges over match-bound
      // join/agg outputs and the delta's own posting/distinct shuffles
      // are legitimate.
      val offenders = t.newEdges.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if e.child.output.exists(_.name == "s") &&
            rddScans(e).exists(storeRdds) => e
      }
      assert(offenders.isEmpty,
        s"shingle store shuffled by:\n${offenders.map(_.simpleStringWithNodeId()).mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("incrementEdges: non-integral id refused loudly, not a silent stale ledger") {
    // casting a string id to long yields NULLs, the stale anti-joins
    // match nothing, and the previous ledger comes back unchanged — the
    // guard turns that silent identity break into an error at call time
    import graft.pipelines.IncrementalCuration
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
    val edges = docs.sparkSession.emptyDataFrame
    val st = IncrementalCuration.LedgerState(0, edges, edges, edges, edges)
    for ((label, call) <- Seq[(String, () => Any)](
      "incrementEdges" -> (() =>
        IncrementalCuration.incrementEdges(docs, docs, edges, "text", "doc_id")),
      "transitionState" -> (() =>
        IncrementalCuration.transitionState(docs, docs, st, "text", "doc_id")))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("integral") || e.getMessage.contains("stale"),
        s"$label: unexpected refusal message: ${e.getMessage}")
    }
  }

  test("exact-pair paths shingle once: no Filter evaluates word_ngrams") {
    // a filter on a column computed from the shingle array (size(set) >
    // 0, isnotnull(sig), ...) is pushed below the projection that
    // computes it, so the filter shingles the text once more. The exact
    // paths count sizes over the hashed stream and the md5 banding
    // filters the generator's output, so no Filter may mention the
    // kernel. A relation read from the cache (the portable banding
    // persists its frame) is searched through its cached physical plan.
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import graft.operators.TextDedup
    import graft.pipelines.IncrementalCuration
    // (in a Filter's condition?, expression) for every plan node
    def exprs(p: LogicalPlan): Seq[(Boolean, Expression)] = p.flatMap {
      case r: InMemoryRelation => r.cacheBuilder.cachedPlan.flatMap {
        case f: FilterExec => Seq(true -> f.condition)
        case n => n.expressions.map(false -> _)
      }
      case f: Filter => Seq(true -> f.condition)
      case n => n.expressions.map(false -> _)
    }
    def kernels(e: Expression) =
      e.collect { case w: graft.plans.WordNGrams => w }.size
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val prev = docs.filter(col("doc_id") % 7 =!= 0)
    val jaccard = TextDedup.jaccardPairs(docs, "text", "doc_id")
    val frames = Seq(
      "jaccardPairs" -> jaccard,
      "containmentPairs" -> TextDedup.containmentPairs(docs, "text", "doc_id"),
      "shingleSizes" -> TextDedup.shingleSizes(docs, "text", "doc_id"),
      "incrementEdges" -> IncrementalCuration.incrementEdges(prev, docs,
        IncrementalCuration.fullEdges(prev, "text", "doc_id"), "text", "doc_id"),
      "minhashLshPairsPortable" ->
        TextDedup.minhashLshPairsPortable(docs, "text", "doc_id"))
    for ((label, df) <- frames) {
      val all = exprs(df.queryExecution.optimizedPlan)
      assert(all.exists(e => kernels(e._2) > 0),
        s"$label: the optimized plan shingles nothing")
      val offenders = all.collect { case (true, c) if kernels(c) > 0 => c.sql }
      assert(offenders.isEmpty,
        s"$label: Filters evaluate word_ngrams:\n${offenders.mkString("\n")}")
    }
    // one kernel for the posting stream, one per side of the sizes
    // join (AQE reuses the second sizes exchange)
    val inJaccard = exprs(jaccard.queryExecution.optimizedPlan)
      .map(e => kernels(e._2)).sum
    assert(inJaccard <= 3, s"jaccardPairs' optimized plan shingles $inJaccard times")
  }

  test("snapshotDiff: the full-outer join inputs carry (key, fingerprint) only") {
    // the 100 TB contract pinned structurally on the optimized plan:
    // each join child's output is exactly the key + one fingerprint
    // column, so two 100 TB snapshots diff by moving keys+digests,
    // never payloads
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text", "source")
    val d = graft.operators.Diff.snapshotDiff(
      docs, docs.limit(10), Seq("doc_id"), Seq("text", "source"))
    val joins = d.queryExecution.optimizedPlan.collect { case j: LJoin => j }
    assert(joins.size == 1, s"expected exactly one join:\n${d.queryExecution.optimizedPlan}")
    joins.head.children.foreach { side =>
      val names = side.output.map(_.name)
      assert(names.length == 2 && names.exists(_.startsWith("fp_")) &&
        names.exists(n => n == "doc_id" || n.endsWith("doc_id")),
        s"diff join side carries more than (key, fingerprint): $names\n" +
          d.queryExecution.optimizedPlan.toString.take(3000))
    }
  }

  test("q_d6_prefer: keep-first window partitioned by the dedup key, never SinglePartition") {
    val p = plan(q("q_d6_prefer"))
    assert(p.contains("Window"), s"expected the keep-first window:\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"dedup window funneled through one partition:\n$p")
    assert(p.contains("hashpartitioning(l_orderkey"),
      s"window must partition on the dedup key:\n$p")
  }

  test("q_contamination: corpus screens via semi-join, totals map-side, no cartesian") {
    val p = plan(q("q_contamination"))
    assert(p.contains("LeftSemi"), s"eval-gram screen lost its semi-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"contamination went all-pairs:\n$p")
    // per-doc gram totals come from size(shingles) in a projection — a
    // groupBy over the exploded gram stream would add a third
    // aggregate pair (hits partial+final are the only expected ones on
    // the exploded side, plus eval's distinct)
    assert(!p.contains("collect_"), s"unbounded buffer appeared:\n$p")
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    // AQE hides codegen spans until execution — run the query, then
    // inspect the final executed plan for WholeStageCodegen ids ("*(n)").
    val df = q("q_f_orders")
    df.collect()   // count() would plan a different query; execute THIS one
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"hot path fell out of codegen:\n$p")
  }

  test("q_corpus_shuffle: per-shard window only — a global shuffle must never funnel") {
    val df = q("q_corpus_shuffle")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("Window"), s"expected the per-shard position window:\n$p")
    // the whole point of shuffleShards: position comes from a window
    // PARTITIONED BY shard (nShards-way parallel), never a global
    // row_number over one partition
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"corpus shuffle funneled through one partition:\n$p")
    assert(p.contains("hashpartitioning(shard"),
      s"position window must partition on shard:\n$p")
  }

  test("q_mix_plan: single pass with map-side partial aggregation") {
    val p = plan(q("q_mix_plan"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"mixture planner lost its partial aggregate — shuffle carries raw docs:\n$p")
    // only the stratum and text columns leave the scan
    assert(!p.contains("n_chars") && !p.contains("source#"),
      s"mixture planner reads columns it never uses:\n$p")
  }

  test("q_block_dedup: keep-set joins on (id, idx) — never the skewable fingerprint") {
    val p = plan(q("q_block_dedup"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"block dedup regressed to an all-pairs plan:\n$p")
    // first-occurrence minima must partially aggregate (the md5 shuffle
    // carries one partial row per fingerprint per partition, never text)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"first-occurrence aggregate lost its map-side partial:\n$p")
    assert(!p.contains("Window"),
      s"keep-first must be groupBy-min + join-back, not a fingerprint window:\n$p")
    // packed-long min keeps the first-occurrence agg hash-based; a
    // struct-min would regress it to SortAggregate (per-partition sort
    // over every block of the corpus)
    assert(!p.contains("SortAggregate"),
      s"first-occurrence min fell back to a sort aggregate:\n$p")
  }

  test("q_boilerplate: hot-block exclusion join broadcasts the threshold-filtered side") {
    val p = plan(q("q_boilerplate"))
    // the hot list is tiny by construction (blocks in ≥3 docs) — the
    // exclusion join must not shuffle every block row by fingerprint
    assert(p.contains("BroadcastHashJoin"),
      s"hot-block exclusion lost its broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"doc-frequency count lost its map-side partial:\n$p")
  }

  test("q_fuzzy_pairs: deletion-neighborhood equi-join, never all-pairs") {
    val p = plan(q("q_fuzzy_pairs"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"edit-distance pairs regressed to an all-pairs join:\n$p")
    // candidate pairs dedup BEFORE the levenshtein verify
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"pair dedup missing below the verify:\n$p")
  }

  test("q_lm_score: model counts partially aggregated, no cartesian beyond the 1-row vocab") {
    val p = plan(q("q_lm_score"))
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"bigram/head/score aggregations lost their partial pairs:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"LM scoring went all-pairs (the vocab scalar must broadcast):\n$p")
  }

  test("q_pps_sample: stratum-partitioned windows, never a SinglePartition funnel") {
    val df = q("q_pps_sample")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("Window"), s"expected the cumulative-weight window:\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"PPS cumsum funneled through one partition:\n$p")
    assert(p.contains("hashpartitioning(lang"),
      s"cumulative window must partition on the stratum:\n$p")
  }

  test("q_prep_pipeline: dedup→gate→split→shard composes into two shuffles") {
    val df = q("q_prep_pipeline")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // split + shard assignment are pure map-side md5 arithmetic: the only
    // data shuffles are the fingerprint window and the manifest
    // aggregation (plus the final 24-row orderBy's range exchange)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"prep pipeline grew a shuffle beyond window + manifest agg:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"manifest aggregation lost its map-side partial:\n$p")
  }

  test("q_bloom_join: bloom prune filters the fact side BELOW the join") {
    val p = plan(q("q_bloom_join"))
    assert(p.toLowerCase.contains("might_contain"),
      s"bloom filter predicate missing from the plan:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"no join in the plan:\n$p")
    assert(p.contains("HashAggregate"), "final aggregate missing")
  }

  test("q_semantic_dedup: centroids broadcast, no unbounded cartesian") {
    val p = plan(q("q_semantic_dedup"))
    // the assign stage crossJoins ONLY against the broadcast centroid
    // frame (k rows); anything nested-loop beyond that is a regression
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroid assignment lost its broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"semantic dedup went all-pairs without broadcast:\n$p")
  }

  test("q_heavy_tokens: sketch aggregation keeps its map-side partial") {
    val p = plan(q("q_heavy_tokens"))
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"count_min_sketch aggregate lost its partial pair:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"merged sketch table must broadcast to the candidate rows:\n$p")
  }

  test("q_quantile_gate: threshold broadcast, window partitioned by group") {
    val p = plan(q("q_quantile_gate"))
    assert(p.contains("BroadcastHashJoin"),
      s"threshold table must broadcast to the gate join:\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"per-group window funneled through one partition:\n$p")
  }

  test("q_w_rolling / q_events_hopping: partitioned frames, partial aggs") {
    val pr = plan(q("q_w_rolling"))
    assert(pr.contains("Window"), s"no window node:\n$pr")
    assert(!pr.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"rolling window funneled through one partition:\n$pr")
    val ph = plan(q("q_events_hopping"))
    assert("HashAggregate".r.findAllIn(ph).size >= 2,
      s"hopping aggregation lost its map-side partial:\n$ph")
  }

  test("q_kll_rollup: sketch estimates broadcast back to the rank check") {
    val p = plan(q("q_kll_rollup"))
    assert(p.contains("BroadcastHashJoin"),
      s"per-group estimates must broadcast to lineitem:\n$p")
    assert("ObjectHashAggregate|HashAggregate".r.findAllIn(p).size >= 2,
      s"KLL aggregation lost its partial pair:\n$p")
  }

  test("as-of family: one keyed window, no cartesian, no SinglePartition funnel") {
    Seq("q_asof", "q_asof_forward", "q_asof_tol").foreach { name =>
      val p = plan(q(name))
      assert(p.contains("Window"), s"$name lost its window:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name must never range-explode:\n$p")
      assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
        s"$name funneled through one partition:\n$p")
    }
  }

  test("q_text_stats: pure map-side metrics — no aggregate, no hash shuffle") {
    // the one r5→r6 bench mover with no plan pin: its swings were JIT
    // rotation, and this assertion keeps a real plan regression from
    // ever hiding behind that explanation again
    val p = plan(q("q_text_stats"))
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate") &&
      !p.contains("SortAggregate"),
      s"per-doc metrics must not aggregate:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"map-side query must not hash-shuffle (only the orderBy range exchange):\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must read exactly (doc_id, text):\n$p")
    assert(!p.contains("UDF") && !p.contains("BatchEvalPython"),
      s"metrics must stay native expressions (codegen-friendly):\n$p")
  }

  test("writeZOrdered layout plan: range Exchange on _zkey, sort survives the drop") {
    // the 9.4× multi-column skipping claim (SCALE.md, ZORDER_CURVE.json)
    // rests on two plan properties this pins: (1) the write is
    // range-partitioned on the Morton key — each output file owns a
    // contiguous _zkey slice; (2) the Project that drops _zkey does NOT
    // eliminate the sort below it — rows inside each file stay
    // key-ordered so row-group stats are tight
    val li = Tables.lineitem(spark, sf).limit(20000)
      .select("l_orderkey", "l_partkey", "l_shipdate")
    val zdf = graft.sources.Sinks.zOrdered(li, Seq("l_shipdate", "l_partkey"), numFiles = 8)
    zdf.collect()
    val p = zdf.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("Exchange rangepartitioning(_zkey"),
      s"z-order write lost its range partitioning on the Morton key:\n$p")
    assert("Sort \\[_zkey".r.findAllIn(p).size >= 1,
      s"the within-partition sort on _zkey was optimized away:\n$p")

    // structural proof on the written files: re-derive the key on the
    // read-back (zOrderKey bakes global min/max into the Column, so the
    // same expression applies per file) — file key-ranges must be
    // pairwise disjoint (range partition) and keys monotone within a
    // file (the sort survived the drop + write)
    val dir = java.nio.file.Files.createTempDirectory("zpin").toString
    graft.sources.Sinks.writeZOrdered(li, s"$dir/z", Seq("l_shipdate", "l_partkey"), numFiles = 8)
    val back = spark.read.parquet(s"$dir/z")
    val key = graft.sources.Sinks.zOrderKey(back, Seq("l_shipdate", "l_partkey"))
    val files = new java.io.File(s"$dir/z").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length >= 2, "need multiple files to prove disjointness")
    val ranges = files.map { f =>
      val ks = spark.read.parquet(f).withColumn("_z", key)
        .select("_z").collect().map(_.getLong(0))
      assert(ks.sameElements(ks.sorted),
        s"file $f is not key-sorted — the drop un-sorted the write")
      (ks.min, ks.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file key-ranges overlap: $hi > $lo2 — range partitioning lost")
      case _ => ()
    }

    // read-side pruning proof: a selective TWO-dimension predicate must
    // materialize far fewer rows out of the scan than the table holds —
    // parquet skipping is row-group-level, so the scan node's own
    // numOutputRows (rows surviving footer-stat skipping + pushdown,
    // BEFORE the Filter node) is the observable. This is the property
    // the 9.4× sf10 measurement (SCALE.md) rests on, pinned at CI scale.
    val total = back.count()
    val narrow = back
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1995-04-01").cast("timestamp") &&
              col("l_partkey").between(100, 400))
    narrow.collect()
    val scans = narrow.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no parquet scan found in the pruned query plan")
    val rowsOutOfScan = scans.map(_.metrics("numOutputRows").value).sum
    assert(rowsOutOfScan < total / 2,
      s"two-predicate scan materialized $rowsOutOfScan/$total rows — z-order skipping lost")
  }

  test("bucketed q3: zero shuffle Exchange, same rows as the plain path") {
    // the 100 TB remedy for the one shuffle-bound query: lineitem and
    // orders bucketed on orderkey join (and aggregate — orderkey
    // hash-partitioning satisfies the orderkey-prefixed grouping)
    // without any shuffle; only the customer broadcast remains
    graft.sources.Sinks.writeBucketed(Tables.lineitem(spark, sf),
      "pa_lineitem_bkt", Seq("l_orderkey"), 4, Seq("l_orderkey"))
    graft.sources.Sinks.writeBucketed(Tables.orders(spark, sf),
      "pa_orders_bkt", Seq("o_orderkey"), 4, Seq("o_orderkey"))
    val bucketed = SparkEntry.q3(spark.table("pa_lineitem_bkt"),
      spark.table("pa_orders_bkt"), Tables.customer(spark, sf))
    assert(shuffleCount(bucketed) == 0,
      s"bucketed q3 still shuffles:\n${bucketed.queryExecution.executedPlan}")
    val plain = SparkEntry.q3(Tables.lineitem(spark, sf),
      Tables.orders(spark, sf), Tables.customer(spark, sf))
    assert(shuffleCount(plain) >= 1,
      "self-check: the plain path should shuffle")
    assert(bucketed.collect().toSeq == plain.collect().toSeq,
      "bucketed layout changed the query result")
  }

  test("q_threshold_sweep: ONE corpus scan — grid binning map-side, window only over the grid-sized aggregate") {
    val p = plan(q("q_threshold_sweep"))
    // the naive forms this operator exists to avoid would show here as
    // one scan per threshold (6) or a corpus x grid cross join
    assert("Location: InMemoryFileIndex".r.findAllIn(p).size == 1,
      s"corpus scanned more than once:\n$p")
    assert(!p.contains("CartesianProduct"), "corpus x grid cross join")
    assert(p.contains("ReadSchema: struct<text:string>"),
      "scan reads columns beyond text")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "bin aggregate lost its map-side partial half")
  }

  test("q_calibrated_gate: sweep scan + gate scan only, cutoff reaches the gate as a 1-row broadcast") {
    val p = plan(q("q_calibrated_gate"))
    // exactly 2 corpus scans: one feeds the grid-binned sweep, one is
    // gated; a regression to per-threshold scans or a corpus x grid
    // cross join shows up as extra locations / a wide CartesianProduct
    assert("Location: InMemoryFileIndex".r.findAllIn(p).size == 2,
      s"expected 2 corpus scans (sweep + gate), got:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "chosen cutoff is not broadcast to the gate")
    assert(!p.contains("CartesianProduct"), "corpus-sized cartesian in the gate")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "sweep bin aggregate lost its map-side partial half")
  }

  test("q_minhash_pairs_md5: map-side native signatures — no per-shingle exchange") {
    // the portable twin's signature stage must stay the one-pass native
    // expression: a regression to the explode → groupBy(min×k) form
    // re-adds a full shuffle of |corpus shingles| (doc, a, b) rows (the
    // plan grows from 3 Exchanges to 4, and a per-shingle HashAggregate
    // pair appears below the banding)
    val p = plan(q("q_minhash_pairs_md5"))
    assert(p.contains("md5_minhash_sig"), s"native signature expression missing:\n$p")
    // the r18 parallelism repair (Tables.documentsWide) adds ONE
    // round-robin repartition of (doc_id, text) rows — doc-grained and
    // deliberate, not the per-shingle regression this pin guards
    // against, so count only KEYED exchanges (hash/range): the
    // explode → groupBy(min×k) regression shows up as an extra
    // hashpartitioning over shingle rows
    val keyed = "Arguments: (hash|range)partitioning".r.findAllIn(p).size
    assert(keyed <= 3, s"expected <= 3 keyed Exchanges, got $keyed:\n$p")
  }

  test("sampled gate twins: no cartesian, corpus scans pruned to doc_id/text") {
    // the sf10 gate queries must keep the banded/sampled shape — a
    // regression to an all-pairs comparison or a fat scan would ship as
    // a silent gate blowup at 100x
    for (name <- Seq("q_minhash_pairs_sampled", "q_curate_lsh_sampled",
        "q_dedup_clusters_sampled")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct"), s"$name went all-pairs:\n$p")
      val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toList
      assert(schemas.nonEmpty && schemas.forall(s =>
        s == "ReadSchema: struct<>" || // the n_docs count scan: zero columns
        s == "ReadSchema: struct<text:string>" ||
        s == "ReadSchema: struct<doc_id:bigint>" ||
        s == "ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$name scan schemas not pruned: $schemas")
    }
  }

  test("q_j7_key_discovery: one scan per side per report — candidate count adds no scans") {
    // keyOverlapReport unpivots each side once; C candidates must cost 2
    // scans, not 2C. q_j7 unions two reports over (customer, orders) with
    // 2 candidates and (orders, lineitem) with 1 → exactly 4 table scans.
    // The pre-round-11 per-candidate form showed 6 here (and 2C in
    // general — a C-candidate discovery over the lake's widest tables).
    val p = plan(q("q_j7_key_discovery"))
    val scans = "Location: InMemoryFileIndex".r.findAllIn(p).size
    assert(scans == 4, s"expected 4 table scans (2 per report), got $scans:\n$p")
    assert(!p.contains("CartesianProduct"), "discovery went all-pairs")
  }

  test("q_split_leakage / q_leaked_docs: banded pair stage, no cartesian, pruned corpus scans") {
    for (name <- Seq("q_split_leakage", "q_leaked_docs")) {
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct"), s"$name went all-pairs:\n$p")
      // every corpus read is doc_id and/or text only — the audit never
      // drags unrelated document columns through the LSH shuffle
      val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toList
      assert(schemas.nonEmpty && schemas.forall(s =>
        s == "ReadSchema: struct<text:string>" ||
        s == "ReadSchema: struct<doc_id:bigint>" ||
        s == "ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$name scan schemas not pruned: $schemas")
    }
  }

  test("hashedLinearScore: one pruned scan, zero exchanges — scoring is pure map work") {
    // audit the operator (q_quality_classifier adds the oracle orderBy)
    val p = plan(graft.operators.TextQuality.hashedLinearScore(
      Tables.documents(spark, sf), "text", "doc_id"))
    assert(!p.contains("Exchange"), s"classifier scoring must not shuffle:\n$p")
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toList
    assert(schemas == List("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"classifier scan not pruned to (doc_id, text): $schemas")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
      "classifier must stay inside codegen'd built-ins")
  }

  test("q_upsert: base side anti-joins BROADCAST delta keys — the big side never shuffles") {
    val df = q("q_upsert")
    df.collect()
    // tree format keeps "Exchange hashpartitioning(...)" on one line
    // (the formatted renderer splits node name and Arguments — a
    // line-match there is vacuously empty)
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast left-anti against delta keys:\n$p")
    // the only hash Exchanges allowed are the delta-sized duplicate-key
    // guard window (it appears in BOTH the keys and the rows branch of
    // the union — two, both delta-sized); the oracle orderBy is a range
    // exchange; the full base must never hash-shuffle for the merge
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"unexpected base-side shuffles:\n$p")
  }

  test("q_domain_cap: windows partitioned by domain, never SinglePartition; scan pruned to doc_id") {
    val df = q("q_domain_cap")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"domain cap funnels through one partition:\n$p")
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toList
    assert(schemas == List("ReadSchema: struct<doc_id:bigint>"),
      s"cap scan must read only doc_id (url is derived): $schemas")
    // two-phase salted cap = exactly two window exchanges
    // ((domain, bucket) then domain) + the oracle orderBy range
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"salted cap should hash-shuffle exactly twice:\n$p")
  }

  test("q_domain_quality: one pruned scan, partial-agg groupBy, no UDF") {
    val df = q("q_domain_quality")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toList
    assert(schemas == List("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"rollup must scan documents once, pruned to (doc_id, text): $schemas")
    // map-side combine before the domain shuffle: one partial + one
    // final HashAggregate pair, a single hash exchange between them
    assert(p.contains("partial_count"), s"partial aggregation missing:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"rollup should shuffle once, on domain:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
      "rollup must stay inside codegen'd built-ins")
  }

  test("q_domain_sample: domain-sized weight side broadcasts; corpus verdict is map work") {
    val df = q("q_domain_sample")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"),
      s"weights must broadcast to the corpus scan:\n$p")
    assert(!p.contains("SinglePartition"), s"driver-sized bottleneck:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_dup_spans: fingerprint join never cartesian, hot cap broadcast, text joined by id") {
    val df = q("q_dup_spans")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span discovery went all-pairs:\n$p")
    // the hot-fingerprint exclusion is a broadcast anti join (the list
    // is bounded), never a shuffle of the fingerprint set against it.
    // Pinned on the PRE-AQE physical plan: at this fixture scale the
    // hot list is empty and AQE's empty-relation propagation correctly
    // deletes the join from the final plan
    val pre = df.queryExecution.sparkPlan.toString
    assert(pre.contains("LeftAnti") && pre.contains("BroadcastHashJoin"),
      s"hot cap should be a broadcast anti join:\n$pre")
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toList
    assert(schemas.nonEmpty && schemas.forall(
      _ == "ReadSchema: struct<doc_id:bigint,text:string>"),
      s"span scans must read only (doc_id, text): $schemas")
  }

  test("q_cross_spans: asymmetric fp join, no cartesian, corpus-side hot cap anti join") {
    val df = q("q_cross_spans")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cross screen went all-pairs:\n$p")
    val pre = df.queryExecution.sparkPlan.toString
    assert(pre.contains("LeftAnti") && pre.contains("BroadcastHashJoin"),
      s"hot cap should be a broadcast anti join:\n$pre")
  }

  test("q_url_blocklist: blocklist side broadcast — the corpus never shuffles against the list") {
    // pre-AQE plan: the suffix-equality join must be a broadcast hash
    // join with the ENTRY side built, and never a nested loop
    val pre = q("q_url_blocklist").queryExecution.sparkPlan.toString
    assert(pre.contains("BroadcastHashJoin"),
      s"blocklist join must broadcast the entry list:\n$pre")
    assert(!pre.contains("BroadcastNestedLoopJoin") &&
      !pre.contains("CartesianProduct"),
      s"suffix match degenerated to all-pairs:\n$pre")
  }

  test("q_anchor_text: rollups are hash aggregates, no SinglePartition funnel, no cartesian") {
    val p = plan(q("q_anchor_text"))
    assert(p.contains("HashAggregate"), "anchor rollup lost partial aggregation")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"top-anchor pick funneled to one partition:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in anchor rollup:\n$p")
  }

  test("q_cdc_dedup: chunking is map-only — one agg exchange plus the output sort, nothing else") {
    val p = plan(q("q_cdc_dedup"))
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    // the chunk→md5 group-by's hash exchange + the final orderBy's range
    // exchange; the native GearCdc generate stage must add none (the
    // 100 TB contract: chunking is scan-side work, only chunk KEYS move)
    assert(exchanges <= 2, s"CDC chunking added shuffles:\n$p")
    val aggs = "\\(\\d+\\) HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"chunk rollup lost partial aggregation:\n$p")
    assert(p.contains("gear_cdc"), s"native expression missing from plan:\n$p")
  }

  test("q_random_proj: projection is pure map work — zero exchanges beyond the output sort") {
    val p = plan(q("q_random_proj"))
    // formatted output repeats each node in the details section —
    // count NODES via their Arguments lines, not string hits. Counted
    // as KEYED exchanges so the pin stays valid whether or not the
    // loader ever gains a round-robin parallelism repair (q_random_proj
    // kept the RAW embeddings loader in r18 — single projection, the
    // exchange measured as a net loss); the projection itself must add
    // no KEYED exchange beyond the final orderBy's range partitioning.
    val keyed = "Arguments: (hash|range)partitioning".r.findAllIn(p).size
    assert(keyed <= 1, s"projection added keyed shuffles:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("snapshotDiff: exchanges carry key+fingerprint, never the payload") {
    // the operator's whole scale contract: diffing two 100 TB snapshots
    // must shuffle (key, 8-16 B fp) projections, not document text — a
    // regression that lets the payload reach the full-outer join's
    // exchanges silently turns a keys-sized diff into a corpus-sized one
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val v2 = docs.withColumn("text",
      org.apache.spark.sql.functions.concat(col("text"), lit("x")))
    val p = plan(graft.operators.Diff.snapshotDiff(
      docs, v2, Seq("doc_id"), Seq("text")))
    val exchangeInputs =
      raw"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchangeInputs.nonEmpty, s"no exchange found — plan shape changed:\n$p")
    exchangeInputs.foreach(in =>
      assert(!in.contains("text#"),
        s"payload column crossed an exchange: [$in]\n$p"))
  }
}
