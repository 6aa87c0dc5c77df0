package graft.pipelines

import graft.operators.{Diff, Graph, TextDedup}
import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus curation: diff → screen-only-the-delta → versioned
  * publish. The capstone composing [[graft.operators.Diff.snapshotDiff]],
  * the exact cross-corpus pair screen, and
  * [[graft.sources.Sinks.Versioned]] time travel into the cadence the
  * reference runs by hand each month — archive-compare to find what
  * changed (`Saoirse Automation.ipynb:325-359`), process only the new
  * drop (`json_cleaning.ipynb:266-283` latest-file selection), publish
  * the refreshed output — generalized to "only added/changed documents
  * pay near-dup screening, and the published corpus is row-identical to
  * a full recompute".
  *
  * == The edge-ledger invariant ==
  *
  * Near-dup pair generation is PER-PAIR DETERMINISTIC: whether (a, b)
  * is a qualifying pair depends only on the two texts, never on the
  * rest of the corpus (uncapped [[TextDedup.jaccardPairsFromHashed]] /
  * [[TextDedup.jaccardPairsCrossStoredFromHashed]]). Therefore the full
  * pair set of version v+1 decomposes exactly:
  *
  *   pairs(v+1) = pairs(v) \ {touching removed∪changed}
  *              ∪ pairs(delta × delta) ∪ pairs(delta × unchanged)
  *
  * where delta = added∪changed docs. The pipeline maintains that pair
  * set as a persisted EDGE LEDGER per version; curation (transitive
  * closure → min-id canonical per cluster) is recomputed from the
  * ledger — connected components cost rides the EDGE count and node
  * ids, never the document payloads. The expensive text-side work
  * (shingling the delta, posting-list pair generation) is delta-bound;
  * the only full-corpus passes are the (key, fingerprint) projection
  * the diff shuffles (a few dozen bytes per row at any scale) and the
  * unchanged side's shingle stream feeding the cross join — which the
  * monthly-drop shape broadcast-prunes to the delta's shingle hashes.
  * By construction the result is row-identical to a full recompute —
  * the q_inc_curate oracle IS the full recompute, so the driver's green
  * row is the cross-engine proof, and the spec asserts it per version.
  *
  * Every publish shingles its text ONCE: the bootstrap hashes the whole
  * corpus in one checkpointed pass and derives the ledger, the shingle
  * segment and the size segment from it; a release does the same over
  * its delta (`hashOnce`). IncrementalCurationSpec pins the bootstrap's
  * single shingle stage.
  *
  * Hot-shingle caps are deliberately ABSENT here: a cap's drop decision
  * depends on corpus-wide posting counts, which breaks the per-pair
  * determinism the ledger identity needs. The capped/banded production
  * screen ([[TextDedup.crossCorpusNearDups]] with its persisted band
  * index) trades that identity for bounded cost — same composition,
  * documented recall instead of exactness.
  */
object IncrementalCuration {

  /** Near-dup edges of a full corpus — the ledger a bootstrap persists.
    * (doc_a, doc_b) with doc_a < doc_b, exact Jaccard ≥ threshold.
    */
  def fullEdges(docs: DataFrame, textCol: String, idCol: String,
                n: Int = 3, threshold: Double = 0.8): DataFrame =
    TextDedup.jaccardPairs(docs, textCol, idCol, n, threshold)
      .select("doc_a", "doc_b")

  /** The incremental ledger transition: pairs(newCorpus) from
    * pairs(prevCorpus) plus delta-bound pair generation only — the
    * text-fed twin of [[transitionState]]: the same ledger step, with
    * the unchanged side hashed from `prevCorpus`' text instead of read
    * from a shingle store. The diff and the delta's hash frames are
    * checkpointed (delta-sized, as in [[transitionState]]); the
    * corpus-sized unchanged side stays lazy. The delta-sized right sides
    * (the stale and affected ids and, inside
    * [[TextDedup.jaccardPairsCrossStoredFromHashed]], the delta's
    * distinct shingle hashes) are broadcast at plan time, under the
    * delta-sized contract that kernel documents; a delta that rivals the
    * corpus should run [[fullEdges]] instead.
    */
  def incrementEdges(prevCorpus: DataFrame, newCorpus: DataFrame,
                     prevEdges: DataFrame, textCol: String, idCol: String,
                     n: Int = 3, threshold: Double = 0.8): DataFrame =
    ledgerStep(prevCorpus, newCorpus, prevEdges, 0, textCol, idCol, n,
        threshold) { stale =>
      // unchanged docs: their texts are byte-identical in both versions
      val uh = TextDedup.hashedShingles(
        prevCorpus.join(broadcast(stale), Seq(idCol), "left_anti"), textCol, idCol, n)
      (uh, TextDedup.sizesFromHashed(uh))
    }.edges

  /** Cluster assignment from a ledger: (idCol, cluster_id, is_canonical),
    * canonical = min id per transitive cluster — identical to
    * [[Graph.dedupClusters]] over a full-recompute pair set.
    */
  def curatedFromEdges(docs: DataFrame, idCol: String,
                       edges: DataFrame): DataFrame =
    Graph.dedupClusters(docs, idCol, edges, "doc_a", "doc_b")

  // ---- The persisted shingle store (r17 verdict item 2) ----
  //
  // [[incrementEdges]] re-streams the UNCHANGED side's shingles every
  // release (it hashes prevCorpus∖stale from TEXT) — measured at sf10,
  // a 2% release cost 60-75% of a full recompute (INC_CURATION.json
  // r17: ~500-630 MB shuffle/release ≈ the 567 MB bootstrap). The state
  // below persists the unchanged side's hashed shingle stream and set
  // sizes ALONGSIDE the ledger, maintained incrementally by the same
  // diff, so a release reads pre-hashed longs (columnar scan, no
  // re-shingling) and the cross screen's shuffle is ∝ delta + matches
  // (TextDedup.jaccardPairsCrossStoredFromHashed's broadcast semi-prune
  // keeps the store side shuffle-free).
  //
  // Store layout is merge-on-read SEGMENTS + TOMBSTONES so maintaining
  // it is ALSO delta-bound (an in-place store rewrite would just move
  // the full-corpus cost from the screen to the store):
  //   - shingles (doc, s, rel) / sizes (doc, sz, rel): one segment per
  //     release, rel = the release ordinal that wrote it;
  //   - tomb (doc, before_rel): doc's rows with rel < before_rel are
  //     dead (written when a doc is removed or changed at before_rel —
  //     a changed doc's fresh segment rows carry rel = before_rel and
  //     survive the filter).
  // Valid rows = segments anti tombstones; tombstones are cumulative-
  // churn-sized and aggregated per doc at read time (AQE broadcasts the
  // aggregate while churn is small; a compaction pass — rewrite the
  // valid rows as one segment, clear the tombstones — is the standing
  // maintenance answer once churn rivals the corpus, same discipline
  // as Versioned.compact over a long delta chain).

  /** The ledger + shingle-store state at one corpus version. Frame-
    * level (persistence-agnostic): the Versioned wrapper below stores
    * each frame as a root; probes and oracle queries hold them as
    * localCheckpoint'd frames instead.
    */
  case class LedgerState(rel: Int, edges: DataFrame, shingles: DataFrame,
                         sizes: DataFrame, tomb: DataFrame)

  /** One release's outputs, split delta-from-carried so a publisher can
    * write ONLY the delta pieces ([[graft.sources.Sinks.Versioned.writeDelta]])
    * when the release allows it.
    */
  case class Transition(rel: Int, keptEdges: DataFrame, newEdges: DataFrame,
                        delta: DataFrame, staleIds: DataFrame,
                        shingleDelta: DataFrame, sizeDelta: DataFrame,
                        tombDelta: DataFrame) {
    /** The full ledger of the new version. */
    def edges: DataFrame = keptEdges.unionByName(newEdges)
  }

  private def validRows(seg: DataFrame, tomb: DataFrame): DataFrame = {
    val br = tomb.groupBy("doc").agg(max("before_rel").as("_br"))
    // PLAN-TIME broadcast, not AQE: the static plan would SMJ here and
    // AQE's late conversion still pays the store side's shuffle WRITE
    // (measured: the sf10 2% release shuffled ~570 MB — the whole
    // store — before this hint). The tombstone aggregate is cumulative-
    // churn-sized by contract; compaction resets it before it could
    // outgrow a broadcast.
    seg.join(broadcast(br), Seq("doc"), "left")
      .filter(col("_br").isNull || col("rel") >= col("_br"))
      .drop("_br")
  }

  /** Live (doc, s) shingle rows of the state's corpus version —
    * row-identical to `TextDedup.hashedShingles(corpus)` by the
    * segment/tombstone induction the spec pins per version.
    */
  def validShingles(st: LedgerState): DataFrame =
    validRows(st.shingles, st.tomb).select("doc", "s")

  /** Live (doc, sz) set sizes of the state's corpus version. */
  def validSizes(st: LedgerState): DataFrame =
    validRows(st.sizes, st.tomb).select("doc", "sz")

  /** ONE shingle+hash pass over `docs`' text and the (doc, sz) set
    * sizes counted over it ([[TextDedup.sizesFromHashed]]), each
    * checkpointed. The bootstrap and every release share the result
    * four ways — pair generation, the cross screen (releases), and both
    * store segments — so the text is shingled exactly once per publish,
    * in one stage (unshared, each consumer re-shingled the text in its
    * own stage; a release's delta re-shingling was measured as its
    * dominant delta-side term at sf10).
    */
  private def hashOnce(docs: DataFrame, textCol: String, idCol: String,
                       n: Int): (DataFrame, DataFrame) = {
    val dh = TextDedup.hashedShingles(docs, textCol, idCol, n).localCheckpoint()
    (dh, TextDedup.sizesFromHashed(dh).localCheckpoint())
  }

  /** Version-0 state: full ledger + the bootstrap shingle segment, all
    * from one shingle+hash pass over the corpus ([[hashOnce]]): the
    * ledger is [[TextDedup.jaccardPairsFromHashed]] over the same rows
    * the segments hold, row-identical to [[fullEdges]] /
    * [[TextDedup.hashedShingles]] / [[TextDedup.shingleSizes]].
    */
  def bootstrapState(docs: DataFrame, textCol: String, idCol: String,
                     n: Int = 3, threshold: Double = 0.8): LedgerState = {
    val spark = docs.sparkSession
    val emptyTomb = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("before_rel",
          org.apache.spark.sql.types.IntegerType))))
    val (dh, dsz) = hashOnce(docs, textCol, idCol, n)
    LedgerState(0,
      TextDedup.jaccardPairsFromHashed(dh, dsz, threshold)
        .select("doc_a", "doc_b"),
      dh.withColumn("rel", lit(0)),
      dsz.withColumn("rel", lit(0)),
      emptyTomb)
  }

  /** The store-backed ledger transition: same per-pair math as
    * [[incrementEdges]] (the q_inc_curate_store oracle row is the
    * cross-engine proof — SAME full-recompute SQL as q_inc_curate),
    * but the delta×unchanged screen reads the persisted shingle store
    * instead of re-shingling the unchanged side's text. Work per
    * release: one (key, fingerprint) diff, shingling of the DELTA
    * only, a columnar scan of the store pruned map-side by the delta's
    * hashes — shuffle ∝ delta + matches.
    */
  def transitionState(prevCorpus: DataFrame, newCorpus: DataFrame,
                      st: LedgerState, textCol: String, idCol: String,
                      n: Int = 3, threshold: Double = 0.8): Transition =
    ledgerStep(prevCorpus, newCorpus, st.edges, st.rel + 1, textCol, idCol,
        n, threshold) { stale =>
      val staleDocs = broadcast(stale.withColumnRenamed(idCol, "doc"))
      (validShingles(st).join(staleDocs, Seq("doc"), "left_anti"),
        validSizes(st).join(staleDocs, Seq("doc"), "left_anti"))
    }

  /** The ledger step both transitions share: diff the two snapshots,
    * drop the stale ids' edges, and pair the delta within itself and
    * against the unchanged corpus side, whose (doc, s) / (doc, sz)
    * frames `unchanged` builds from the stale ids. The diff and the
    * delta's hash frames are checkpointed. The delta's text is shingled
    * once, and that hash frame also becomes the store's new segments.
    */
  private def ledgerStep(prevCorpus: DataFrame, newCorpus: DataFrame,
                         edges: DataFrame, rel: Int, textCol: String,
                         idCol: String, n: Int, threshold: Double)(
      unchanged: DataFrame => (DataFrame, DataFrame)): Transition = {
    requireIntegralIds(idCol, prevCorpus, newCorpus)
    // ONE diff pass as (id, status) — the affected/stale id frames and
    // the publisher's stale count are all cheap filters over it
    // (checkpointing the id frames separately re-ran the full-outer
    // fingerprint join once per frame)
    val diff = Diff.snapshotDiff(prevCorpus, newCorpus, Seq(idCol), Seq(textCol))
      .filter(col("status") =!= "unchanged")
      .select(col(idCol).cast("long").as(idCol), col("status"))
      .localCheckpoint()
    val affected = diff.filter(col("status").isin("added", "changed"))
      .select(idCol)
    val stale = diff.filter(col("status").isin("removed", "changed"))
      .select(idCol)
    // pairs among unchanged docs are untouched — their texts are
    // byte-identical, so full recompute would emit exactly these.
    // Delta-sized right sides get plan-time broadcast hints: the ledger
    // and the shingle store must not shuffle for an anti-join against a
    // monthly drop's ids (same rationale as validRows' hint)
    val keptEdges = edges
      .join(broadcast(stale.withColumnRenamed(idCol, "doc_a")), Seq("doc_a"), "left_anti")
      .join(broadcast(stale.withColumnRenamed(idCol, "doc_b")), Seq("doc_b"), "left_anti")
      // USING joins front the key column — restore the ledger order
      .select("doc_a", "doc_b")
    val delta = newCorpus.join(broadcast(affected), Seq(idCol), "left_semi")
    val (dh, dsz) = hashOnce(delta, textCol, idCol, n)
    val (uh, usz) = unchanged(stale)
    Transition(rel, keptEdges, pairStep(dh, dsz, uh, usz, threshold), delta,
      stale, dh.withColumn("rel", lit(rel)), dsz.withColumn("rel", lit(rel)),
      stale.withColumnRenamed(idCol, "doc").withColumn("before_rel", lit(rel)))
  }

  /** A release's new ledger rows: the delta's (doc, s) / (doc, sz)
    * frames paired within themselves and against the unchanged side's.
    * Delta ids and unchanged ids are disjoint by construction; each
    * cross pair is ordered to the ledger's (least, greatest) convention.
    */
  private def pairStep(dh: DataFrame, dsz: DataFrame, uh: DataFrame,
                       usz: DataFrame, threshold: Double): DataFrame = {
    val within = TextDedup.jaccardPairsFromHashed(dh, dsz, threshold)
      .select("doc_a", "doc_b")
    val cross = TextDedup.jaccardPairsCrossStoredFromHashed(dh, dsz, uh, usz,
        threshold)
      .select(least(col("new_id"), col("corpus_id")).as("doc_a"),
        greatest(col("new_id"), col("corpus_id")).as("doc_b"))
    within.unionByName(cross)
  }

  /** Loud id-type contract (mirror of jaccardPairs' packed-key guard):
    * the ledger's doc_a/doc_b are longs, so the affected/stale id frames
    * are cast to long to join against it. A silent cast of a
    * non-numeric id would yield NULLs, the semi/anti joins would match
    * nothing, and the transition would return the PREVIOUS ledger — a
    * silent identity break. Refuse non-integral ids instead.
    */
  private def requireIntegralIds(idCol: String, corpora: DataFrame*): Unit =
    corpora.foreach { c =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val dt = c.schema(idCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"IncrementalCuration: id column '$idCol' is $dt; the edge ledger " +
          "keys on long ids (jaccardPairs packs them into 64-bit pair " +
          "keys), and a lossy cast here would silently return a stale " +
          "ledger. Map the id to an integral type first")
    }

  /** Fold a transition into the frame-level state. The new ledger and
    * the DELTA pieces are localCheckpoint'ed, standing in for the
    * persisted parquet a publish writes; the carried segments stay
    * whatever the previous fold made them, mirroring the at-rest
    * segment files.
    */
  def applyTransition(st: LedgerState, t: Transition): LedgerState =
    LedgerState(t.rel,
      t.keptEdges.unionByName(t.newEdges).localCheckpoint(),
      st.shingles.unionByName(t.shingleDelta.localCheckpoint()),
      st.sizes.unionByName(t.sizeDelta.localCheckpoint()),
      st.tomb.unionByName(t.tombDelta.localCheckpoint()))

  // ---- Versioned persistence (corpus snapshots, ledgers, outputs) ----
  //
  // Six version stores move in LOCKSTEP, written in one fixed order per
  // publish (corpus → edges → sh → sz → tomb → curated) by one writer,
  // `release`, whether the release is a publish or a heal. A crash
  // between writes leaves a strict PREFIX at the new seq; [[heal]]
  // recomputes and writes the missing suffix deterministically (the
  // ledger math is per-pair deterministic), so a restarted cadence
  // republishes identically instead of wedging on the lockstep check.
  //
  // Publish cost (r17 verdict item 1): a pure-add release (the
  // streaming-cadence shape — no removed/changed docs) publishes
  // corpus and ledger via Versioned.writeDelta — only the drop's bytes
  // are written, earlier files are referenced. The shingle/size/tomb
  // stores are segment-structured and ALWAYS delta-published. The
  // curated assignment is the one full write left per publish: cluster
  // ids of old docs can change when new edges merge clusters, and the
  // table is metadata-narrow (id, cluster_id, is_canonical — tens of
  // bytes/doc against the corpus's KB-scale payloads).

  private def corpusRoot(root: String) = s"$root/corpus"
  private def edgesRoot(root: String) = s"$root/edges"
  private def curatedRoot(root: String) = s"$root/curated"
  private def shRoot(root: String) = s"$root/sh"
  private def szRoot(root: String) = s"$root/sz"
  private def tombRoot(root: String) = s"$root/tomb"

  private def allRoots(root: String): Seq[String] =
    Seq(corpusRoot(root), edgesRoot(root), shRoot(root), szRoot(root),
      tombRoot(root), curatedRoot(root))

  /** The persisted [[LedgerState]] at the live version. */
  def readState(spark: SparkSession, root: String): LedgerState =
    stateAt(spark, root, Sinks.Versioned.versions(spark, edgesRoot(root)).last)

  private def stateAt(spark: SparkSession, root: String, seq: Int): LedgerState =
    LedgerState(seq,
      Sinks.Versioned.readAt(spark, edgesRoot(root), seq),
      Sinks.Versioned.readAt(spark, shRoot(root), seq),
      Sinks.Versioned.readAt(spark, szRoot(root), seq),
      Sinks.Versioned.readAt(spark, tombRoot(root), seq))

  private def lastSeq(spark: SparkSession, root: String): Option[Int] =
    Sinks.Versioned.versions(spark, root).lastOption

  /** The one writer of a release: the six stores in write order, each
    * written unless it already holds `target` (every store on a publish,
    * the torn suffix on a [[heal]]), then all six checked in step at
    * `target`. `corpus` and `edges` are the caller's write (full or
    * delta) into the given root; the shingle, size and tomb segments
    * land as deltas, and the curated assignment as a full write built
    * once the stores before it have landed. Returns the number of
    * stores written.
    */
  private def release(root: String, target: Int,
                      corpus: String => Int, edges: String => Int,
                      sh: DataFrame, sz: DataFrame, tomb: DataFrame)(
      curated: => DataFrame): Int = {
    val spark = sh.sparkSession
    // one write per store, in allRoots' order
    val puts: Seq[String => Int] = Seq(corpus, edges,
      Sinks.Versioned.writeDelta(sh, _), Sinks.Versioned.writeDelta(sz, _),
      Sinks.Versioned.writeDelta(tomb, _), Sinks.Versioned.write(curated, _))
    val behind = allRoots(root).zip(puts)
      .filter { case (r, _) => lastSeq(spark, r).forall(_ < target) }
    behind.foreach { case (r, put) => put(r): Unit }
    val seqs = allRoots(root).map(lastSeq(spark, _))
    require(seqs.forall(_.contains(target)), s"version stores out of step: $seqs")
    behind.size
  }

  /** Release `target` from a full corpus: the bootstrap state, its
    * ledger checkpointed for the ledger write and the curation pass.
    */
  private def releaseBootstrap(docs: DataFrame, root: String, target: Int,
                               textCol: String, idCol: String, n: Int,
                               threshold: Double): Int = {
    val st = bootstrapState(docs, textCol, idCol, n, threshold)
    val edges = st.edges.localCheckpoint()
    release(root, target, Sinks.Versioned.write(docs, _),
      Sinks.Versioned.writeDelta(edges, _), st.shingles, st.sizes, st.tomb)(
      curatedFromEdges(docs, idCol, edges))
  }

  /** Release `t.rel` from a transition. A pure-add release (nothing
    * removed or changed) publishes corpus and ledger as deltas; any
    * other rewrites both. `newCorpus` is evaluated only where it is
    * written or curated, so a caller may read it back from the corpus
    * store this release has just written.
    */
  private def releaseTransition(newCorpus: => DataFrame, t: Transition,
                                pureAdd: Boolean, root: String,
                                idCol: String): Int = {
    // the new ledger rows feed the ledger write AND the curation pass
    val newEdges = t.newEdges.localCheckpoint()
    val edgesAll = t.keptEdges.unionByName(newEdges)
    release(root, t.rel,
      if (pureAdd) Sinks.Versioned.writeDelta(t.delta, _)
      else Sinks.Versioned.write(newCorpus, _),
      if (pureAdd) Sinks.Versioned.writeDelta(newEdges, _)
      else Sinks.Versioned.write(edgesAll, _),
      t.shingleDelta, t.sizeDelta, t.tombDelta)(
      curatedFromEdges(newCorpus, idCol, edgesAll))
  }

  /** Publish version 0: full recompute of the ledger and the curated
    * assignment; persists corpus snapshot + ledger + shingle store +
    * curation under `root`. Returns the published seq (0).
    */
  def bootstrap(docs: DataFrame, root: String, textCol: String, idCol: String,
                n: Int = 3, threshold: Double = 0.8): Int = {
    val seq = lastSeq(docs.sparkSession, corpusRoot(root)).fold(0)(_ + 1)
    releaseBootstrap(docs, root, seq, textCol, idCol, n, threshold): Unit
    seq
  }

  /** Publish version v+1 from a new corpus snapshot: only added/changed
    * documents pay pair generation (against each other and, through the
    * persisted shingle store, against the unchanged corpus);
    * removed/changed docs' stale edges are dropped from the ledger.
    * Self-heals a torn earlier publish first. Returns the new seq.
    */
  def publishIncrement(newCorpus: DataFrame, root: String,
                       textCol: String, idCol: String,
                       n: Int = 3, threshold: Double = 0.8): Int = {
    val spark = newCorpus.sparkSession
    heal(spark, root, textCol, idCol, n, threshold): Unit
    val prevCorpus = Sinks.Versioned.read(spark, corpusRoot(root))
    val st = readState(spark, root)
    val t = transitionState(prevCorpus, newCorpus, st, textCol, idCol, n,
      threshold)
    val nStale = t.staleIds.count()
    // idempotent re-publish: a restart that retries a publish whose
    // corpus already landed (heal above completed any torn suffix)
    // finds an empty diff — return the live seq instead of stamping a
    // contentless duplicate version
    if (nStale == 0 && t.delta.isEmpty) return st.rel
    releaseTransition(newCorpus, t, nStale == 0, root, idCol): Unit
    t.rel
  }

  /** Publish version v+1 from a KNOWN pure-add drop — the streaming-
    * cadence fast path. [[publishIncrement]] diffs two full corpus
    * snapshots to DISCOVER the delta (one (key, fingerprint) pass over
    * each side — payload-free, but still a full-text scan per publish);
    * a continuous-ingest cadence already knows exactly which docs the
    * drop added, so this entry point skips the diff entirely. Publish
    * cost: delta shingling + one columnar scan of the (pruned) shingle
    * store + CC over the ledger + delta-file writes — nothing rewrites
    * or re-fingerprints the corpus.
    *
    * Contract: `delta` must be NEW docs only (ids not in the live
    * corpus, integral ids). A re-publish of an already-landed drop is
    * detected (all ids present) and returns the live seq idempotently —
    * the restart-after-crash shape; PARTIAL overlap refuses loudly.
    * Self-heals a torn earlier publish first. Returns the new seq.
    */
  def publishDrop(delta: DataFrame, root: String,
                  textCol: String, idCol: String,
                  n: Int = 3, threshold: Double = 0.8): Int = {
    val spark = delta.sparkSession
    heal(spark, root, textCol, idCol, n, threshold): Unit
    val st = readState(spark, root)
    val rel = st.rel + 1
    val dIds = delta.select(col(idCol).cast("long").as(idCol)).localCheckpoint()
    val nDelta = dIds.count()
    if (nDelta == 0) return st.rel
    // pure-add check rides the corpus ID COLUMN only (pruned columnar
    // scan, broadcast delta ids — no shuffle, no text)
    val present = Sinks.Versioned.read(spark, corpusRoot(root))
      .select(col(idCol).cast("long").as(idCol))
      .join(broadcast(dIds), Seq(idCol), "left_semi").count()
    if (present == nDelta) return st.rel
    require(present == 0,
      s"publishDrop: $present of $nDelta drop ids already live — not a " +
        "pure-add drop (changed/removed docs need publishIncrement's diff)")
    // a pure-add transition without the diff: one shingle+hash pass over
    // the drop, shared four ways (within pairs, cross screen, both store
    // segments); nothing is stale
    val (dh, dsz) = hashOnce(delta, textCol, idCol, n)
    val t = Transition(rel, st.edges,
      pairStep(dh, dsz, validShingles(st), validSizes(st), threshold),
      delta, dIds.limit(0), dh.withColumn("rel", lit(rel)),
      dsz.withColumn("rel", lit(rel)), st.tomb.limit(0))
    // curation reads the corpus back once the drop has landed in it
    releaseTransition(Sinks.Versioned.read(spark, corpusRoot(root)), t,
      pureAdd = true, root, idCol): Unit
    rel
  }

  /** Roll a torn publish FORWARD: the six stores are written in a fixed
    * order, so a crash leaves a prefix of them at the corpus's seq S and
    * the rest exactly one version behind (absent, when a bootstrap tore
    * at S = 0). Rerun the release that tore from corpus versions S-1 and
    * S (deterministic — same functions, same inputs as the crashed
    * publish), writing only the stores behind S; any other shape refuses
    * loudly. Requires version S-1 retained (vacuum keep >= 2, the
    * standing reader-grace contract). Returns the number of stores
    * healed (0 = nothing to do).
    */
  def heal(spark: SparkSession, root: String, textCol: String, idCol: String,
           n: Int = 3, threshold: Double = 0.8): Int = {
    val seqs = allRoots(root).map(lastSeq(spark, _))
    val target = seqs.head.getOrElse(
      throw new java.io.FileNotFoundException(
        s"heal: no published corpus under $root — bootstrap first"))
    // in write order: the stores after the prefix at target
    val torn = seqs.dropWhile(_.contains(target))
    if (torn.isEmpty) return 0
    val behind = if (target == 0) None else Some(target - 1)
    require(torn.forall(_ == behind),
      s"heal: stores under $root are neither in-step nor a torn prefix " +
        s"(seqs=$seqs target=$target) — not a crash shape this can repair")
    val newCorpus = Sinks.Versioned.readAt(spark, corpusRoot(root), target)
    if (target == 0)
      releaseBootstrap(newCorpus, root, 0, textCol, idCol, n, threshold)
    else {
      val t = transitionState(
        Sinks.Versioned.readAt(spark, corpusRoot(root), target - 1), newCorpus,
        stateAt(spark, root, target - 1), textCol, idCol, n, threshold)
      releaseTransition(newCorpus, t, t.staleIds.count() == 0, root, idCol)
    }
  }

  /** Time-travel read of a published curation (the release audit pairs
    * this with [[Diff.diffSummary]] over two corpus versions).
    */
  def curatedAt(spark: SparkSession, root: String, seq: Int): DataFrame =
    Sinks.Versioned.readAt(spark, curatedRoot(root), seq)

  /** Time-travel read of a published edge ledger. */
  def edgesAt(spark: SparkSession, root: String, seq: Int): DataFrame =
    Sinks.Versioned.readAt(spark, edgesRoot(root), seq)
}
