package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipelines.IncrementalCuration

/** Probe the incremental-curation capstone at VOLUME (r16 verdict
  * item 1): the q_inc_curate oracle proves row-identity at the oracle
  * SFs, but the edge-ledger path's COST story — delta-bound pair
  * generation, a (key, fingerprint)-sized diff shuffle, ledger growth —
  * was design-only above sf1. `runMain graft.IncCurationProbe [sfDir]
  * [frac1,frac2,...]` (defaults: testdata-sf10 and 0.02,0.10,0.50)
  * runs a bootstrap + one incremental release PER FRACTION over the
  * corpus and records, per release:
  *
  *   - wall seconds for the ledger transition (the store-backed
  *     transitionState materialized, INCLUDING the release's shingle
  *     segments — since r18 the unchanged side reads the persisted
  *     store instead of re-shingling text, so release shuffle rides
  *     the delta) and for the curation pass (CC over the ledger);
  *   - delta rows (added+changed), removed rows, ledger edge count;
  *   - shuffle read/write bytes for the release window;
  *   - the diff stage ALONE: rows moved and shuffle bytes → bytes/row,
  *     the "payload-free at volume" claim as a number (the full-outer
  *     join's inputs carry (key, one md5 fingerprint) — tens of bytes
  *     per row at any corpus size; a payload regression would read KB).
  *
  * Then REQUIRES parity: the final version's curated assignment must be
  * row-identical to a full recompute from scratch (fullEdges over the
  * final corpus → curatedFromEdges) — the q_inc_curate identity,
  * re-proven at volume instead of at the oracle SFs.
  *
  * Release construction is deterministic (xxhash64 selections): v1 is
  * 60% of the corpus; each release removes ~f/4, rewrites ~f/2 in
  * place, and adds ~f/4 from the reserved 40% pool (anti-joined so a
  * doc is added once). Version frames and ledgers are
  * localCheckpoint'd — the stand-in for the at-rest parquet snapshots
  * `Sinks.Versioned` persists in the pipeline form (the end-to-end
  * cadence INCLUDING publish/vacuum is CadenceProbe's job); this probe
  * isolates the ledger math the 100 TB claim rides on.
  */
object IncCurationProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("testdata-sf10")
    val fracs = args.drop(1).headOption
      .map(_.split(",").map(_.toDouble).toSeq).getOrElse(Seq(0.02, 0.10, 0.50))
    val spark = Engine.session("graft-inccuration")
    spark.sparkContext.setLogLevel("WARN")

    // ---- shuffle accounting: totals snapshot-ed per phase ----
    val shRead = new java.util.concurrent.atomic.AtomicLong
    val shWrite = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        shRead.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
      }
    })
    def settle(): (Long, Long) = {
      // listener bus is async — poll until stable (Bench's discipline)
      var prev = (shRead.get, shWrite.get); var n = 0
      while (n < 3) {
        Thread.sleep(100)
        val cur = (shRead.get, shWrite.get)
        if (cur == prev) n += 1 else { n = 0; prev = cur }
      }
      prev
    }

    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .localCheckpoint()
    val nCorpus = docs.count()
    val pool = docs.filter(col("doc_id") % 5 >= 3)
    def h(salt: Int) = pmod(xxhash64(col("doc_id"), lit(salt)), lit(1000L))

    // ---- bootstrap: v1 = 60% of the corpus, full ledger + shingle
    // store (r17 item 2: the store is part of the bootstrap's price;
    // every release then reads it instead of re-shingling) ----
    val v1 = docs.filter(col("doc_id") % 5 < 3).localCheckpoint()
    val n1 = v1.count()
    val (r0, w0) = settle()
    val tB = System.nanoTime()
    var state = {
      val b = IncrementalCuration.bootstrapState(v1, "text", "doc_id")
      b.copy(edges = b.edges.localCheckpoint(),
        shingles = b.shingles.localCheckpoint(),
        sizes = b.sizes.localCheckpoint())
    }
    val e1n = state.edges.count()
    val bootEdgeSec = (System.nanoTime() - tB) / 1e9
    val tBC = System.nanoTime()
    val curN = IncrementalCuration.curatedFromEdges(v1, "doc_id", state.edges).count()
    val bootCurSec = (System.nanoTime() - tBC) / 1e9
    val (r1, w1) = settle()
    println(f"[inc-curation] bootstrap: $n1 docs, $e1n edges in $bootEdgeSec%.1f s " +
      f"+ curate $curN rows in $bootCurSec%.1f s, shuffle r ${(r1 - r0) / 1e6}%.0f / w ${(w1 - w0) / 1e6}%.0f MB")

    // ---- one incremental release per fraction ----
    var prevCorpus = v1
    var rel = 0
    val relRows = fracs.map { f =>
      rel += 1
      val removed = prevCorpus.filter(h(rel * 7 + 2) < (f / 4 * 1000).toLong)
      val kept = prevCorpus.join(removed.select("doc_id"), Seq("doc_id"), "left_anti")
      val rewritten = kept.select(col("doc_id"),
        when(h(rel * 7 + 3) < (f / 2 * 1000).toLong,
          concat(col("text"), lit(s" r$rel"))).otherwise(col("text")).as("text"))
      val added = pool.join(prevCorpus.select("doc_id"), Seq("doc_id"), "left_anti")
        .filter(h(rel * 7 + 1) < (f * 0.625 * 1000).toLong)
      val cur = rewritten.unionByName(added).localCheckpoint()
      val nRemoved = removed.count()
      val nAdded = added.count()

      // diff stage alone: rows moved + its shuffle bytes → bytes/row
      val (dr0, dw0) = settle()
      val tD = System.nanoTime()
      val diff = operators.Diff.snapshotDiff(prevCorpus, cur,
        Seq("doc_id"), Seq("text"))
      val diffCounts = diff.groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val diffSec = (System.nanoTime() - tD) / 1e9
      val (dr1, dw1) = settle()
      val nChanged = diffCounts.getOrElse("changed", 0L)
      val diffRows = math.max(1L, diffCounts.values.sum)
      val diffShuffleB = (dr1 - dr0) + (dw1 - dw0)

      val (er0, ew0) = settle()
      val tE = System.nanoTime()
      // store-backed transition: the unchanged side is read from the
      // checkpointed shingle segments (the at-rest parquet's stand-in),
      // pruned map-side by the delta's hashes — release shuffle rides
      // the delta, not the corpus. applyTransition's localCheckpoint
      // materializes the new ledger AND the release's store segments,
      // so edge_sec is the FULL release cost including store upkeep.
      val t = IncrementalCuration.transitionState(prevCorpus, cur,
        state, "text", "doc_id")
      state = IncrementalCuration.applyTransition(state, t, _.localCheckpoint())
      val eN = state.edges.count()
      val edgeSec = (System.nanoTime() - tE) / 1e9
      val tC = System.nanoTime()
      val cN = IncrementalCuration.curatedFromEdges(cur, "doc_id", state.edges).count()
      val curSec = (System.nanoTime() - tC) / 1e9
      val (er1, ew1) = settle()

      val nDelta = nAdded + nChanged
      println(f"[inc-curation] release $rel (f=$f): delta $nDelta rows " +
        f"(+$nAdded/~$nChanged/-$nRemoved), edges $eN in $edgeSec%.1f s + " +
        f"curate $cN in $curSec%.1f s, shuffle r ${(er1 - er0) / 1e6}%.0f / " +
        f"w ${(ew1 - ew0) / 1e6}%.0f MB, diff ${diffShuffleB / diffRows} B/row")
      prevCorpus = cur
      f"""{"frac":$f,"delta_rows":$nDelta,"added":$nAdded,"changed":$nChanged,""" +
        f""""removed":$nRemoved,"ledger_edges":$eN,"edge_sec":$edgeSec%.2f,""" +
        f""""curate_sec":$curSec%.2f,"curated_rows":$cN,""" +
        f""""shuffle_read_mb":${(er1 - er0) / 1e6}%.1f,"shuffle_write_mb":${(ew1 - ew0) / 1e6}%.1f,""" +
        f""""diff_sec":$diffSec%.2f,"diff_rows":$diffRows,"diff_shuffle_bytes_per_row":${diffShuffleB / diffRows}}"""
    }

    // ---- parity: incremental final ≡ full recompute ----
    val tP = System.nanoTime()
    val fullFinalEdges = IncrementalCuration.fullEdges(prevCorpus, "text", "doc_id")
      .localCheckpoint()
    val fullEdgeSec = (System.nanoTime() - tP) / 1e9
    val incCur = IncrementalCuration.curatedFromEdges(prevCorpus, "doc_id", state.edges)
      .localCheckpoint()
    val fullCur = IncrementalCuration.curatedFromEdges(prevCorpus, "doc_id", fullFinalEdges)
      .localCheckpoint()
    val parity = incCur.unionByName(fullCur).distinct().count() == incCur.count() &&
      fullCur.count() == incCur.count()
    require(parity, "incremental curated assignment diverged from the " +
      "full recompute on the final version — the edge-ledger identity broke")
    val ledgerParity = state.edges.unionByName(fullFinalEdges).distinct().count() == state.edges.count() &&
      fullFinalEdges.count() == state.edges.count()
    require(ledgerParity, "incremental LEDGER diverged from the full " +
      "recompute's pair set on the final version")

    val line =
      f"""{"probe":"inc_curation","sf_dir":"$dir","corpus_docs":$nCorpus,"v1_docs":$n1,""" +
      f""""bootstrap":{"edges":$e1n,"edge_sec":$bootEdgeSec%.2f,"curate_sec":$bootCurSec%.2f},""" +
      f""""releases":[${relRows.mkString(",")}],""" +
      f""""full_recompute_edge_sec":$fullEdgeSec%.2f,"parity_curated":$parity,"parity_ledger":$ledgerParity}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("INC_CURATION.json"), line.getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(line)
    spark.stop()
  }
}
