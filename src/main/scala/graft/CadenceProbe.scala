package graft

import org.apache.spark.sql.functions._
import graft.pipelines.IncrementalCuration
import graft.sources.Sinks

/** The production cadence END-TO-END at volume (r16 verdict item 6):
  * the pieces are proven separately (CorpusStream ingest exactly-once
  * in CorpusStreamSpec, IncrementalCuration≡full in q_inc_curate,
  * Versioned time travel in ShardsSpec) — this probe wires the full
  * loop the reference runs by hand each month, generalized to the
  * continuous regime:
  *
  *   drop lands → streaming ingest + near-dup screen (persisted band
  *   index) → corpus snapshot publish → incremental curation
  *   transition (edge ledger) → versioned corpus/ledger/curation v+1
  *   → vacuum with a retention window
  *
  * `runMain graft.CadenceProbe [sfDir] [nCycles]` (defaults
  * testdata-sf10, 4) splits the documents table into nCycles drops.
  * One mid-loop cycle is KILLED mid-drain (query.stop() after the
  * first committed batch with input rows, re-asserted to have landed
  * before the source drained) and restarted; ANOTHER cycle's PUBLISH
  * is killed twice (orphan data dir + stale tmp manifest, then a hard
  * stop after 3 of the 6 lockstep store writes) and must heal forward
  * to an identical version with an idempotent re-publish — the loop
  * must carry on as if uninterrupted. Verdicts, all `require`d:
  *
  *   - no double-accept across the kill (accepted ids distinct);
  *   - input coverage: every dropped doc is accepted or named in a
  *     rejection pair;
  *   - LEDGER parity: the final incremental edge ledger ≡ a full
  *     fullEdges recompute over the final published corpus;
  *   - CURATION parity: final published curation ≡ curatedFromEdges
  *     over the recomputed ledger (the q_inc_curate identity at
  *     volume, through the streaming front door);
  *   - time travel: every cycle's version readable pre-vacuum;
  *     post-vacuum(keep=2) the stale versions refuse loudly and the
  *     live ones still read.
  *
  * The screen is the BANDED production path (documented recall, not
  * exactness) — parity is asserted on the curation-over-the-published-
  * corpus identity, which is exact regardless of what the screen
  * accepted.
  */
object CadenceProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("testdata-sf10")
    val nCycles = args.drop(1).headOption.map(_.toInt).getOrElse(4)
    // small corpora drain a chunk in one fast batch, leaving no window
    // for the mid-drain kill — shrink the trigger so the kill can land
    val maxFilesPerTrigger = args.drop(2).headOption.map(_.toInt).getOrElse(8)
    require(nCycles >= 3, "need >= 3 cycles: bootstrap, a killed cycle, a clean close")
    val spark = Engine.session("graft-cadence")
    spark.sparkContext.setLogLevel("WARN")
    val base = java.nio.file.Files.createTempDirectory("graft-cadence").toString
    val dropDir = s"$base/drops"
    val statePath = s"$base/state"
    val root = s"$base/versioned"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dropDir))

    // deterministic drops: cycle c carries doc_id % nCycles == c
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    // 16 files per chunk so a drain is SEVERAL micro-batches at any
    // maxFilesPerTrigger ≤ 16 — the kill needs a batch boundary to land on
    (0 until nCycles).foreach { c =>
      docs.filter(pmod(col("doc_id"), lit(nCycles)) === c)
        .repartition(16)
        .write.mode("overwrite").parquet(s"$base/chunk$c")
    }
    val nInput = docs.count()
    val schema = spark.read.parquet(s"$base/chunk0").schema
    val killCycle = nCycles / 2
    // a SECOND kill (r17 verdict item 6) lands inside the PUBLISH, not
    // the drain: cycle 1's publish is torn twice — a garbage orphan
    // data dir + stale tmp manifest (crash between data write and
    // manifest rename), then a hard stop after the corpus/edges/sh
    // writes with sz/tomb/curated never written. The restart must heal
    // forward to an identical version, a re-publish of the same drop
    // must NOT stamp a duplicate, and no torn or orphan state may ever
    // be readable.
    val pubKillCycle = 1
    require(nCycles >= 4 && killCycle != pubKillCycle,
      "need >= 4 cycles: bootstrap, a killed publish, a killed drain, a clean close")

    def drainOnce(): org.apache.spark.sql.streaming.StreamingQuery =
      streaming.CorpusStream.ingest(spark, dropDir, schema, statePath,
        maxFilesPerTrigger = maxFilesPerTrigger)

    var killCommitted = -1L
    val cycleRows = (0 until nCycles).map { c =>
      new java.io.File(s"$base/chunk$c").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dropDir, s"c$c-${f.getName}"), f.toPath)
        }
      val chunkRows = spark.read.parquet(s"$base/chunk$c").count()
      val t0 = System.nanoTime()
      if (c == killCycle) {
        // kill mid-drain: stop after the first committed batch, prove
        // the source had NOT drained, restart from the checkpoint.
        // Wait for a progress entry with numInputRows > 0, not just ANY
        // entry — the first recentProgress can be a zero-input batch,
        // which would make the killCommitted < chunkRows guard pass
        // vacuously on a kill that never interrupted anything
        val q1 = drainOnce()
        while (q1.isActive &&
            q1.recentProgress.map(_.numInputRows).sum < 1) Thread.sleep(50)
        q1.stop(); q1.awaitTermination()
        killCommitted = q1.recentProgress.map(_.numInputRows).sum
        require(killCommitted > 0,
          "kill vacuous: no rows committed before stop — the kill did " +
            "not land between a committed batch and remaining input")
        require(killCommitted < chunkRows,
          s"kill missed: all $chunkRows rows committed before stop — " +
            "lower maxFilesPerTrigger or enlarge the corpus")
        println(s"[cadence] cycle $c KILLED after $killCommitted/$chunkRows rows")
        val q2 = drainOnce(); q2.awaitTermination()
      } else { val q = drainOnce(); q.awaitTermination() }
      val ingestSec = (System.nanoTime() - t0) / 1e9

      // snapshot publish + incremental curation transition + version
      val newCorpus = spark.read.parquet(s"$statePath/accepted")
        .select("doc_id", "text")
      val t1 = System.nanoTime()
      var healedStores = 0
      val seq =
        if (c == 0) IncrementalCuration.bootstrap(newCorpus, root, "text", "doc_id")
        else if (c == pubKillCycle) {
          val corpusRoot = s"$root/corpus"
          // publish-window kill A: crash between a data write and its
          // manifest rename — a garbage orphan dir + stale tmp manifest
          // that the retry must replace, never expose
          spark.range(13).selectExpr("id AS doc_id", "'garbage' AS text")
            .write.mode("overwrite").parquet(f"$corpusRoot/v$c%05d")
          java.nio.file.Files.createFile(java.nio.file.Paths.get(
            corpusRoot, f".tmp-manifest-$c%05d")): Unit
          // publish-window kill B: hard stop mid-publish — the first
          // three stores (corpus, edges, sh) land at the new seq,
          // sz/tomb/curated never do
          val prev = graft.sources.Sinks.Versioned.read(spark, corpusRoot)
          val st = IncrementalCuration.readState(spark, root)
          val t = IncrementalCuration.transitionState(prev, newCorpus,
            st, "text", "doc_id")
          require(t.staleIds.isEmpty, "cadence drops must be pure-add")
          require(graft.sources.Sinks.Versioned.writeDelta(t.delta, corpusRoot) == c)
          graft.sources.Sinks.Versioned.writeDelta(t.newEdges, s"$root/edges"): Unit
          graft.sources.Sinks.Versioned.writeDelta(t.shingleDelta, s"$root/sh"): Unit
          // ---- "crash" here; the restart heals forward ----
          healedStores = IncrementalCuration.heal(spark, root, "text", "doc_id")
          require(healedStores == 3,
            s"publish kill: expected 3 healed stores (sz/tomb/curated), got $healedStores")
          // the drop's re-publish is idempotent: same corpus, same seq,
          // no duplicate version stamped
          val again = IncrementalCuration.publishIncrement(newCorpus, root, "text", "doc_id")
          require(again == c,
            s"re-publish after heal stamped a duplicate version: $again != $c")
          // kill A's garbage must not be readable through any manifest
          require(graft.sources.Sinks.Versioned.read(spark, corpusRoot)
            .filter(col("text") === "garbage").isEmpty,
            "orphan garbage leaked into the published corpus")
          c
        }
        else {
          // the streaming cadence KNOWS its drop — this cycle's chunk
          // minus the screen's rejections — so the clean cycles take
          // the publishDrop fast path (no full-corpus discovery diff);
          // the killed-publish cycle above keeps exercising the
          // diff-based publishIncrement at volume
          val rejectedIds = spark.read.parquet(s"$statePath/dup_pairs")
            .select(col("new_id").cast("long").as("doc_id")).distinct()
          val dropDocs = spark.read.parquet(s"$base/chunk$c")
            .select(col("doc_id").cast("long").as("doc_id"), col("text"))
            .join(rejectedIds, Seq("doc_id"), "left_anti")
          IncrementalCuration.publishDrop(dropDocs, root, "text", "doc_id")
        }
      val publishSec = (System.nanoTime() - t1) / 1e9
      val nAccepted = Sinks.Versioned.read(spark, s"$root/corpus").count()
      val nEdges = IncrementalCuration.edgesAt(spark, root, seq).count()
      println(f"[cadence] cycle $c: ingest $ingestSec%.1f s, publish v$seq " +
        f"in $publishSec%.1f s, corpus $nAccepted docs, ledger $nEdges edges" +
        (if (c == killCycle) " (killed+restarted mid-drain)" else "") +
        (if (c == pubKillCycle) " (killed mid-publish, healed+republished)" else ""))
      f"""{"cycle":$c,"ingest_sec":$ingestSec%.2f,"publish_sec":$publishSec%.2f,""" +
        f""""version":$seq,"corpus_docs":$nAccepted,"ledger_edges":$nEdges,""" +
        f""""killed":${c == killCycle},"killed_publish":${c == pubKillCycle},""" +
        f""""healed_stores":$healedStores}"""
    }

    // ---- verdicts ----
    val accepted = spark.read.parquet(s"$statePath/accepted").select("doc_id")
    val nAcc = accepted.count()
    require(accepted.distinct().count() == nAcc,
      "double-accepted docs across the kill/restart — exactly-once broke")
    val rejected = spark.read.parquet(s"$statePath/dup_pairs")
      .select(col("new_id").as("doc_id")).distinct()
    val covered = accepted.unionByName(rejected).distinct().count()
    require(covered == nInput,
      s"coverage hole: $covered of $nInput dropped docs have a verdict")

    val finalCorpus = Sinks.Versioned.read(spark, s"$root/corpus").localCheckpoint()
    val incEdges = Sinks.Versioned.read(spark, s"$root/edges").localCheckpoint()
    val fullEdges = IncrementalCuration.fullEdges(finalCorpus, "text", "doc_id")
      .localCheckpoint()
    val ledgerParity =
      incEdges.unionByName(fullEdges).distinct().count() == incEdges.count() &&
        fullEdges.count() == incEdges.count()
    require(ledgerParity, "incremental ledger diverged from full recompute")
    val incCurated = Sinks.Versioned.read(spark, s"$root/curated").localCheckpoint()
    val fullCurated = IncrementalCuration
      .curatedFromEdges(finalCorpus, "doc_id", fullEdges).localCheckpoint()
    val curationParity =
      incCurated.unionByName(fullCurated).distinct().count() == incCurated.count() &&
        fullCurated.count() == incCurated.count()
    require(curationParity, "published curation diverged from full recompute")

    // time travel pre-vacuum, refusal post-vacuum
    val versions = Sinks.Versioned.versions(spark, s"$root/curated")
    require(versions == (0 until nCycles), s"expected ${nCycles} versions, got $versions")
    (0 until nCycles).foreach { v =>
      require(Sinks.Versioned.readAt(spark, s"$root/curated", v).count() > 0,
        s"version $v unreadable pre-vacuum")
    }
    val vacuumed = Seq("corpus", "edges", "curated")
      .map(k => Sinks.Versioned.vacuum(spark, s"$root/$k", keep = 2)).sum
    val staleRefused =
      try { Sinks.Versioned.readAt(spark, s"$root/curated", 0); false }
      catch { case _: java.io.FileNotFoundException => true }
    require(staleRefused, "vacuumed version 0 still readable — retention broke")
    require(Sinks.Versioned.readAt(spark, s"$root/curated", nCycles - 1).count() > 0,
      "live version unreadable post-vacuum")

    val line =
      f"""{"probe":"cadence","sf_dir":"$dir","cycles":$nCycles,"input_docs":$nInput,""" +
      f""""accepted_docs":$nAcc,"kill_cycle":$killCycle,"kill_committed_rows":$killCommitted,""" +
      f""""publish_kill_cycle":$pubKillCycle,""" +
      f""""per_cycle":[${cycleRows.mkString(",")}],""" +
      f""""ledger_parity":$ledgerParity,"curation_parity":$curationParity,""" +
      f""""vacuumed_versions":$vacuumed,"stale_version_refused":$staleRefused}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("CADENCE.json"), line.getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(line)
    spark.stop()
  }
}
