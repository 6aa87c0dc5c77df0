package graft

import graft.pipelines.IncrementalCuration
import graft.sources.Sinks
import graft.streaming.CorpusStream
import org.apache.spark.sql.functions._

/** The production cadence as ONE composition, over sf0.01's documents:
  *
  *   drop lands → streaming ingest + near-dup screen (persisted band
  *   index) → corpus snapshot publish → incremental curation
  *   transition (edge ledger) → versioned corpus/ledger/curation v+1
  *   → vacuum with a retention window
  *
  * The pieces have their own specs (CorpusStreamSpec,
  * IncrementalCurationSpec, ShardsSpec); this one runs them as a loop
  * of 4 cycles, one drop each. Cycle 1's PUBLISH is torn twice (an
  * orphan data dir plus a stale tmp manifest, then a hard stop after 3
  * of the 6 lockstep store writes) and must heal forward with an
  * idempotent re-publish; cycle 2's DRAIN is killed after its first
  * committed batch and restarted. The loop must end as if uninterrupted:
  * no doc accepted twice, every dropped doc accepted or named in a
  * rejection pair, the incremental ledger and curation equal to a full
  * recompute over the final corpus, every version readable before the
  * vacuum and the vacuumed ones refused loudly after it.
  *
  * The screen is the banded production path (documented recall, not
  * exactness); parity is asserted on the curation-over-the-published-
  * corpus identity, which is exact whatever the screen accepted.
  */
class CadenceSpec extends SparkSpec {

  test("cadence loop: killed drain and torn publish heal; ledger and curation equal a full recompute") {
    val nCycles = 4
    val filesPerChunk = 4   // a drain is 4 batches: the kill needs a boundary
    val pubKillCycle = 1
    val killCycle = 2
    val base = java.nio.file.Files.createTempDirectory("cadence").toString
    val dropDir = s"$base/drops"
    val statePath = s"$base/state"
    val root = s"$base/versioned"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dropDir))

    // deterministic drops: cycle c carries doc_id % nCycles == c
    val docs = Tables.documents(spark, sfDir("sf0.01"))
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    (0 until nCycles).foreach { c =>
      docs.filter(pmod(col("doc_id"), lit(nCycles)) === c)
        .repartition(filesPerChunk)
        .write.parquet(s"$base/chunk$c")
    }
    val nInput = docs.count()
    val schema = spark.read.parquet(s"$base/chunk0").schema

    def drain() = CorpusStream.ingest(spark, dropDir, schema, statePath,
      maxFilesPerTrigger = 1)

    (0 until nCycles).foreach { c =>
      new java.io.File(s"$base/chunk$c").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dropDir, s"c$c-${f.getName}"), f.toPath)
        }
      if (c == killCycle) {
        // stop after the first committed batch with input rows, then
        // restart from the checkpoint
        val chunkRows = spark.read.parquet(s"$base/chunk$c").count()
        val q = drain()
        while (q.isActive && q.recentProgress.map(_.numInputRows).sum < 1)
          Thread.sleep(10)
        q.stop()
        q.awaitTermination()
        val committed = q.recentProgress.map(_.numInputRows).sum
        assert(committed > 0, "kill landed before any batch committed")
        assert(committed < chunkRows,
          s"kill missed: all $chunkRows rows committed before stop")
      }
      drain().awaitTermination()

      val newCorpus = spark.read.parquet(s"$statePath/accepted")
        .select("doc_id", "text")
      val seq =
        if (c == 0) IncrementalCuration.bootstrap(newCorpus, root, "text", "doc_id")
        else if (c == pubKillCycle) {
          val corpusRoot = s"$root/corpus"
          // tear A: a crash between a data write and its manifest
          // rename leaves a garbage orphan dir and a stale tmp manifest
          spark.range(13).selectExpr("id AS doc_id", "'garbage' AS text")
            .write.mode("overwrite").parquet(f"$corpusRoot/v$c%05d")
          java.nio.file.Files.createFile(java.nio.file.Paths.get(
            corpusRoot, f".tmp-manifest-$c%05d")): Unit
          // tear B: a hard stop after the corpus, edges and sh stores
          // land at the new seq; sz, tomb and curated never do
          val prev = Sinks.Versioned.read(spark, corpusRoot)
          val st = IncrementalCuration.readState(spark, root)
          val t = IncrementalCuration.transitionState(prev, newCorpus,
            st, "text", "doc_id")
          assert(t.staleIds.isEmpty, "cadence drops must be pure-add")
          assert(Sinks.Versioned.writeDelta(t.delta, corpusRoot) == c)
          Sinks.Versioned.writeDelta(t.newEdges, s"$root/edges"): Unit
          Sinks.Versioned.writeDelta(t.shingleDelta, s"$root/sh"): Unit
          // ---- crash here; the restart heals forward ----
          assert(IncrementalCuration.heal(spark, root, "text", "doc_id") == 3,
            "a publish torn after 3 of 6 stores heals the other 3")
          assert(IncrementalCuration.publishIncrement(newCorpus, root,
            "text", "doc_id") == c,
            "re-publishing the healed drop stamped a duplicate version")
          assert(Sinks.Versioned.read(spark, corpusRoot)
            .filter(col("text") === "garbage").isEmpty,
            "orphan garbage leaked into the published corpus")
          c
        } else {
          // the streaming cadence knows its drop (this cycle's chunk
          // minus the screen's rejections): the publishDrop fast path
          val rejectedIds = spark.read.parquet(s"$statePath/dup_pairs")
            .select(col("new_id").cast("long").as("doc_id")).distinct()
          val dropDocs = spark.read.parquet(s"$base/chunk$c")
            .select(col("doc_id").cast("long").as("doc_id"), col("text"))
            .join(rejectedIds, Seq("doc_id"), "left_anti")
          IncrementalCuration.publishDrop(dropDocs, root, "text", "doc_id")
        }
      assert(seq == c, s"cycle $c published version $seq")
    }

    // exactly-once across the kill, and every dropped doc has a verdict
    val accepted = spark.read.parquet(s"$statePath/accepted").select("doc_id")
    val nAcc = accepted.count()
    assert(accepted.distinct().count() == nAcc,
      "a doc was accepted twice across the kill/restart")
    val rejected = spark.read.parquet(s"$statePath/dup_pairs")
      .select(col("new_id").as("doc_id")).distinct()
    assert(accepted.unionByName(rejected).distinct().count() == nInput,
      "a dropped doc has neither an accept nor a rejection pair")
    assert(nAcc < nInput, "the screen rejected nothing: coverage is vacuous")

    def sameSet(a: org.apache.spark.sql.DataFrame,
                b: org.apache.spark.sql.DataFrame): Boolean =
      a.unionByName(b).distinct().count() == a.count() && b.count() == a.count()
    val finalCorpus = Sinks.Versioned.read(spark, s"$root/corpus").localCheckpoint()
    val fullEdges = IncrementalCuration.fullEdges(finalCorpus, "text", "doc_id")
      .localCheckpoint()
    assert(sameSet(Sinks.Versioned.read(spark, s"$root/edges").localCheckpoint(),
      fullEdges), "incremental ledger diverged from the full recompute")
    assert(sameSet(Sinks.Versioned.read(spark, s"$root/curated").localCheckpoint(),
      IncrementalCuration.curatedFromEdges(finalCorpus, "doc_id", fullEdges)),
      "published curation diverged from the full recompute")

    // time travel before the vacuum, a loud refusal after it
    assert(Sinks.Versioned.versions(spark, s"$root/curated") == (0 until nCycles))
    (0 until nCycles).foreach { v =>
      assert(Sinks.Versioned.readAt(spark, s"$root/curated", v).count() > 0,
        s"version $v unreadable before the vacuum")
    }
    Seq("corpus", "edges", "curated")
      .foreach(k => Sinks.Versioned.vacuum(spark, s"$root/$k", keep = 2))
    intercept[java.io.FileNotFoundException] {
      Sinks.Versioned.readAt(spark, s"$root/curated", 0)
    }
    assert(Sinks.Versioned.readAt(spark, s"$root/curated", nCycles - 1).count() > 0,
      "live version unreadable after the vacuum")
  }
}
