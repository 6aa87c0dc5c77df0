package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** State-growth bound AND per-batch cost curve for the stateful
  * near-dup screen.
  *
  * Round-14 axis (state): the unbounded `nearDupScreenStateful` keeps
  * one long per (band, bucket) forever — 3.83 M RocksDB rows / 335 MB
  * at 500 k sf10 docs ⇒ ~0.7 KB/doc ⇒ ~670 GB at 1 B docs. The bounded
  * twin (`CorpusStream.nearDupScreenBounded`) drains finished cycles to
  * an at-rest parquet snapshot; this probe proves the state PLATEAU
  * (max cycle state < 0.5× unbounded final state) and hit-set parity
  * with the unbounded twin over the same chunks.
  *
  * Round-15 axis (the OTHER cost — r15 verdict item 1): every
  * micro-batch stream-static joins the at-rest snapshot, so per-batch
  * cost could grow with corpus AGE even though state doesn't. The probe
  * runs ≥`cycles` drain cycles (default 8 — the snapshot grows ~7×
  * cycle 1 → last) and records `sec/cycle` against
  * `snapshot rows at cycle start` for TWO snapshot layouts:
  *
  *   - **plain parquet** (partitioned by cycle): the static side is
  *     re-shuffled/sorted by the join on every batch;
  *   - **bucketed table** (partitionBy(cycle) + bucketBy(numBuckets,
  *     band, bucket), dynamic-overwrite idempotent like the plain
  *     form): the static scan reports its hash partitioning, so the
  *     per-batch join plan shuffles ONLY the batch side — the write
  *     pays the snapshot's shuffle once per drain instead of once per
  *     batch (BucketProbe's zero-Exchange evidence, applied to the
  *     stream-static join). The executed micro-batch plan is captured
  *     and the probe REPORTS whether the static side carried an
  *     Exchange.
  *
  * All three paths (plain, bucketed, unbounded) must agree on the hit
  * set (count + order-independent Σ xxhash64) — `require`d.
  *
  * Chunks are hardlinked contiguous slices of the source part files;
  * each cycle/drain is ONE AvailableNow batch over its chunk, so the
  * min-id-in-batch anchor rule is order-independent and parity is
  * exact by construction (multi-batch restart behavior is
  * ScreenRestartProbe's job).
  *
  * Also asserts, end-to-end in a JVM it owns, the relation-cache
  * lifecycle RelCacheSpec can only pin mechanically: after
  * `spark.stop()`, the application-end listener must have evicted this
  * session's `Tables` entries.
  *
  * Usage: `runMain graft.ScreenDrainProbe <sfDir> [cycles]`.
  */
object ScreenDrainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/repo/testdata-sf10"
    val cycles = if (args.length > 1) args(1).toInt else 8
    val cpus = Knobs.env.cpus
    val base = java.nio.file.Files.createTempDirectory("sdp").toString
    val spark = Engine.session("graft-screendrain", cpus, Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      // the bucketed snapshot table lives under the probe's temp dir
      "spark.sql.warehouse.dir" -> s"$base/warehouse",
      // left-outer stream-static join with a small batch side: allow the
      // shuffled-hash plan (build = batch side) instead of sort-merge,
      // so the bucketed static side is neither re-shuffled NOR re-sorted
      "spark.sql.join.preferSortMergeJoin" -> "false"))
    spark.sparkContext.setLogLevel("WARN")

    // read once through Tables so the post-stop eviction assert below
    // exercises the listener path on a populated cache
    val docsDir = s"$sfDir/documents.parquet"
    val schema = Tables.documents(spark, sfDir).schema
    val nDocs = Tables.documents(spark, sfDir).count()

    val parts = new java.io.File(docsDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toPath).sortBy(_.getFileName.toString)
    println(s"[screen-drain] $nDocs docs, ${parts.length} files, $cycles cycles")
    val per = math.ceil(parts.length.toDouble / cycles).toInt
    parts.grouped(per).zipWithIndex.foreach { case (group, i) =>
      val dir = java.nio.file.Paths.get(s"$base/chunk$i")
      java.nio.file.Files.createDirectories(dir)
      group.foreach(p => java.nio.file.Files.createLink(
        dir.resolve(p.getFileName), p))
    }
    val nChunks = math.min(cycles, parts.grouped(per).size)

    def dirBytes(p: String): Long = {
      val f = new java.io.File(p)
      if (f.isFile) f.length()
      else if (f.isDirectory) f.listFiles().map(c => dirBytes(c.getPath)).sum
      else 0L
    }

    def checksum(df: org.apache.spark.sql.DataFrame): (Long, BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("doc_id"), col("dup_of"), col("band"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))),
          lit(BigDecimal(0)))).head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }

    /** One bounded pass over all chunks; returns per-cycle
      * (sec, stateRows, stateBytes, snapRowsAtStart) and the last
      * cycle's executed plan. `readSnapshot`/`appendSnapshot` abstract
      * the snapshot layout.
      */
    def boundedPass(tag: String,
                    readSnapshot: () => org.apache.spark.sql.DataFrame,
                    appendSnapshot: (org.apache.spark.sql.DataFrame, Int) => Unit)
        : (Seq[(Double, Long, Long, Long)], String) = {
      var lastPlan = ""
      val stats = (0 until nChunks).map { i =>
        val snapRows = if (i == 0) 0L else readSnapshot().count()
        val snapshot =
          if (i == 0) streaming.CorpusStream.emptyScreenSnapshot(spark)
          else readSnapshot()
        val t0 = System.nanoTime()
        val q = streaming.CorpusStream.nearDupScreenBounded(
            spark.readStream.schema(schema).parquet(s"$base/chunk$i"), snapshot)
          .writeStream.format("parquet").option("path", s"$base/sink-$tag-$i")
          .option("checkpointLocation", s"$base/ckpt-$tag-$i")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        if (i == nChunks - 1) {
          val buf = new java.io.ByteArrayOutputStream()
          Console.withOut(new java.io.PrintStream(buf)) { q.explain() }
          lastPlan = buf.toString("UTF-8")
        }
        appendSnapshot(
          streaming.CorpusStream.screenSnapshot(
            spark.read.parquet(s"$base/sink-$tag-$i")), i)
        val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        val stateBytes = dirBytes(s"$base/ckpt-$tag-$i/state")
        println(f"[screen-drain] $tag cycle $i: $sec%.1f s, snap-at-start $snapRows rows, state $stateRows rows / $stateBytes bytes")
        (sec, stateRows, stateBytes, snapRows)
      }
      (stats, lastPlan)
    }

    // ---- plain-parquet snapshot (cycle-partitioned, dynamic overwrite)
    val snapshotPath = s"$base/snapshot"
    val (plainStats, _) = boundedPass("plain",
      () => spark.read.parquet(snapshotPath),
      (rows, i) => rows.withColumn("cycle", lit(i))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("cycle").parquet(snapshotPath))
    val boundedSinks = (0 until nChunks)
      .map(i => spark.read.parquet(s"$base/sink-plain-$i"))
      .reduce(_ unionByName _)
    val (nHits, sumHits) = checksum(boundedSinks.filter(col("kind") === "hit"))
    val snapRows = spark.read.parquet(snapshotPath).count()
    val snapBytes = dirBytes(snapshotPath)

    // ---- bucketed snapshot table: same cycle partitioning + dynamic
    // overwrite (idempotent re-drain), bucketed on the join key so the
    // static side's per-batch shuffle disappears. Cycle 0 creates the
    // table; later cycles insertInto under dynamic partition overwrite
    // so a re-drained cycle REPLACES its own partition — a plain append
    // would duplicate snapshot rows (the option("partitionOverwriteMode")
    // shortcut only applies to overwrite mode — r16 ADVICE finding);
    // bucketing/sort come from the table metadata on insert.
    val tbl = "screen_snapshot_probe"
    val (buckStats, buckPlan) = boundedPass("buck",
      () => spark.table(tbl),
      (rows, i) => {
        val df = rows.withColumn("cycle", lit(i))
        if (i == 0) {
          df.write.mode("overwrite")
            .format("parquet").partitionBy("cycle")
            .bucketBy(cpus, "band", "bucket").sortBy("band", "bucket")
            .saveAsTable(tbl)
        } else {
          val key = "spark.sql.sources.partitionOverwriteMode"
          val prev = spark.conf.getOption(key)
          spark.conf.set(key, "dynamic")
          try df.write.mode("overwrite").insertInto(tbl)
          finally prev match {
            case Some(v) => spark.conf.set(key, v)
            case None => spark.conf.unset(key)
          }
        }
      })
    val buckSinks = (0 until nChunks)
      .map(i => spark.read.parquet(s"$base/sink-buck-$i"))
      .reduce(_ unionByName _)
    val (nHitsB, sumHitsB) = checksum(buckSinks.filter(col("kind") === "hit"))
    if (sys.env.contains("SDP_PRINT_PLAN")) println(buckPlan)
    // Exchange above the snapshot scan? The healthy micro-batch plan has
    // EXACTLY two Exchanges — REQUIRED_BY_STATEFUL_OPERATOR (groupByKey)
    // and ENSURE_REQUIREMENTS on the BATCH side of the join — and the
    // snapshot scan reports `Bucketed: true`. A third Exchange means the
    // static side shuffled after all (the per-batch cost this layout
    // exists to remove).
    val exchanges =
      buckPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    val bucketedScan = buckPlan.linesIterator.exists(l =>
      l.contains(tbl) && l.contains("Bucketed: true"))
    val staticExchange = !bucketedScan || exchanges > 2

    // ---- unbounded twin: one checkpoint, chunks landing between drains
    val growDir = s"$base/grow"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(growDir))
    var unboundedState = 0L
    val drainSecs = (0 until nChunks).map { i =>
      new java.io.File(s"$base/chunk$i").listFiles().foreach(f =>
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(growDir, s"c$i-${f.getName}"), f.toPath))
      val t0 = System.nanoTime()
      val q = streaming.CorpusStream.nearDupScreenStateful(
          spark.readStream.schema(schema).parquet(growDir))
        .writeStream.format("parquet").option("path", s"$base/sinkU")
        .option("checkpointLocation", s"$base/ckptU")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      unboundedState = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      (System.nanoTime() - t0) / 1e9
    }
    val unboundedBytes = dirBytes(s"$base/ckptU/state")
    val (nRef, sumRef) = checksum(spark.read.parquet(s"$base/sinkU")
      .withColumn("band", col("band").cast("int")))

    val parity = nHits == nRef && sumHits == sumRef
    val parityBucketed = nHitsB == nRef && sumHitsB == sumRef
    val maxCycleState = plainStats.map(_._2).max
    val line =
      f"""{"probe":"screen_drain","sf_dir":"$sfDir","n_docs":$nDocs,"cycles":$nChunks,""" +
      s""""cycle_sec":[${plainStats.map(c => f"${c._1}%.1f").mkString(",")}],""" +
      s""""cycle_state_rows":[${plainStats.map(_._2).mkString(",")}],""" +
      s""""cycle_state_bytes":[${plainStats.map(_._3).mkString(",")}],""" +
      s""""snap_rows_at_start":[${plainStats.map(_._4).mkString(",")}],""" +
      s""""cycle_sec_bucketed":[${buckStats.map(c => f"${c._1}%.1f").mkString(",")}],""" +
      s""""snap_rows_at_start_bucketed":[${buckStats.map(_._4).mkString(",")}],""" +
      s""""static_side_exchange_bucketed":$staticExchange,""" +
      s""""unbounded_drain_sec":[${drainSecs.map(s => f"$s%.1f").mkString(",")}],""" +
      s""""unbounded_state_rows":$unboundedState,"unbounded_state_bytes":$unboundedBytes,""" +
      s""""snapshot_rows":$snapRows,"snapshot_bytes":$snapBytes,""" +
      s""""hits":$nHits,"hits_bucketed":$nHitsB,"hits_ref":$nRef,""" +
      s""""parity":$parity,"parity_bucketed":$parityBucketed}"""
    println(line)

    spark.stop()
    // the relation-cache listener must have swept this session on stop
    require(Tables.cachedPaths(spark).isEmpty,
      "Tables.relCache retained entries for a stopped session")
    require(parity,
      s"drain parity FAILED: bounded ($nHits, $sumHits) vs unbounded ($nRef, $sumRef)")
    require(parityBucketed,
      s"bucketed drain parity FAILED: ($nHitsB, $sumHitsB) vs unbounded ($nRef, $sumRef)")
    // plateau: one cycle's state ≈ one chunk's new buckets ≈ 1/nChunks of
    // the unbounded final state; 2× slack absorbs chunk-size imbalance
    require(maxCycleState < unboundedState * 2L / nChunks,
      s"state did not plateau: max cycle $maxCycleState vs unbounded " +
        s"$unboundedState over $nChunks cycles")
  }
}
