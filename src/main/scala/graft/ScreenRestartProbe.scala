package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** RELIABLE-checkpoint restart of the stateful near-dup screen UNDER
  * LOAD (r13 verdict item 6): the streaming twins' restart cases run
  * on 6-doc fixtures (StreamingDedupSpec); this probe kills and
  * restarts `CorpusStream.nearDupScreenStateful` mid-drain over the
  * FULL sf-dir documents table on the RocksDB state store provider —
  * the corpus-scale configuration — and proves the survivors:
  *
  *   - the restarted run's TOTAL hit set (parquet file sink,
  *     exactly-once with the checkpoint) is row-identical to an
  *     UNINTERRUPTED run over the same source with the same batching
  *     (order-independent count + Σ xxhash64 checksum — no driver
  *     collect of data-sized frames);
  *   - throughput per phase (pre-kill, post-restart, uninterrupted)
  *     and the state-store footprint (stateOperators rows + on-disk
  *     RocksDB checkpoint bytes) are recorded for SCALE.md.
  *
  * The kill is `query.stop()` after the first progress event — an
  * in-flight micro-batch is interrupted, and the restart must resume
  * from the last committed offset with the bucket→anchor state intact
  * (a replayed batch re-emits nothing extra: the file sink's
  * exactly-once log drops the uncommitted batch's files).
  *
  * Usage: `runMain graft.ScreenRestartProbe <sfDir> [maxFilesPerTrigger]`.
  */
object ScreenRestartProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/repo/testdata-sf10"
    val maxFiles = if (args.length > 1) args(1).toInt else 4
    val spark = Engine.session("graft-screenrestart", extraConfs = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    spark.sparkContext.setLogLevel("WARN")

    val docsDir = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(docsDir).schema
    val nDocs = spark.read.parquet(docsDir).count()
    println(s"[screen-restart] $nDocs docs, maxFilesPerTrigger=$maxFiles")

    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

    def start(ckpt: String, out: String) = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFiles).parquet(docsDir)
      streaming.CorpusStream.nearDupScreenStateful(src)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
    }

    def dirBytes(p: String): Long = {
      val f = new java.io.File(p)
      if (f.isFile) f.length()
      else if (f.isDirectory) f.listFiles().map(c => dirBytes(c.getPath)).sum
      else 0L
    }

    // order-independent checksum over the full hit set, computed in
    // Spark (the CorpusRecoveryProbe convention — DECIMAL sum: a long
    // Σ xxhash64 overflows under ANSI)
    def checksum(out: String): (Long, BigDecimal) = {
      val df = spark.read.parquet(out)
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("doc_id"), col("dup_of"), col("band"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))),
          lit(BigDecimal(0)))).head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }

    // ---- interrupted run: kill after the first committed batch ----
    val ckptA = tmp("srp-ckpt-a"); val outA = tmp("srp-out-a")
    val t0 = System.nanoTime()
    val q1 = start(ckptA, outA)
    // wait for at least one progress event, then kill mid-drain
    while (q1.recentProgress.length < 1 && q1.isActive) Thread.sleep(200)
    q1.stop()
    q1.awaitTermination()
    val tKill = (System.nanoTime() - t0) / 1e9
    val batchesBefore = q1.recentProgress.length
    // prove the kill INTERRUPTED the drain directly, at kill time:
    // committed input rows so far must be strictly below the source
    // total (a restarted fully-drained AvailableNow query can still
    // emit a no-data progress event, so a post-restart batch count
    // would not prove restart-under-load)
    val inputAtKill = q1.recentProgress.map(_.numInputRows).sum
    println(f"[screen-restart] killed after $batchesBefore batches " +
      f"($inputAtKill/$nDocs rows committed), $tKill%.1f s")
    require(batchesBefore >= 1, "kill landed before any batch committed")
    require(inputAtKill < nDocs,
      s"kill missed: all $nDocs rows committed before stop; " +
        "lower maxFilesPerTrigger so the drain spans more batches")

    val t1 = System.nanoTime()
    val q2 = start(ckptA, outA)
    q2.awaitTermination()
    val tResume = (System.nanoTime() - t1) / 1e9
    val batchesAfter = q2.recentProgress.length
    val lastProg = q2.recentProgress.lastOption
    val stateRows = lastProg.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    val stateBytes = dirBytes(s"$ckptA/state")
    val (nA, sumA) = checksum(outA)

    // ---- uninterrupted reference run, same source + batching ----
    val ckptB = tmp("srp-ckpt-b"); val outB = tmp("srp-out-b")
    val t2 = System.nanoTime()
    val q3 = start(ckptB, outB)
    q3.awaitTermination()
    val tRef = (System.nanoTime() - t2) / 1e9
    val (nB, sumB) = checksum(outB)

    val parity = nA == nB && sumA == sumB
    val line =
      f"""{"probe":"screen_restart","sf_dir":"$sfDir","n_docs":$nDocs,"max_files_per_trigger":$maxFiles,""" +
      f""""pre_kill":{"batches":$batchesBefore,"sec":$tKill%.1f},""" +
      f""""post_restart":{"batches":$batchesAfter,"sec":$tResume%.1f},""" +
      f""""uninterrupted_sec":$tRef%.1f,"docs_per_sec_with_restart":${nDocs / (tKill + tResume)}%.0f,""" +
      f""""docs_per_sec_uninterrupted":${nDocs / tRef}%.0f,""" +
      f""""state_rows":$stateRows,"state_bytes":$stateBytes,""" +
      f""""hits":$nA,"hits_ref":$nB,"parity":$parity}"""
    println(line)
    spark.stop()
    require(parity,
      s"restart parity FAILED: interrupted ($nA, $sumA) vs uninterrupted ($nB, $sumB)")
  }
}
