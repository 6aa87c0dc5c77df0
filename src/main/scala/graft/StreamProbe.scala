package graft

import org.apache.spark.sql.streaming.Trigger

/** Streaming throughput probe AND standing gate: `runMain
  * graft.StreamProbe <sfDir> [maxFilesPerTrigger] [minEventsPerSec]`
  * drives the real Structured Streaming pipelines (file source →
  * watermark → stateful op → sink) over the scale rehearsal's events
  * table with `Trigger.AvailableNow`, reporting events/sec per
  * pipeline. Micro-batch boundaries come from `maxFilesPerTrigger`, so
  * the run exercises multi-batch state handling (watermark advance,
  * timeout sweeps, state store churn), not a single monolithic batch.
  *
  * Gate semantics (round 11): the probe emits ONE JSON line
  * (`{"probe":"stream_throughput",...}`) for merging into
  * BENCH_sf10.json — the standing record the verify skill re-runs per
  * round — and, when `minEventsPerSec` is given, FAILS LOUDLY if any
  * pipeline drains below it, so a stream-path regression surfaces like
  * a batch one instead of living as a one-off prose measurement.
  * Round-7 band at sf10: 650-810k events/s; the gate floor is set at
  * 250k — under the measured band by more than the box's ±25% ambient
  * swing, loud on any real (2-3×) regression.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/repo/testdata-sf10"
    val maxFiles = if (args.length > 1) args(1).toInt else 8
    val minRate = if (args.length > 2) args(2).toDouble else 0.0
    val spark = Engine.session("graft-streamprobe")

    val dir = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(dir).schema
    val nEvents = spark.read.parquet(dir).count()
    println(s"[stream] $nEvents events, maxFilesPerTrigger=$maxFiles")

    def drain(name: String, build: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Dataset[_]): (String, Double, Int) = {
      val src = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", maxFiles)
        .parquet(dir)
      val t0 = System.nanoTime()
      val q = build(src).writeStream
        .format("noop")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"sp-$name").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val dt = (System.nanoTime() - t0) / 1e9
      val batches = q.recentProgress.length
      val rate = nEvents / dt
      println(f"[stream] $name: $dt%.1f s, $rate%.0f events/s, $batches batches")
      (name, rate, batches)
    }

    val rows = Seq(
      drain("hourly_agg", df =>
        streaming.EventStreams.hourlyByType(df, watermark = "2 hours")),
      drain("dedup", df =>
        streaming.EventStreams.dedupStream(df, Seq("event_id"), watermark = "2 hours")),
      drain("sessionize_fmgws", df =>
        streaming.EventStreams.sessionize(spark, df)))

    // 4th pipeline, separate corpus + units: the state-store near-dup
    // screen over the DOCUMENTS table (MinHash + band-keyed fMGWS).
    // Hashing-dominated, so its docs/s floor (optional arg 4) is its
    // own — never compared against the events pipelines' gate.
    val docsDir = s"$sfDir/documents.parquet"
    val docsSchema = spark.read.parquet(docsDir).schema
    val nDocs = spark.read.parquet(docsDir).count()
    val minDocRate = if (args.length > 3) args(3).toDouble else 0.0
    val screenRow = {
      val src = spark.readStream.schema(docsSchema)
        .option("maxFilesPerTrigger", maxFiles).parquet(docsDir)
      val t0 = System.nanoTime()
      val q = streaming.CorpusStream.nearDupScreenStateful(src)
        .writeStream.format("noop")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sp-screen").toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val dt = (System.nanoTime() - t0) / 1e9
      val rate = nDocs / dt
      println(f"[stream] neardup_screen: $dt%.1f s, $rate%.0f docs/s, ${q.recentProgress.length} batches")
      (rate, q.recentProgress.length)
    }

    val pipelines = rows.map { case (n, r, b) =>
      f""""$n":{"events_per_sec":$r%.0f,"batches":$b}""" }.mkString(",")
    println(f"""{"probe":"stream_throughput","sf_dir":"$sfDir","n_events":$nEvents,"max_files_per_trigger":$maxFiles,"min_events_per_sec_gate":$minRate%.0f,$pipelines,"neardup_screen":{"n_docs":$nDocs,"docs_per_sec":${screenRow._1}%.0f,"batches":${screenRow._2},"min_docs_per_sec_gate":$minDocRate%.0f}}""")

    // each failure names ITS OWN floor and units — the screen gates in
    // docs/s against minDocRate, never against the events floor
    val slow = rows.filter(_._2 < minRate).map(s =>
        f"${s._1} ${s._2}%.0f ev/s < $minRate%.0f") ++
      (if (screenRow._1 < minDocRate)
        Seq(f"neardup_screen ${screenRow._1}%.0f docs/s < $minDocRate%.0f")
      else Nil)
    spark.stop()
    if (slow.nonEmpty) {
      System.err.println(s"[stream] GATE FAILED: ${slow.mkString(", ")}")
      sys.exit(1)
    }
  }
}
