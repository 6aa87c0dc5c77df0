package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Sinks

/** Delta-proportional versioned publish (r17 verdict item 1):
  * [[Sinks.Versioned.writeDelta]] / [[Sinks.Versioned.snapshotDelta]]
  * publish a new version by WRITING only the delta's files and
  * REFERENCING the previous version's — so publish cost rides the
  * delta, not the corpus — while preserving every manifest-swap
  * guarantee the dir-style versions had (time travel, vacuum grace,
  * concurrent-reader completeness, crash self-heal).
  */
class VersionedDeltaSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private def partFiles(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Seq.empty
    else d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
  }

  test("writeDelta publishes prev ∪ delta without rewriting prev's files") {
    val root = Files.createTempDirectory("vdelta").toString + "/tbl"
    assert(Sinks.Versioned.write((0L until 1000L).toDF("k"), root) == 0)
    val v0Files = partFiles(s"$root/v00000").map(f => (f.getName, f.lastModified()))

    val v1 = Sinks.Versioned.writeDelta((1000L until 1100L).toDF("k"), root)
    assert(v1 == 1)
    // the new version reads as the union
    val live = Sinks.Versioned.read(spark, root)
    assert(live.count() == 1100 &&
      live.agg(sum("k")).head().getLong(0) == (0L until 1100L).sum)
    // time travel to v0 still reads the original
    assert(Sinks.Versioned.readAt(spark, root, 0).count() == 1000)
    // v0's files were referenced, not rewritten (names + mtimes stable)
    assert(partFiles(s"$root/v00000").map(f => (f.getName, f.lastModified()))
      .sorted == v0Files.sorted)
    // and the publish wrote ONLY the delta: v00001 holds ~100 rows
    assert(spark.read.parquet(s"$root/v00001").count() == 100)

    // chain another delta — versions accumulate by reference
    assert(Sinks.Versioned.writeDelta((1100L until 1105L).toDF("k"), root) == 2)
    assert(Sinks.Versioned.read(spark, root).count() == 1105)
    assert(Sinks.Versioned.readAt(spark, root, 1).count() == 1100)
  }

  test("vacuum is reachability-based: shared dirs survive until compaction ages them out") {
    val root = Files.createTempDirectory("vdelta-vac").toString + "/tbl"
    Sinks.Versioned.write((0L until 500L).toDF("k"), root)
    Sinks.Versioned.writeDelta((500L until 600L).toDF("k"), root)
    Sinks.Versioned.writeDelta((600L until 650L).toDF("k"), root)

    // keep=1 drops manifests 0 and 1 — but v00000/v00001 dirs are still
    // referenced by the kept delta manifest and MUST survive
    assert(Sinks.Versioned.vacuum(spark, root, keep = 1) == 2)
    assert(Sinks.Versioned.versions(spark, root) == Seq(2))
    assert(new java.io.File(s"$root/v00000").exists() &&
      new java.io.File(s"$root/v00001").exists())
    assert(Sinks.Versioned.read(spark, root).count() == 650)
    intercept[java.io.FileNotFoundException] {
      Sinks.Versioned.readAt(spark, root, 0)
    }

    // compact folds the chain into one dir; once the delta manifests age
    // past the grace window the old dirs become unreachable and go
    val v3 = Sinks.Versioned.compact(spark, root, targetBytes = 1L << 20)
    assert(v3 == 3)
    assert(Sinks.Versioned.vacuum(spark, root, keep = 1) == 1)
    assert(!new java.io.File(s"$root/v00000").exists() &&
      !new java.io.File(s"$root/v00001").exists() &&
      !new java.io.File(s"$root/v00002").exists())
    assert(Sinks.Versioned.read(spark, root).count() == 650)
    // dir-style compact output keeps the current() accessor defined
    assert(Sinks.Versioned.current(spark, root).get._1 == 3)
  }

  test("snapshotDelta absorbs only new source files; cost rides the drop, not the corpus") {
    val base = Files.createTempDirectory("vdelta-snap").toString
    val src = s"$base/accepted"
    val root = s"$base/versioned"
    (0L until 1000L).toDF("k").withColumn("ingest_batch", lit(0L))
      .write.partitionBy("ingest_batch").parquet(src)

    val v0 = Sinks.Versioned.snapshotDelta(spark, src, root)
    assert(v0 == 0 && Sinks.Versioned.read(spark, root).count() == 1000)
    // partition column survives (materialized, like snapshot's compaction)
    assert(Sinks.Versioned.read(spark, root).columns.contains("ingest_batch"))

    // a second drop lands as new files only
    (1000L until 1200L).toDF("k").withColumn("ingest_batch", lit(1L))
      .write.mode("append").partitionBy("ingest_batch").parquet(src)
    val v1 = Sinks.Versioned.snapshotDelta(spark, src, root)
    assert(v1 == 1)
    val live = Sinks.Versioned.read(spark, root)
    assert(live.count() == 1200 &&
      live.agg(sum("k")).head().getLong(0) == (0L until 1200L).sum)
    // delta-proportional: v00001 holds only the 200-row drop
    assert(spark.read.parquet(s"$root/v00001").count() == 200)
    // no drop at all → O(1) republish referencing the previous version
    val v2 = Sinks.Versioned.snapshotDelta(spark, src, root)
    assert(v2 == 2 && !new java.io.File(s"$root/v00002").exists())
    assert(Sinks.Versioned.read(spark, root).count() == 1200)
    // time travel across the delta chain
    assert(Sinks.Versioned.readAt(spark, root, 0).count() == 1000)
  }

  test("snapshotDelta after a legacy snapshot re-baselines with one full pass") {
    val base = Files.createTempDirectory("vdelta-legacy").toString
    val src = s"$base/accepted"
    val root = s"$base/versioned"
    (0L until 300L).toDF("k").repartition(2).write.parquet(src)
    // legacy full snapshot: dir manifest, no absorbed-source bookkeeping
    assert(Sinks.Versioned.snapshot(spark, src, root) == 0)

    (300L until 350L).toDF("k").repartition(1)
      .write.mode("append").parquet(src)
    // snapshotDelta can't know what v0 absorbed — one full re-baseline,
    // NOT a duplicate-absorbing delta
    val v1 = Sinks.Versioned.snapshotDelta(spark, src, root)
    assert(v1 == 1 && Sinks.Versioned.read(spark, root).count() == 350)
    // and from here on deltas are delta-sized
    (350L until 360L).toDF("k").repartition(1)
      .write.mode("append").parquet(src)
    assert(Sinks.Versioned.snapshotDelta(spark, src, root) == 2)
    assert(Sinks.Versioned.read(spark, root).count() == 360)
    assert(spark.read.parquet(s"$root/v00002").count() == 10)
  }

  test("snapshotDelta refuses loudly when an absorbed source file vanished") {
    val base = Files.createTempDirectory("vdelta-refuse").toString
    val src = s"$base/accepted"
    val root = s"$base/versioned"
    (0L until 100L).toDF("k").repartition(2).write.parquet(src)
    assert(Sinks.Versioned.snapshotDelta(spark, src, root) == 0)
    val victim = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete())
    val e = intercept[IllegalArgumentException] {
      Sinks.Versioned.snapshotDelta(spark, src, root)
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("writeDelta under a concurrent reader: every read is a complete version") {
    val root = Files.createTempDirectory("vdelta-race").toString + "/tbl"
    Sinks.Versioned.write((0L until 1000L).toDF("k").repartition(8), root)
    val seen = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[(Long, Long), java.lang.Boolean]())
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!done.get()) {
          val agg = Sinks.Versioned.read(spark, root)
            .agg(count(lit(1)), sum("k")).head()
          seen.add((agg.getLong(0), agg.getLong(1))): Unit
        }
      } catch { case t: Throwable => failure.set(t) }
    })
    reader.start()
    try {
      Sinks.Versioned.writeDelta((1000L until 1500L).toDF("k").repartition(8), root)
      Sinks.Versioned.writeDelta((1500L until 2000L).toDF("k").repartition(8), root)
      Sinks.Versioned.compact(spark, root, targetBytes = 1L << 20)
    } finally {
      done.set(true)
      reader.join(60000)
    }
    assert(failure.get() == null, s"concurrent reader failed: ${failure.get()}")
    val ok = Set(
      (1000L, (0L until 1000L).sum),
      (1500L, (0L until 1500L).sum),
      (2000L, (0L until 2000L).sum))
    assert(seen.size() > 0 && seen.asScala.forall(ok),
      s"reader observed a partial layout: ${seen.asScala.toSeq.sorted}")
  }
  test("readAt takes its schema from the footer: equal to inference, nullability included, no job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = Files.createTempDirectory("vschema").toString + "/tbl"
    // non-nullable columns, nested nullability, and the types whose
    // inference the session confs steer (timestamps, decimals)
    val frame = spark.range(0, 50, 1, 3).select(
      col("id"),
      (col("id") * 2).cast("int").as("i"),
      lit("c").as("s_const"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id").cast("string")).as("s"),
      array(col("id"), col("id") + 1).as("arr"),
      struct(col("id").as("a"), lit(1.5).as("b")).as("st"),
      map(lit("k"), col("id")).as("m"),
      timestamp_seconds(col("id") * 1000).as("ts"),
      date_from_unix_date(col("id").cast("int")).as("d"),
      col("id").cast("decimal(12,3)").as("dec"))
    assert(!frame.schema("id").nullable && !frame.schema("s_const").nullable)
    assert(Sinks.Versioned.write(frame, root) == 0)
    assert(Sinks.Versioned.writeDelta(frame.limit(7), root) == 1)
    assert(Sinks.Versioned.compact(spark, root) == 2)
    for (seq <- 0 to 2) {
      val got = Sinks.Versioned.readAt(spark, root, seq)
      val inferred = spark.read.parquet(got.inputFiles.toSeq: _*)
      assert(got.schema == inferred.schema, s"v$seq: ${got.schema} vs ${inferred.schema}")
      assert(got.orderBy("id").collect().toSeq == inferred.orderBy("id").collect().toSeq,
        s"v$seq rows")
    }
    // the versioned read itself launches no Spark job: jobs are counted
    // by group, and a marker job after the reads flushes the async bus
    val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val readJobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == "vschema-read") readJobs.incrementAndGet(): Unit
        if (g != null) groups.add(g): Unit
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("vschema-read", "versioned reads")
      (0 to 2).foreach(seq => Sinks.Versioned.readAt(spark, root, seq))
      Sinks.Versioned.read(spark, root)
      sc.setJobGroup("vschema-marker", "listener flush")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("vschema-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("vschema-marker"), "listener never saw the marker job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(readJobs.get == 0, s"${readJobs.get} jobs started by versioned reads")
  }
}
