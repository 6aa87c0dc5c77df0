package graft

import graft.pipelines.DuplicatesReport
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** Streaming dedup, stream-static join, duplicates-report pipeline. */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("dedupStream drops in-watermark duplicates, keeps distinct keys") {
    implicit val sqlCtx = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    src.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:00:30")),
      (2L, ts("2024-01-01 10:01:00")))
    val q = EventStreams.dedupStream(
        src.toDF().toDF("event_id", "ts"), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L))
  }

  test("streaming windowed HLL sketches roll up to the batch answer") {
    implicit val sqlCtx = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, String, Long)]
    // two hourly windows, duplicate user ids within and across windows
    src.addData(
      (ts("2024-01-01 10:05:00"), "click", 1L),
      (ts("2024-01-01 10:10:00"), "click", 1L),  // dup in-window
      (ts("2024-01-01 10:20:00"), "click", 2L),
      (ts("2024-01-01 11:05:00"), "click", 1L),  // same user, next window
      (ts("2024-01-01 11:30:00"), "view", 3L),
      (ts("2024-01-01 13:00:00"), "click", 9L))  // advances the watermark
    val q = graft.streaming.EventStreams.distinctSketchStream(
        src.toDF().toDF("ts", "event_type", "user_id"),
        "event_type", "user_id", windowLen = "1 hour", watermark = "1 hour")
      .writeStream.format("memory").queryName("sketch_stream_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("sketch_stream_out")
    // only watermark-closed windows emit in append mode
    assert(emitted.count() >= 3, s"expected the 10:00/11:00 windows closed")
    // the emitted rows ARE a sketch table: roll up across windows and
    // event types — distinct users over the closed 10:00/11:00 windows
    val rolled = graft.operators.Aggs.mergeSketches(
        emitted.drop("window_start", "event_type").withColumn("g", lit(1)),
        Seq("g"))
      .select("approx_distinct", "n_rows").collect().head
    assert(rolled.getLong(0) == 3L, s"distinct users ${rolled.getLong(0)}")
    assert(rolled.getLong(1) == 5L, "row count should cover the closed windows")
  }

  test("stream-static enrichment join attaches dimension per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    src.addData((1L, 0L, ts("2024-01-01 10:00:00")), (2L, 9999L, ts("2024-01-01 10:01:00")))
    val dim = Tables.customer(spark, sf).select(col("c_custkey"), col("c_mktsegment"))
    val q = EventStreams.enrichStream(
        src.toDF().toDF("event_id", "user_id", "ts"), dim, "user_id", "c_custkey")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enrich_out").orderBy("event_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(4) != null)  // custkey 0 exists → enriched
    assert(rows(1).isNullAt(4))           // 9999 not a customer → left-join null
  }

  test("streaming curation: quality gate + fingerprint dedup ≡ batch result") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, Seq.tabulate(30)(i => s"w$i").mkString(" ")),          // kept
      (2L, Seq.tabulate(30)(i => s"w$i").mkString(" ")),          // exact dup of 1 → dropped
      (3L, "too short"),                                          // token floor
      (4L, Seq.fill(30)("spam").mkString(" ")),                   // run gate
      (5L, Seq.tabulate(40)(i => s"v${i % 38}").mkString(" ")))   // kept
    val gate = graft.operators.TextQuality.scalarGate(col("text"))
    // batch reference: gate, then keep first doc per fingerprint
    val batch = graft.operators.Dedup.dedupKeepFirst(
      docs.toDF("doc_id", "text").filter(gate)
        .withColumn("fp", graft.functions.TextFunctions.fingerprint(col("text"))),
      Seq("fp"), Seq(col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    src.addData(docs: _*)
    val q = src.toDF().toDF("doc_id", "text")
      .filter(gate)   // the same stateless gate expression
      .withColumn("fp", graft.functions.TextFunctions.fingerprint(col("text")))
      .dropDuplicates("fp")   // streaming state: one fingerprint per key
      .writeStream.format("memory").queryName("curate_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("curate_stream").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(streamed.toSeq == batch.toSeq && batch.toSeq == Seq(1L, 5L),
      s"stream=$streamed batch=$batch")
  }

  test("streaming drops screen against the static banded corpus index per micro-batch") {
    // the production incremental-dedup loop: bandedSignatures written
    // once for the accumulated corpus, each arriving micro-batch treated
    // as a drop and screened via foreachBatch — the streaming face of
    // crossCorpusNearDupsBanded (its dropDuplicates/groupBy stages are
    // batch ops, so foreachBatch is the right integration, not a
    // stateful streaming join)
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextDedup
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different text with other words entirely present")
    ).toDF("doc_id", "text")
    val index = TextDedup.bandedSignatures(corpus, "text", "doc_id")
      .localCheckpoint() // stands in for the parquet-reloaded index
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        hits ++= TextDedup.crossCorpusNearDupsBanded(batch, index, "text", "doc_id")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        ()
      }
      .start()
    src.addData((100L, "the quick brown fox jumps over the lazy dog tonight"))
    q.processAllAvailable()
    src.addData((101L, "a genuinely fresh document with brand new content words"))
    q.processAllAvailable()
    q.stop()
    assert(hits.toSet == Set((100L, 1L)), s"got $hits")
  }

  test("nearDupScreenStateful: bucket anchors persist across micro-batches, fresh docs pass") {
    import graft.streaming.CorpusStream
    implicit val sqlCtx = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val hits = CorpusStream.nearDupScreenStateful(
      src.toDF().toDF("doc_id", "text"))
    val q = hits.writeStream.format("memory").queryName("neardup_state_out")
      .outputMode("append").start()
    // batch 1: two distinct docs install their bucket anchors
    src.addData(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated second document with different words entirely"))
    q.processAllAvailable()
    // batch 2: doc 3 duplicates doc 1 (state from batch 1 must flag it),
    // doc 4 is fresh
    src.addData(
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "a genuinely novel third text sharing nothing with the others"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("neardup_state_out")
      .select("doc_id", "dup_of").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 1L)), s"got $got")
  }

  test("nearDupScreenStateful: bucket anchors survive a query RESTART from the checkpoint") {
    // memory source/sink refuse checkpoint recovery, so this runs the
    // recoverable pair a production deployment uses: file source →
    // parquet sink, two separate queries over one checkpoint
    import graft.streaming.CorpusStream
    val base = java.nio.file.Files.createTempDirectory("screen-restart")
    val (docsDir, outDir, ckpt) =
      (s"$base/docs", s"$base/out", s"$base/ckpt")
    val dup = "the quick brown fox jumps over the lazy dog"
    def drop(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("doc_id", "text").repartition(1)
        .write.mode("append").parquet(docsDir)
    drop((1L, dup), (2L, "a completely different second document with other words"))
    val schema = spark.read.parquet(docsDir).schema
    def drain(): Unit = {
      val q = CorpusStream.nearDupScreenStateful(
          spark.readStream.schema(schema).parquet(docsDir))
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()   // run 1 installs the anchors and terminates
    drop((3L, dup))
    drain()   // run 2: NEW query, same checkpoint — state must reload
    val got = spark.read.parquet(outDir)
      .select("doc_id", "dup_of").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 1L)), s"got $got")
  }

  test("domainCapStateful: cap persists across micro-batches, arrival-ordered") {
    import graft.streaming.CorpusStream
    implicit val sqlCtx = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val verdicts = CorpusStream.domainCapStateful(
      src.toDF().toDF("doc_id", "url"), k = 2)
    val q = verdicts.writeStream.format("memory").queryName("domcap_out")
      .outputMode("append").start()
    // batch 1: two a.com docs fill the cap; one b.org doc
    src.addData((1L, "http://a.com/x"), (2L, "http://sub.a.com/y"),
      (3L, "http://b.org/z"))
    q.processAllAvailable()
    // batch 2: a.com is FULL (state); b.org has one slot left and the
    // WITHIN-batch rule is md5(id) order, not arrival order — md5("6")
    // sorts before md5("5"), so doc 6 takes the slot
    src.addData((4L, "http://a.com/late"), (5L, "http://b.org/md5-larger"),
      (6L, "http://www.b.org/md5-smaller"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("domcap_out")
      .select("doc_id", "accepted").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(got == Map(1L -> true, 2L -> true, 3L -> true,
      4L -> false, 5L -> false, 6L -> true), got.toString)
  }

  test("domainCapStateful: a single batch admits exactly the batch operator's survivors") {
    import graft.streaming.CorpusStream
    implicit val sqlCtx = spark.sqlContext
    val rows = (1L to 40L).map(i => (i, s"http://dom${i % 3}.com/p$i"))
    val batchKept = graft.operators.Domains
      .domainCap(rows.toDF("doc_id", "url"), "url", "doc_id", k = 4)
      .select("doc_id").as[Long].collect().toSet
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = CorpusStream.domainCapStateful(
        src.toDF().toDF("doc_id", "url"), k = 4)
      .writeStream.format("memory").queryName("domcap_eq_out")
      .outputMode("append").start()
    src.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamKept = spark.table("domcap_eq_out")
      .filter(col("accepted")).select("doc_id").as[Long].collect().toSet
    assert(streamKept == batchKept,
      s"stream-only=${streamKept -- batchKept} batch-only=${batchKept -- streamKept}")
  }

  test("domainCapStateful: domain counters survive a query RESTART from the checkpoint") {
    import graft.streaming.CorpusStream
    val base = java.nio.file.Files.createTempDirectory("domcap-restart")
    val (docsDir, outDir, ckpt) = (s"$base/docs", s"$base/out", s"$base/ckpt")
    def drop(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("doc_id", "url").repartition(1)
        .write.mode("append").parquet(docsDir)
    drop((1L, "http://a.com/1"), (2L, "http://a.com/2"))
    val schema = spark.read.parquet(docsDir).schema
    def drain(): Unit = {
      val q = CorpusStream.domainCapStateful(
          spark.readStream.schema(schema).parquet(docsDir), k = 2)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()               // run 1: a.com count reaches 2
    drop((3L, "http://a.com/3"))
    drain()               // run 2: NEW query, same checkpoint — full cap must hold
    val got = spark.read.parquet(outDir)
      .select("doc_id", "accepted").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(got == Map(1L -> true, 2L -> true, 3L -> false), got.toString)
  }

  test("stateful screen ≡ parquet-index ingest: identical accepted sets when every collision is a true dup") {
    // The two ingestion twins implement the same accept rule against
    // different index media. On a corpus where every bucket collision
    // is an exact copy (est_jaccard = 1.0 ≥ any threshold, identical
    // signatures → no ghost anchors), their accepted-doc sets must be
    // IDENTICAL across the same drop sequence — including a
    // within-batch dup, where ingest's keep-first(doc_b) and the
    // stateful min-id anchor must pick the same survivor.
    import graft.streaming.CorpusStream
    val base = java.nio.file.Files.createTempDirectory("twin-eq")
    val (docsDir, stateDir, outDir, ckpt) =
      (s"$base/docs", s"$base/state", s"$base/out", s"$base/ckpt")
    val dupA = "the quick brown fox jumps over the lazy dog by the river bank"
    val dupB = "completely separate legal boilerplate concerning contracts and parties"
    def drop(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("doc_id", "text").repartition(1)
        .write.mode("append").parquet(docsDir)
    drop((1L, dupA), (2L, dupB))
    val schema = spark.read.parquet(docsDir).schema
    def drainBoth(): Unit = {
      CorpusStream.ingest(spark, docsDir, schema, stateDir,
        threshold = 0.8, maxFilesPerTrigger = 1).awaitTermination()
      val q = CorpusStream.nearDupScreenStateful(
          spark.readStream.schema(schema).parquet(docsDir))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainBoth()
    // drop 2: cross-drop dup of 1, a fresh doc, and a within-batch dup
    // pair (5 copies 4 inside the same drop)
    drop((3L, dupA),
      (4L, "a genuinely novel third text sharing nothing with the others"),
      (5L, "a genuinely novel third text sharing nothing with the others"))
    drainBoth()
    drop((6L, dupB), (7L, "yet another entirely fresh document about gardens"))
    drainBoth()
    val all = spark.read.parquet(docsDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val ingestAccepted = spark.read.parquet(s"$stateDir/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val flagged = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val statefulAccepted = all -- flagged
    assert(ingestAccepted == Set(1L, 2L, 4L, 7L), ingestAccepted.toString)
    assert(statefulAccepted == ingestAccepted,
      s"twins diverged: stateful=$statefulAccepted ingest=$ingestAccepted")
  }

  test("stateful screen ⊆ ingest: the no-verify delta, stated precisely") {
    // Where the twins differ BY DESIGN: the stateful screen is pure
    // LSH-accept (any band collision flags, no est-Jaccard verify), so
    // a pair similar enough to collide in some band but below the
    // ingest threshold is flagged by the stateful screen and accepted
    // by ingest — accepted_stateful ⊆ accepted_ingest, never the
    // reverse. (The other delta source, ghost anchors — a rejected doc
    // still anchoring buckets the accepted survivor does not occupy —
    // shrinks the stateful set the same direction.)
    import graft.streaming.CorpusStream
    val base = java.nio.file.Files.createTempDirectory("twin-delta")
    val (docsDir, stateDir, outDir, ckpt) =
      (s"$base/docs", s"$base/state", s"$base/out", s"$base/ckpt")
    // one word changed out of twelve: shingle Jaccard ≈ 0.8 — collides
    // in ≥1 of 8 bands with overwhelming probability (deterministic
    // here: fixed hash seeds) yet sits far below threshold = 0.95
    val a = "the quick brown fox jumps over the lazy dog by the river"
    val b = "the quick brown fox leaps over the lazy dog by the river"
    def drop(rows: (Long, String)*): Unit =
      rows.toSeq.toDF("doc_id", "text").repartition(1)
        .write.mode("append").parquet(docsDir)
    drop((1L, a))
    val schema = spark.read.parquet(docsDir).schema
    def drainBoth(): Unit = {
      CorpusStream.ingest(spark, docsDir, schema, stateDir,
        threshold = 0.95, maxFilesPerTrigger = 1).awaitTermination()
      val q = CorpusStream.nearDupScreenStateful(
          spark.readStream.schema(schema).parquet(docsDir))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainBoth()
    drop((2L, b))
    drainBoth()
    val ingestAccepted = spark.read.parquet(s"$stateDir/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val flagged =
      if (new java.io.File(outDir).exists)
        spark.read.parquet(outDir).select("doc_id")
          .collect().map(_.getLong(0)).toSet
      else Set.empty[Long]
    val statefulAccepted = Set(1L, 2L) -- flagged
    // ingest verifies est_jaccard ≈ 0.8 < 0.95 → keeps both
    assert(ingestAccepted == Set(1L, 2L), ingestAccepted.toString)
    // the stateful screen flags the band collision → drops doc 2
    assert(statefulAccepted == Set(1L), s"stateful=$statefulAccepted")
    assert(statefulAccepted.subsetOf(ingestAccepted))
  }

  test("nearDupScreenStateful: runs on the RocksDB state store provider (the corpus-scale config)") {
    import graft.streaming.CorpusStream
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val hits = CorpusStream.nearDupScreenStateful(
        src.toDF().toDF("doc_id", "text"))
      val q = hits.writeStream.format("memory").queryName("neardup_rocks_out")
        .outputMode("append").start()
      src.addData((1L, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      src.addData((3L, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("neardup_rocks_out")
        .select("doc_id", "dup_of").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((3L, 1L)), s"got $got")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("nearDupScreenStateful on RocksDB: a kill after the first committed batch restarts to the uninterrupted hit set") {
    import graft.streaming.CorpusStream
    import org.apache.spark.sql.streaming.Trigger
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    val base = java.nio.file.Files.createTempDirectory("screen-kill").toString
    // sf0.01's documents as 12 files with distinct, fixed mtimes, so
    // maxFilesPerTrigger = 1 gives 12 batches in the same order per run
    val docs = spark.read.parquet(s"${sfDir("sf0.01")}/documents.parquet")
      .select("doc_id", "text")
    val nDocs = docs.count()
    val nFiles = 12
    (0 until nFiles).foreach { i =>
      docs.filter(pmod(col("doc_id"), lit(nFiles)) === i).coalesce(1)
        .write.parquet(s"$base/docs/p$i")
      new java.io.File(s"$base/docs/p$i").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(1700000000000L + i * 1000L))
    }
    val schema = spark.read.parquet(s"$base/docs/p0").schema
    def start(run: String) =
      CorpusStream.nearDupScreenStateful(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/docs/*/"))
        .writeStream.format("parquet").option("path", s"$base/out-$run")
        .option("checkpointLocation", s"$base/ckpt-$run")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    def hits(run: String) = spark.read.parquet(s"$base/out-$run")
      .as[CorpusStream.ScreenHit].collect().toSeq
      .sortBy(h => (h.doc_id, h.dup_of, h.band))
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // kill as soon as a batch with input rows has committed
      val killed = start("killed")
      while (killed.isActive &&
          killed.recentProgress.map(_.numInputRows).sum < 1) Thread.sleep(10)
      killed.stop()
      killed.awaitTermination()
      val atKill = killed.recentProgress.map(_.numInputRows).sum
      assert(atKill > 0, "kill landed before any batch committed")
      assert(atKill < nDocs, s"kill missed: all $nDocs rows committed before stop")
      start("killed").awaitTermination()   // restart from the checkpoint
      start("clean").awaitTermination()    // uninterrupted reference
      val ref = hits("clean")
      assert(ref.nonEmpty, "sf0.01 documents produced no hits: parity is vacuous")
      assert(hits("killed") == ref)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("nearDupScreenStateful: batch-frame parity (state starts empty, min id anchors)") {
    import graft.streaming.CorpusStream
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated second document with different words entirely"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "a genuinely novel third text sharing nothing with the others"))
      .toDF("doc_id", "text")
    val got = CorpusStream.nearDupScreenStateful(docs)
      .toDF().select("doc_id", "dup_of").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 1L)), s"got $got")
  }

  test("nearDupScreenBounded: archived buckets hit without state; empty snapshot ≡ stateful") {
    import graft.streaming.CorpusStream
    implicit val sqlCtx = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val events = CorpusStream.nearDupScreenBounded(
      src.toDF().toDF("doc_id", "text"),
      CorpusStream.emptyScreenSnapshot(spark))
    val q = events.writeStream.format("memory").queryName("bounded_empty_out")
      .outputMode("append").start()
    src.addData(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated second document with different words entirely"))
    q.processAllAvailable()
    src.addData(
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "a genuinely novel third text sharing nothing with the others"))
    q.processAllAvailable()
    q.stop()
    val sink = spark.table("bounded_empty_out")
    // hit set ≡ the unbounded twin's on the same batching
    val hits = sink.filter(col("kind") === "hit")
      .select("doc_id", "dup_of").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((3L, 1L)), s"got $hits")
    // anchor events: installers only (docs 1, 2, 4 — never the dup 3)
    val anchors = sink.filter(col("kind") === "anchor")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(anchors == Set(1L, 2L, 4L), s"got $anchors")
    // every anchor event is self-referential
    assert(sink.filter(col("kind") === "anchor" &&
      col("doc_id") =!= col("dup_of")).count() == 0)
  }

  test("nearDupScreenBounded: drain cycles — state plateaus, hit parity with the unbounded twin") {
    // Three landing dirs, three cycles. Bounded run: fresh checkpoint
    // per cycle, snapshot grown between cycles from each cycle's OWN
    // sink (screenSnapshot). Unbounded run: one checkpoint over a
    // growing dir, drained after each chunk lands — identical batching,
    // so the hit sets must be IDENTICAL while the bounded run's state
    // is capped at one cycle's new buckets (cycle 3 installs ZERO).
    import graft.streaming.CorpusStream
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("bounded-drain")
    val dupA = "the quick brown fox jumps over the lazy dog by the river bank"
    val dupB = "completely separate legal boilerplate concerning contracts and parties"
    val freshC = "a genuinely novel third text sharing nothing with the others"
    val chunks = Seq(
      Seq((1L, dupA), (2L, dupB)),
      Seq((3L, dupA), (4L, freshC)),
      Seq((5L, freshC), (6L, dupA)))
    chunks.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").repartition(1)
        .write.mode("append").parquet(s"$base/chunk$i")
      rows.toDF("doc_id", "text").repartition(1)
        .write.mode("append").parquet(s"$base/all")
    }
    val schema = spark.read.parquet(s"$base/chunk0").schema

    // ---- bounded: one cycle per chunk, snapshot grown between ----
    var snapshot = CorpusStream.emptyScreenSnapshot(spark)
    val stateRowsPerCycle = (0 until 3).map { i =>
      val q = CorpusStream.nearDupScreenBounded(
          spark.readStream.schema(schema).parquet(s"$base/chunk$i"), snapshot)
        .writeStream.format("parquet").option("path", s"$base/sink$i")
        .option("checkpointLocation", s"$base/ckpt$i")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val cycleSink = spark.read.parquet(s"$base/sink$i")
      snapshot = snapshot.unionByName(CorpusStream.screenSnapshot(cycleSink))
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    }
    // cycle 1 installs both docs' buckets; cycle 2 only doc 4's (doc 3
    // hits archived buckets); cycle 3 installs NOTHING — the plateau
    assert(stateRowsPerCycle(1) < stateRowsPerCycle(0) ||
      stateRowsPerCycle(1) > 0, stateRowsPerCycle.toString)
    assert(stateRowsPerCycle(2) == 0,
      s"cycle 3 should re-anchor nothing: $stateRowsPerCycle")
    val boundedHits = (0 until 3).map(i => spark.read.parquet(s"$base/sink$i"))
      .reduce(_ unionByName _).filter(col("kind") === "hit")
      .select("doc_id", "dup_of").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // ---- unbounded twin: one checkpoint, growing dir, per-chunk drains
    // (the source sees exactly one chunk of new files per drain) ----
    // rebuild the growing dir chunk-by-chunk so drains align
    val allDir = s"$base/grow"
    var unboundedLast: org.apache.spark.sql.streaming.StreamingQueryProgress = null
    chunks.foreach { rows =>
      rows.toDF("doc_id", "text").repartition(1)
        .write.mode("append").parquet(allDir)
      val q = CorpusStream.nearDupScreenStateful(
          spark.readStream.schema(schema).parquet(allDir))
        .writeStream.format("parquet").option("path", s"$base/sinkU")
        .option("checkpointLocation", s"$base/ckptU")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      unboundedLast = q.lastProgress
    }
    val unboundedHits = spark.read.parquet(s"$base/sinkU")
      .select("doc_id", "dup_of").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(boundedHits == unboundedHits,
      s"bounded=$boundedHits unbounded=$unboundedHits")
    // and the unbounded twin's state kept EVERYTHING (the growth the
    // bounded form exists to shed): all buckets ever anchored
    val unboundedState = unboundedLast.stateOperators.map(_.numRowsTotal).sum
    assert(unboundedState > stateRowsPerCycle.max,
      s"unbounded=$unboundedState bounded=$stateRowsPerCycle")
  }

  test("duplicates report: all copies + group sizes on composite key") {
    val df = Seq((1, "a"), (1, "a"), (1, "a"), (2, "b")).toDF("k", "s")
    val rep = DuplicatesReport.report(df, Seq("k", "s"))
    val rows = rep.collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getLong(3) == 3L))
    assert(DuplicatesReport.lineitemReport(spark, sf).columns.contains("duplicate_count"))
  }

  test("blocklist verdict is stateless and streams: one batch ≡ the batch screen") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Domains
    val entries = Seq("bad.com", "ads.bad.org")
    val rows = Seq((1L, "www.bad.com"), (2L, "good.org"),
      (3L, "x.ads.bad.org"), (4L, "notbad.com"))
    val batch = Domains.blocklistScreen(rows.toDF("id", "host"), "id",
        "host", entries.toDF("entry"), "entry")
      .select("id", "blocked_by")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    src.addData(rows: _*)
    // a pure Column — no state store, no watermark, append mode
    val q = src.toDF().toDF("id", "host")
      .withColumn("blocked_by",
        Domains.blocklistVerdict(col("host"), entries))
      .writeStream.format("memory").queryName("blocklist_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("blocklist_stream")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(streamed == batch,
      s"stream=$streamed batch=$batch")
    assert(batch == Map(1L -> "bad.com", 2L -> "", 3L -> "ads.bad.org",
      4L -> ""))
  }
}
