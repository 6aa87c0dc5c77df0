package graft

import graft.sources.Sinks
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Sharded training-data writes: partition layout + pruned read-back. */
class ShardsSpec extends SparkSpec {

  test("writeShards: hive partitions by lang, range shards by doc_id, pruned read") {
    val dir = Files.createTempDirectory("shards").toString
    val docs = Tables.documents(spark, sf)
    Sinks.writeShards(docs, s"$dir/out", Seq("lang"), "doc_id", shards = 2)

    val langDirs = new java.io.File(s"$dir/out").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(langDirs.forall(_.startsWith("lang=")), s"unexpected layout: ${langDirs.toSeq}")

    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == docs.count())
    val en = back.filter(col("lang") === "en")
    en.collect()
    val plan = en.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("= en)"),
      "read-back not partition-pruned")
  }

  test("writeShards json: gzip JSONL interchange layout round-trips") {
    val dir = Files.createTempDirectory("shards_json").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    Sinks.writeShards(docs, s"$dir/out", Seq("lang"), "doc_id", shards = 2,
      format = "json")
    val files = new java.io.File(s"$dir/out").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).map(_.getName)
    assert(files.exists(_.endsWith(".json.gz")), s"no gzip JSONL files: ${files.toSeq}")
    val back = spark.read.json(s"$dir/out")
    assert(back.count() == docs.count())
    assert(back.columns.sorted.toSeq == Seq("doc_id", "lang", "text"))
    intercept[IllegalArgumentException] {
      Sinks.writeShards(docs, s"$dir/bad", Seq("lang"), "doc_id", 2, format = "orc2")
    }
  }

  test("zOrderKey: matches reference bit-interleave; writeZOrdered preserves rows and clusters both dims") {
    import spark.implicits._
    // reference Morton interleave on the known bucket values: with
    // values already 0..maxB the normalization is identity, so the key
    // must equal the hand-computed interleave
    val bits = 4
    val maxB = (1 << bits) - 1
    val rows = for (a <- 0 to maxB; b <- 0 to maxB) yield (a.toLong, b.toLong)
    val df = rows.toDF("a", "b")
    val got = df.withColumn("z", Sinks.zOrderKey(df, Seq("a", "b"), bits))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    def ref(a: Long, b: Long): Long =
      (0 until bits).foldLeft(0L) { (z, i) =>
        z | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }
    rows.foreach { case (a, b) =>
      // normalization maps v -> v * maxB / maxB = v exactly at the ends
      // and within one bucket elsewhere; on integer 0..maxB inputs the
      // double math is exact
      assert(got((a, b)) == ref(a, b), s"key mismatch at ($a,$b)")
    }

    // null handling + row preservation through the layout write
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    val li = Tables.lineitem(spark, sf).limit(20000)
    Sinks.writeZOrdered(li, s"$dir/z", Seq("l_shipdate", "l_partkey"), numFiles = 16)
    val back = spark.read.parquet(s"$dir/z")
    assert(back.count() == li.count())
    assert(back.columns.sorted.toSeq == li.columns.sorted.toSeq, "schema changed")
    // same rows, not just as many: any query answers alike on both layouts
    val liSameOrder = li.select(back.columns.map(col): _*)
    assert(back.exceptAll(liSameOrder).isEmpty && liSameOrder.exceptAll(back).isEmpty,
      "the z-ordered layout changed row values")
    // clustering: within each output file, the partkey span should be
    // far tighter than the global span for most files (the z-curve
    // gives each file a hyper-rectangle, not a full-range stripe)
    val spans = back.groupBy(input_file_name().as("f"))
      .agg((max("l_partkey") - min("l_partkey")).as("span"))
      .select("span").collect().map(_.getLong(0))
    val global = li.agg(max("l_partkey") - min("l_partkey")).head().getLong(0)
    // 16 z-range files over 2 dims → the tightest files quarter at
    // least one dimension; ties in the coarse buckets may widen a few
    assert(spans.min <= global / 4 + 1,
      s"no file shows partkey clustering (spans=${spans.toSeq}, global=$global)")
  }

  test("zOrderKey degenerate inputs: empty frame, all-null column, constant column, date, bad type") {
    import spark.implicits._
    // empty frame: min/max agg returns nulls — key must build and the
    // write must succeed, not NPE
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(empty.withColumn("z", Sinks.zOrderKey(empty, Seq("a", "b"))).count() == 0)
    val dir = Files.createTempDirectory("zdegen").toString
    Sinks.writeZOrdered(empty, s"$dir/empty", Seq("a", "b"))
    assert(spark.read.parquet(s"$dir/empty").count() == 0)

    // all-null column: every row falls in bucket 0 on that dim; the
    // other dim still orders
    val nulls = Seq((1L, Option.empty[Long]), (2L, None), (3L, None))
      .toDF("a", "b")
    val zs = nulls.withColumn("z", Sinks.zOrderKey(nulls, Seq("a", "b")))
      .orderBy("a").collect().map(_.getLong(2))
    assert(zs.length == 3 && zs.head <= zs.last, s"null-dim keys unordered: ${zs.toSeq}")

    // constant column: span degenerates to 1.0 — all rows bucket 0 on
    // that dim, no divide-by-zero
    val const = Seq((1L, 7L), (2L, 7L), (3L, 7L)).toDF("a", "b")
    assert(const.withColumn("z", Sinks.zOrderKey(const, Seq("a", "b"))).count() == 3)

    // DateType buckets via unix_date, not an opaque cast failure
    val dated = Seq((1L, java.sql.Date.valueOf("2024-01-01")),
      (2L, java.sql.Date.valueOf("2024-06-01"))).toDF("a", "d")
    val dk = dated.withColumn("z", Sinks.zOrderKey(dated, Seq("a", "d")))
      .orderBy("a").collect().map(_.getLong(2))
    assert(dk(0) < dk(1), "date dimension did not order")

    // unsupported type: clear rejection at build time
    val bad = Seq((1L, "x")).toDF("a", "s")
    val e = intercept[IllegalArgumentException] {
      Sinks.zOrderKey(bad, Seq("a", "s"))
    }
    assert(e.getMessage.contains("unsupported type"))
  }

  test("compact: small-file merge hits target count; sorted regime restores skipping layout") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compact").toString
    // fragmented ingest: 64 single-row-group files
    (0 until 6400).map(i => (i.toLong, s"payload_$i" * 8))
      .toDF("k", "v").repartition(64).write.parquet(s"$dir/frag")
    val nFrag = new java.io.File(s"$dir/frag").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFrag == 64)
    val frag = spark.read.parquet(s"$dir/frag")
    val totalBytes = new java.io.File(s"$dir/frag").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum

    // narrow regime: zero-shuffle coalesce to ~4 target-sized files
    val target = totalBytes / 4
    val n1 = Sinks.compact(frag, s"$dir/frag", s"$dir/merged", target)
    val merged = spark.read.parquet(s"$dir/merged")
    val nMerged = new java.io.File(s"$dir/merged").listFiles()
      .count(_.getName.endsWith(".parquet"))
    // the returned plan count is an upper bound on files written (an
    // empty output partition writes no file); what matters is the
    // fragmentation actually collapsed to ~4 target-sized files
    assert(nMerged <= n1 && nMerged >= 3 && nMerged <= 6,
      s"planned $n1, wrote $nMerged files")
    assert(merged.count() == 6400 &&
      merged.agg(sum("k")).head.getLong(0) == frag.agg(sum("k")).head.getLong(0))

    // sorted regime: compaction + range layout in one shuffle — each
    // output file owns a disjoint key slice (footer-stat skipping back)
    val n2 = Sinks.compact(frag, s"$dir/frag", s"$dir/sorted", target, Some("k"))
    val spans = spark.read.parquet(s"$dir/sorted")
      .groupBy(input_file_name().as("f"))
      .agg(min("k").as("lo"), max("k").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(spans.length <= n2 && spans.length >= 3)
    spans.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"sorted-compact file ranges overlap: $hi >= $lo2")
      case _ => ()
    }

    // in-place request is rejected, not silently destructive
    intercept[IllegalArgumentException] {
      Sinks.compact(frag, s"$dir/frag", s"$dir/frag", target)
    }
  }

  test("compactVersioned under a concurrent reader: every read is a complete layout, old or new") {
    import spark.implicits._
    val root = Files.createTempDirectory("versioned").toString + "/tbl"
    // v0: fragmented ingest, 1000 rows across 40 tiny files
    val v0 = Sinks.Versioned.write(
      (0L until 1000L).toDF("k").repartition(40), root)
    assert(v0 == 0 && Sinks.Versioned.read(spark, root).count() == 1000)

    // hammer reads from another thread while versions land and compaction
    // rewrites: every observed state must be one of the COMPLETE layouts
    // (1000 or 2000 rows with the exact sum) — never partial, never an
    // exception from a half-written or half-deleted dir
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
      // publish v1 with MORE data (so "old vs new" is observable), then
      // compact twice — three manifest swaps racing the reader
      Sinks.Versioned.write((0L until 2000L).toDF("k").repartition(40), root)
      Sinks.Versioned.compact(spark, root, targetBytes = 1L << 20)
      Sinks.Versioned.compact(spark, root, targetBytes = 1L << 20)
    } finally {
      done.set(true)
      reader.join(60000)
    }
    assert(failure.get() == null, s"concurrent reader failed: ${failure.get()}")
    val okStates = Set((1000L, (0L until 1000L).sum), (2000L, (0L until 2000L).sum))
    assert(seen.size() > 0 && seen.asScala.forall(okStates),
      s"reader observed a partial layout: ${seen.asScala.toSeq.sorted}")

    // compaction actually compacted: the live dir is few files, content exact
    val (seq, liveDir) = Sinks.Versioned.current(spark, root).get
    assert(seq == 3)
    val liveFiles = new java.io.File(liveDir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(liveFiles < 40, s"live version still fragmented: $liveFiles files")
    assert(spark.read.parquet(liveDir).count() == 2000)

    // old versions retained for in-flight readers until an explicit
    // vacuum; keep=2 removes v0/v1, live + one grace version survive
    assert(new java.io.File(s"$root/v00000").exists())
    val removed = Sinks.Versioned.vacuum(spark, root, keep = 2)
    assert(removed == 2)
    assert(!new java.io.File(s"$root/v00000").exists() &&
      !new java.io.File(s"$root/v00001").exists() &&
      new java.io.File(s"$root/v00002").exists() &&
      new java.io.File(s"$root/v00003").exists())
    assert(Sinks.Versioned.read(spark, root).count() == 2000)
  }

  test("versioned root self-heals from a crash mid-write or mid-publish") {
    import spark.implicits._
    val root = Files.createTempDirectory("versioned-heal").toString + "/tbl"
    assert(Sinks.Versioned.write((0L until 100L).toDF("k"), root) == 0)

    // crash simulation 1: v00001 was written but its manifest never
    // landed — an unreferenced orphan. The retry must replace it, not
    // wedge forever on ErrorIfExists.
    (0L until 7L).toDF("k").write.parquet(s"$root/v00001")
    assert(Sinks.Versioned.current(spark, root).get._1 == 0) // orphan unreferenced
    assert(Sinks.Versioned.write((0L until 200L).toDF("k"), root) == 1)
    assert(Sinks.Versioned.read(spark, root).count() == 200)

    // crash simulation 2: a stale tmp manifest for the next seq — the
    // create(overwrite = false) inside publish must not trip on it
    val stale = new java.io.File(s"$root/.tmp-manifest-00002")
    assert(stale.createNewFile())
    assert(Sinks.Versioned.compact(spark, root, targetBytes = 1L << 20) == 2)
    assert(Sinks.Versioned.read(spark, root).count() == 200)
    assert(Sinks.Versioned.current(spark, root).get._1 == 2)
  }
}
