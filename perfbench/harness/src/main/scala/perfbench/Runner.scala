package perfbench

import graft.{Engine, SparkEntry, Tables}
import graft.pipelines.{IncrementalCuration, Reconciliation}
import graft.sources.Sinks
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class Conf(workload: String, kind: String, data: String, ops: Seq[String],
                      tables: Seq[String], seconds: Double, warmup: Int, minWarm: Int,
                      trace: Boolean, cpus: Int,
                      work: String, out: String, spans: String, dump: String)

/** One operation of the closed loop: `build` constructs the input (for a
  * query, `SparkEntry.queries(name)(spark, dir)`, which runs the
  * operators/pipelines construction and any jobs it starts eagerly);
  * `exec` runs it to completion (the noop write, or a store call). */
final case class Op(name: String, build: () => Any, exec: Any => Unit)

/** One executed op. `buildQe` (traced ops whose build returns a
  * DataFrame) holds the Catalyst phases of that DataFrame's own
  * QueryExecution: its analysis runs eagerly inside the build, before the
  * QueryExecutionListener sees any query of the op. */
final case class OpRec(id: String, pass: Int, name: String, traced: Boolean,
                       startMs: Long, buildEndMs: Long, execEndMs: Long, endMs: Long,
                       buildS: Double, execS: Double, ok: Boolean,
                       cg: Codegen.Snap, buildQe: Option[QeRec])

object Runner {
  /** Writes the harness's result and span files. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, v: Any): Unit = json.writeValue(new java.io.File(path), v)

  private def now(): Long = System.currentTimeMillis

  /** Pass 0 is cold; the next `warmup` passes warm the JIT up and are
    * recorded but not measured; the rest are the measured warm passes. */
  def kindOf(pass: Int, warmup: Int): String =
    if (pass == 0) "cold" else if (pass <= warmup) "warmup" else "warm"

  /** Session + input registration. `setup_s` runs from JVM start (the
    * RuntimeMXBean start time) until the first operation can run. */
  def setup(c: Conf): (SparkSession, Map[String, Double]) = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = now()
    val spark = Engine.session("perfbench", c.cpus, Map(
      // the size-derived initial shuffle buckets Bench and Verify pass
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        Engine.initialShufflePartitions(c.cpus, c.data).toString,
      "spark.local.dir" -> s"${c.work}/spark-local",
      "spark.sql.warehouse.dir" -> s"${c.work}/warehouse"))
    val t1 = now()
    c.tables.foreach(t => Tables(spark, c.data, t))
    val t2 = now()
    (spark, Map(
      "setup_s" -> (t2 - jvmStart) / 1e3,
      "jvm_start_s" -> (t0 - jvmStart) / 1e3,
      "session_s" -> (t1 - t0) / 1e3,
      "register_s" -> (t2 - t1) / 1e3))
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  private def bytesUnder(p: String): Long = walk(Paths.get(p)).map(Files.size).sum

  private def deleteTree(p: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))

  private def fileSizes(paths: Seq[String]): Long =
    paths.map(u => Files.size(Paths.get(new java.net.URI(u)))).sum

  /** Sub-stores of a versioned store root (dirs holding `_manifest-*`). */
  private def versionedRoots(root: String): Seq[String] = {
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) Nil
    else Files.list(p).iterator().asScala.filter(Files.isDirectory(_))
      .filter(d => Files.list(d).iterator().asScala
        .exists(_.getFileName.toString.startsWith("_manifest-")))
      .map(_.toString).toList.sorted
  }

  private def liveFiles(spark: SparkSession, root: String): Seq[String] = {
    val seq = Sinks.Versioned.versions(spark, root).last
    Sinks.Versioned.readAt(spark, root, seq).inputFiles.toSeq
  }

  // ---- store workload ----------------------------------------------

  /** Corpus versions v1 and v2: the first two of q_inc_curate_store's
    * three (v1 holds back the ids ≡ 2 mod 3; v2 drops the ids ≡ 0 mod 11,
    * revises the ids ≡ 0 mod 13 and adds half of the held-back third). */
  private def versions(spark: SparkSession, data: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, data)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val v1 = docs.filter(col("doc_id") % 3 =!= 2)
    val v2 = v1.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" r2")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 3 === 2 && col("doc_id") % 2 === 0))
    (v1, v2)
  }

  /** The pass's store root, and each sub-store `store.compact` folded with
    * the version it published. */
  final class StoreState(var root: String = "", var compacted: Seq[(String, Int)] = Nil) {
    def store: String = s"$root/store"
    // IncrementalCuration's sub-store layout under the store root
    def curatedRoot: String = s"$store/curated"
    def edgesRoot: String = s"$store/edges"
  }

  private def liveSeq(spark: SparkSession, root: String): Int =
    Sinks.Versioned.versions(spark, root).last

  private def storeOps(spark: SparkSession, c: Conf, st: StoreState): Seq[Op] = {
    def store = st.store
    def noop(x: Any): Unit =
      x.asInstanceOf[DataFrame].write.format("noop").mode("overwrite").save()
    Seq(
      Op("sinks.csv", () => Reconciliation.detail(spark, c.data),
        df => Sinks.writeSingleCsv(df.asInstanceOf[DataFrame], s"${st.root}/report/detail.csv")),
      Op("sinks.shards", () => Tables.documents(spark, c.data),
        df => Sinks.writeShards(df.asInstanceOf[DataFrame], s"${st.root}/shards",
          Seq("lang"), "doc_id", c.cpus)),
      Op("store.bootstrap", () => versions(spark, c.data)._1,
        df => IncrementalCuration.bootstrap(df.asInstanceOf[DataFrame],
          store, "text", "doc_id"): Unit),
      Op("store.publish_v2", () => versions(spark, c.data)._2,
        df => IncrementalCuration.publishIncrement(df.asInstanceOf[DataFrame],
          store, "text", "doc_id"): Unit),
      // maintenance: fold every delta chain (a live version spread over
      // more than one file) back into one compacted version
      Op("store.compact", () => versionedRoots(store).filter(r => liveFiles(spark, r).size > 1),
        roots => st.compacted = roots.asInstanceOf[Seq[String]]
          .map(r => r -> Sinks.Versioned.compact(spark, r))),
      // the final state: the curated store's live version, which is the
      // compacted one when compaction folded it
      Op("store.read", () => IncrementalCuration.curatedAt(spark, store,
        liveSeq(spark, st.curatedRoot)), noop))
  }

  /** Bytes of the pass's outputs that the final state references: the CSV
    * report, the shard files and the files the live manifests name. */
  private def storeSizes(spark: SparkSession, st: StoreState): (Long, Long, Long) = {
    val store = s"${st.root}/store"
    val storeLive = versionedRoots(store).map(r => fileSizes(liveFiles(spark, r))).sum
    val sinkLive = walk(Paths.get(s"${st.root}/report")).filter(_.toString.endsWith(".csv"))
      .map(Files.size).sum +
      walk(Paths.get(s"${st.root}/shards")).filter(_.toString.endsWith(".parquet"))
        .map(Files.size).sum
    (storeLive, sinkLive, bytesUnder(store))
  }

  /** Rows in which two tables differ as multisets, in one job. */
  private def mismatch(a: DataFrame, b: DataFrame): Long =
    a.withColumn("_side", lit(1L)).unionByName(b.withColumn("_side", lit(-1L)))
      .groupBy(a.columns.map(col).toSeq: _*).agg(sum("_side").as("_d"))
      .agg(coalesce(sum(abs(col("_d"))), lit(0L))).first().getLong(0)

  /** The final state of the last pass against a full recompute on the
    * final corpus: the live curated table (`curatedAt`) and the live edge
    * ledger (`edgesAt`) must equal `curatedFromEdges` + `fullEdges`, and
    * every version `store.compact` published must hold the rows of the
    * version it folded, in one file. Returns the mismatching rows per
    * check (a compacted version left in more than one file counts as -1). */
  private def storeGate(spark: SparkSession, c: Conf, st: StoreState): Map[String, Long] = {
    val v2 = versions(spark, c.data)._2
    val edges = IncrementalCuration.fullEdges(v2, "text", "doc_id").localCheckpoint()
    val full = IncrementalCuration.curatedFromEdges(v2, "doc_id", edges)
    val pair = Seq(col("doc_a"), col("doc_b"))
    Map(
      "curated" -> mismatch(full,
        IncrementalCuration.curatedAt(spark, st.store, liveSeq(spark, st.curatedRoot))),
      "edges" -> mismatch(edges.select(pair: _*),
        IncrementalCuration.edgesAt(spark, st.store, liveSeq(spark, st.edgesRoot))
          .select(pair: _*))) ++
      st.compacted.map { case (r, seq) =>
        s"compacted ${Paths.get(r).getFileName}" -> (
          if (liveSeq(spark, r) != seq || liveFiles(spark, r).size != 1) -1L
          else mismatch(Sinks.Versioned.readAt(spark, r, seq - 1),
            Sinks.Versioned.readAt(spark, r, seq)))
      }
  }

  /** The correctness dump, in graft.Verify's output format (one
    * single-file parquet dir per query, INT96 timestamps, oracle_sql.json)
    * for tools/check_oracles.py — made by the measured session, after the
    * timed passes. */
  private def dump(spark: SparkSession, c: Conf): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    val q = SparkEntry.queries
    c.ops.foreach { n =>
      try q(n)(spark, c.data).coalesce(1).write.mode("overwrite").parquet(s"${c.dump}/$n")
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] dump of $n failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    writeJson(s"${c.dump}/oracle_sql.json", SparkEntry.oracleSql)
  }

  // ---- the closed loop ---------------------------------------------

  def run(c: Conf): Unit = {
    val isStore = c.kind == "store"
    if (!isStore) {
      val known = SparkEntry.queries.keySet
      val missing = c.ops.filterNot(known)
      require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    }
    val (spark, setupStats) = setup(c)
    val sc = spark.sparkContext
    val tracer = new Tracer
    sc.addSparkListener(tracer)
    if (c.trace) spark.listenerManager.register(tracer)

    val st = new StoreState
    val ops: Seq[Op] =
      if (isStore) {
        val all = storeOps(spark, c, st)
        require(all.map(_.name) == c.ops, s"store ops are ${all.map(_.name).mkString(",")}")
        all
      }
      else {
        val q = SparkEntry.queries
        c.ops.map(n => Op(n, () => q(n)(spark, c.data),
          df => df.asInstanceOf[DataFrame].write.format("noop").mode("overwrite").save()))
      }

    val opRecs = mutable.ArrayBuffer.empty[OpRec]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    def runOp(o: Op, pass: Int, i: Int, traced: Boolean): OpRec = {
      val id = s"${if (traced) "t" else "u"}-$pass-$i"
      sc.setJobGroup(id, o.name, interruptOnCancel = false)
      sc.setLocalProperty("perfbench.phase", "build")
      val cg0 = if (traced) Codegen.snap() else null
      val s0 = now(); val n0 = System.nanoTime()
      var n1 = n0; var b1 = s0
      var buildQe: Option[QeRec] = None
      val ok =
        try {
          val x = o.build()
          n1 = System.nanoTime(); b1 = now()
          // read before the execute: a write of this DataFrame adds its
          // command's time to the same tracker's phases
          if (traced) buildQe = x match {
            case df: DataFrame => Some(QeRec.phases(df.queryExecution, Map.empty, failed = false))
            case _ => None
          }
          sc.setLocalProperty("perfbench.phase", "execute")
          o.exec(x)
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] ${o.name} failed: ${e.getMessage}")
            false
        }
      val n2 = System.nanoTime(); val e1 = now()
      if (n1 == n0) { n1 = n2; b1 = e1 }
      spark.catalog.clearCache()
      sc.clearJobGroup()
      sc.setLocalProperty("perfbench.phase", null)
      val e2 = now()
      val cg =
        if (traced) {
          val c1 = Codegen.snap()
          Codegen.Snap(c1.compiles - cg0.compiles, c1.compileMs - cg0.compileMs,
            c1.sourceBytes - cg0.sourceBytes)
        } else null
      OpRec(id, pass, o.name, traced, s0, b1, e1, e2, (n1 - n0) / 1e9, (n2 - n1) / 1e9, ok, cg,
        buildQe)
    }

    def runPass(pass: Int, traced: Boolean): Double = {
      if (isStore) {
        if (st.root.nonEmpty) deleteTree(st.root)
        st.root = s"${c.work}/store-root/pass-$pass"
        st.compacted = Nil
      }
      if (isStore) tracer.settle()
      val w0 = tracer.bytesWritten.get
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      val recs = ops.zipWithIndex.map { case (o, i) => runOp(o, pass, i, traced) }
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = (gcMs() - gc0) / 1e3
      opRecs ++= recs
      val storeStats: Map[String, Any] = if (isStore) {
        tracer.settle()
        val written = tracer.bytesWritten.get - w0
        val (storeLive, sinkLive, storeDisk) = storeSizes(spark, st)
        Map("bytes_written" -> written, "store_live_bytes" -> storeLive,
          "sink_live_bytes" -> sinkLive, "store_disk_bytes" -> storeDisk,
          "files_written" -> walk(Paths.get(st.root)).count(p =>
            !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_")),
          "write_amp" -> written.toDouble / math.max(1L, storeLive + sinkLive),
          "space_amp" -> storeDisk.toDouble / math.max(1L, storeLive))
      } else Map.empty
      passes += Map(
        "pass" -> pass, "kind" -> kindOf(pass, c.warmup), "traced" -> traced,
        "wall_s" -> wall, "gc_s" -> gc,
        "ops" -> recs.map(r => Map("name" -> r.name, "s" -> (r.buildS + r.execS),
          "build_s" -> r.buildS, "exec_s" -> r.execS, "ok" -> r.ok))) ++ storeStats
      wall
    }

    // cold pass, the warm-up passes, then measured warm passes until the
    // run length is used and at least the workload's minimum has run. A
    // traced run traces measured passes in the order U T T U U T T U …
    // (ABBA, so JIT warm-up drift cancels), at least four of them: the
    // ratio of the traced and untraced medians is the tracing overhead.
    runPass(0, c.trace)
    (1 to c.warmup).foreach(runPass(_, traced = false))
    val minWarm = if (c.trace) math.max(4, c.minWarm) else c.minWarm
    val warmStart = System.nanoTime()
    var n = 0
    while (n < minWarm || (System.nanoTime() - warmStart) / 1e9 < c.seconds) {
      n += 1
      runPass(c.warmup + n, traced = c.trace && (n % 4 == 2 || n % 4 == 3))
    }

    val gate: Map[String, Any] =
      if (isStore) {
        val g0 = System.nanoTime()
        val bad = try storeGate(spark, c, st) catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] store gate failed: ${e.getMessage}")
            Map("gate" -> -1L)
        }
        Map("store_mismatch_rows" -> bad, "gate_s" -> (System.nanoTime() - g0) / 1e9)
      } else Map.empty

    if (c.dump.nonEmpty) dump(spark, c)
    val rss = peakRssMb()
    val layers =
      if (!c.trace) None
      else {
        tracer.settle()
        Layers.writeSpans(c.spans, tracer, opRecs.toSeq)
        Some(Layers(tracer, opRecs.toSeq, passes.toSeq, setupStats))
      }

    writeJson(c.out, Map(
      "workload" -> c.workload, "kind" -> c.kind, "data" -> c.data,
      "cpus" -> c.cpus, "seconds" -> c.seconds, "trace" -> c.trace,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setup" -> setupStats, "peak_rss_mb" -> rss,
      "attempted" -> opRecs.size,
      "passes" -> passes, "gate" -> gate, "layers" -> layers))
    spark.stop()
  }
}
