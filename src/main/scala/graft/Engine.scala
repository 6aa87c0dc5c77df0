package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's `SPARK_GRAFT_*` tuning knobs, parsed in one place.
  *
  * A missing, non-numeric or non-positive value falls back to the
  * default, so a bad A/B override degrades to the measured setting
  * instead of crashing a query. `SPARK_GRAFT_FAN_DISABLE` is a
  * presence switch: set to anything, it disables
  * [[graft.operators.Partitioning.fanOutSmallScan]].
  * (`SPARK_GRAFT_SF_DIR`, Bench's input path, is a deployment path,
  * not a knob.)
  *
  * @param cpus           `SPARK_GRAFT_CPUS`: local-mode cores (default nproc)
  * @param initialShuffle `SPARK_GRAFT_INITIAL_SHUFFLE`: pins the initial
  *                       shuffle bucket count (default: size-derived,
  *                       see [[Engine.initialShufflePartitions]])
  * @param minPartition   `SPARK_GRAFT_MIN_PARTITION`: AQE coalesce floor
  *                       in bytes (default 128 KiB)
  * @param fanDisable     `SPARK_GRAFT_FAN_DISABLE` is set
  */
final case class Knobs(cpus: Int, initialShuffle: Option[Int],
                       minPartition: Long, fanDisable: Boolean)

object Knobs {
  /** Pure parse of an environment map (specs pass their own). */
  def parse(env: Map[String, String]): Knobs = {
    def positive(key: String): Option[Long] =
      env.get(key).flatMap(_.trim.toLongOption).filter(_ > 0)
    def positiveInt(key: String): Option[Int] =
      positive(key).filter(_ <= Int.MaxValue).map(_.toInt)
    Knobs(
      cpus = positiveInt("SPARK_GRAFT_CPUS")
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      initialShuffle = positiveInt("SPARK_GRAFT_INITIAL_SHUFFLE"),
      minPartition = positive("SPARK_GRAFT_MIN_PARTITION").getOrElse(128L << 10),
      fanDisable = env.contains("SPARK_GRAFT_FAN_DISABLE"))
  }

  /** This process's knobs, read from `sys.env` once. */
  lazy val env: Knobs = parse(sys.env)
}

/** Session factory for the graft engine — the ONLY SparkSession
  * builder in the program, so Bench, Verify, the probes and the test
  * suite run the same confs.
  *
  * The knobs are the ones that matter on a real cluster too: AQE on
  * (runtime shuffle-partition coalescing + skew-join splitting), UTC
  * session time zone (oracle parity), shuffle partitions sized to the
  * parallelism at hand rather than the 200 default.
  */
object Engine {
  /** Scale-adaptive initial shuffle bucket count (pre-AQE-coalesce).
    *
    * The r18 8 GiB sf10 rehearsal OOM'd with buckets pinned at `cpus`
    * (one task held ~2^24 hash-agg keys), but a flat `cpus * 8` fix
    * taxed EVERY sf0.1 shuffle ~10-20% (8× the shuffle blocks, 8× the
    * reduce-task fixed cost on shuffles AQE cannot coalesce — sorts
    * feeding windows, repartitions) for data that fits comfortably in
    * `cpus` buckets. So derive the bucket count from the INPUT VOLUME
    * the session is about to process: one initial bucket per ~8 MiB of
    * on-disk input (parquet-compressed; intermediate explosions like
    * shingle streams expand ~10×, which is what the divisor prices in),
    * floored at `cpus` (never under-parallelize) and capped at
    * `cpus * 32` (bucket count stops mattering once every task's state
    * fits; more buckets just multiply block count, §2.2). Measured at
    * sf0.1 (17.5 MB → `cpus`): the flat-256 regression reverts; at
    * sf10 (~1.75 GB → ~219): same regime as the flat 8× OOM fix.
    *
    * The input volume is [[graft.operators.Partitioning.scanFootprint]]'s
    * byte count for `dataDir` (the same walk the fan-out rule uses).
    *
    * `SPARK_GRAFT_INITIAL_SHUFFLE` overrides for cluster tuning and
    * A/B runs; callers that cannot name a data dir keep the `cpus * 8`
    * middle ground.
    */
  def initialShufflePartitions(cpus: Int, dataDir: String,
                               knobs: Knobs = Knobs.env): Int =
    knobs.initialShuffle.getOrElse(sizeInitialPartitions(cpus,
      graft.operators.Partitioning.scanFootprint(dataDir)._2))

  /** The pure sizing rule behind [[initialShufflePartitions]]:
    * one initial bucket per 8 MiB of on-disk input, clamped to
    * [cpus, cpus*32]. Exposed for the spec. */
  private[graft] def sizeInitialPartitions(cpus: Int, bytes: Long): Int =
    math.max(cpus.toLong,
      math.min(bytes / (8L << 20), cpus.toLong * 32L)).toInt

  /** Every conf [[session]] sets, as one map. `extraConfs` are applied
    * LAST (they win over the defaults) — for caller-specific static
    * confs that must be set before the session exists. A known
    * `dataDir` sizes the initial shuffle bucket count from the input
    * volume ([[initialShufflePartitions]]).
    */
  private[graft] def confs(cpus: Int,
                           extraConfs: Map[String, String] = Map.empty,
                           dataDir: Option[String] = None,
                           knobs: Knobs = Knobs.env): Map[String, String] =
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      // Pre-coalesce shuffle bucket count ABOVE the core count, so AQE
      // sizes reduce-side partitions from data volume instead of being
      // pinned at `cpus`. With 32 buckets a 10×-scale hash aggregate
      // lands ~2^24 keys in ONE task (its BytesToBytesMap doubles to a
      // 128 MiB pointer array; 32 such tasks under an 8 GiB heap OOM'd
      // the r18 full-surface rehearsal on q_inc_clusters' pair stream).
      // With 8×cpus initial buckets the same stage's per-task state is
      // 8× smaller and spills incrementally; small shuffles still
      // coalesce back to ~cpus (parallelismFirst), so sf0.1 plans keep
      // their shape. Streaming state-store layout is untouched — it
      // keys on spark.sql.shuffle.partitions, which stays `cpus`, so
      // existing checkpoints keep restoring. This is the local stand-in
      // for the cluster-side rule: initial shuffle partitions track
      // data scale (files.maxPartitionBytes-ish), AQE owns the final
      // count. A caller naming its data dir gets the size-derived
      // count instead (see initialShufflePartitions above).
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        dataDir.fold(knobs.initialShuffle.getOrElse(cpus * 8))(
          initialShufflePartitions(cpus, _, knobs)).toString,
      // AQE coalesce floor 1 MiB → 128 KiB: the default folds every
      // sub-MiB shuffle to ONE task, serializing compute-dense reduce
      // stages (posting-list pair explode, CC star rounds, banded
      // verify) whose per-byte CPU is huge — QStagesProbe showed
      // q_inc_curate's 0.8-1.0 MB pair stages each running 0.2-0.65 s
      // in a single task. 128 KiB keeps those stages at ~6-8 tasks
      // while still folding genuinely tiny (<128 KiB) shuffles to one.
      // Measured (18-query cluster/curate family, sf0.1, two runs per
      // arm, per-query min): 45.6 s → 40.8 s (−10%), 15/18 queries
      // improve, worst regression +0.5 s (md5 panel twins). Scale-safe:
      // a fixed per-task byte floor, not a core-count constant — at
      // production shuffle sizes the 64 MiB advisory target governs
      // and this floor is unreachable.
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
        knobs.minPartition.toString,
      "spark.sql.session.timeZone" -> "UTC",
      // testdata events.parquet carries TIMESTAMP(NANOS); Spark only
      // supports micros — read nanos as long, Tables.events converts.
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // Input parquet may carry isAdjustedToUTC=false micros (pyarrow's
      // default for naive datetimes); read them as plain TimestampType
      // under the UTC session rather than TIMESTAMP_NTZ, so timestamp
      // functions (unix_millis, watermarks, windows) keep working and
      // values match the oracle's naive-timestamp semantics.
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      // Write timestamps as annotated micros, not legacy INT96: INT96
      // columns carry NO parquet min/max statistics, which silently
      // disables row-group/file skipping on every time predicate — at
      // 100 TB, the difference between reading a month and reading the
      // whole table (measured at sf10: SCALE.md, "Selective range
      // predicates").
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      // Align Spark's whole-stage-codegen bailout with HotSpot's JIT
      // huge-method limit (-XX:DontCompileHugeMethods, 8000 bytecodes).
      // The default (65535) happily keeps WSCG plans whose single
      // generated processNext() exceeds 8000 bytecodes — HotSpot then
      // refuses to JIT it and the hot loop runs in the BYTECODE
      // INTERPRETER. Falling back to non-WSCG execution instead keeps
      // per-expression codegen (each method small enough to JIT):
      // measured on q_url_canon's projection tree (30+ regex/string ops
      // + md5 nibbles + SortSegments over 4 M rows) 2.37 s → 0.99 s
      // (SCALE.md round-12 "The codegen that would not JIT"). Plans
      // under 8000 bytecodes are untouched.
      "spark.sql.codegen.hugeMethodLimit" -> "8000",
      // Generated-class cache sized above the suite's distinct-plan
      // count (static conf — must be set before the session exists).
      // The 100-entry default LRU-thrashes on the wide md5-twin plans:
      // every pass re-pays multi-second Janino compiles on a rotating
      // set of queries — the "rotating JIT stall" of every bench record
      // until round 2. 4096 keeps every plan's generated class
      // resident, so a warmup pass actually warms (the isolated
      // production-curation timing in BASELINE.md read 4.67 s on a
      // session without it, for a path Bench times at ~2.4 s in-suite).
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.ui.enabled" -> "false"
    ) ++ extraConfs

  /** The engine session: [[confs]] applied to one builder. */
  def session(appName: String = "graft",
              cpus: Int = Knobs.env.cpus,
              extraConfs: Map[String, String] = Map.empty,
              dataDir: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder().appName(appName)
      .config(confs(cpus, extraConfs, dataDir)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Loader for the driver-provided parquet tables (TESTDATA.md).
  *
  * One parquet file per table under `$sfDir/`. Reading through here keeps
  * scans declarative so Catalyst pushes filters and prunes columns into
  * the parquet reader.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized base relations, keyed by (session, path). Every
    * `spark.read.parquet` pays a driver-side file listing + a footer
    * read for schema inference; the suite rebuilds each query's frame
    * from scratch per pass, so that cost lands on EVERY query
    * (FixedCostProbe: ~60-100 ms/pass untracked by Catalyst phases —
    * the dominant per-query fixed cost at sf0.1 where 86/179 queries
    * run <0.5 s). Reusing the resolved DataFrame is safe because the
    * logical relation is immutable; the test tables are immutable
    * input dirs by contract (a dir whose FILES change after first read
    * must not go through this cache — the resolved FileIndex would
    * miss additions; ScaleData, the one in-repo writer that overwrites
    * a table layout in place, calls [[invalidatePath]] after writing).
    *
    * Lifecycle: keyed by session identity so a stopped session's
    * entries can't be served to a new one, AND evicted when their
    * session stops — a `SparkListener` registered once per
    * SparkContext fires [[evictStopped]] on application end (in Spark,
    * `session.stop()` stops the shared context, so context end is the
    * session-death signal), and every cache miss also sweeps
    * already-stopped entries. Without eviction, a long-lived driver
    * that creates/stops many sessions (the probe pattern) would retain
    * each dead session's resolved `FileIndex`es for the JVM lifetime.
    */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]
  private val hookedContexts =
    java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.SparkContext]

  /** Drop every entry whose session satisfies `p`; returns the count
    * evicted. The sweep mechanics are predicate-driven so tests can
    * exercise them against a LIVE session (a spec cannot stop the
    * suite-shared SparkContext; the listener-fired stop path is
    * asserted end-to-end by RelCacheSpec in a child JVM it owns).
    */
  def evictWhere(p: SparkSession => Boolean): Int = {
    var n = 0
    val it = relCache.keySet.iterator()
    while (it.hasNext) {
      if (p(it.next()._1)) { it.remove(); n += 1 }
    }
    n
  }

  /** Drop every entry whose session's context has stopped. Called from
    * the per-context listener and on each cache miss; public so
    * long-lived hosts with custom lifecycles can force a sweep.
    */
  def evictStopped(): Int = evictWhere(_.sparkContext.isStopped)

  /** Drop every entry (any session) whose path starts with `prefix` —
    * for the one sanctioned way an "immutable" input dir changes:
    * a writer (ScaleData) overwriting a table layout in place calls
    * this after the write so no session serves the stale FileIndex.
    */
  def invalidatePath(prefix: String): Int = {
    var n = 0
    val it = relCache.keySet.iterator()
    while (it.hasNext) {
      if (it.next()._2.startsWith(prefix)) { it.remove(); n += 1 }
    }
    n
  }

  /** Test-visible view of the cached paths for one session. */
  private[graft] def cachedPaths(spark: SparkSession): Set[String] = {
    val out = Set.newBuilder[String]
    relCache.keySet.forEach { case (s, p) => if (s eq spark) out += p }
    out.result()
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    relCache.computeIfAbsent((spark, s"$sfDir/$name.parquet"), { case (s, p) =>
      val sc = s.sparkContext
      if (hookedContexts.add(sc)) {
        sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            evictStopped(); hookedContexts.remove(sc)
          }
        })
      } else evictStopped()
      s.read.parquet(p)
    })

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** events.ts is TIMESTAMP(NANOS) in parquet; Spark reads it as nanos-long
    * (see Engine config). Convert to a micros TimestampType with integer
    * division — `div`, not `/`: double arithmetic would lose precision on
    * epoch-nanos (~1.7e18 > 2^53).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => raw
    }
  }
  /** [[lineitem]]/[[events]] behind the opt-in parallelism repair —
    * for the few heavy-per-row consumers (per-group value-buffering
    * percentile aggregation, six-way DECIMAL moment sums, per-row JSON
    * parsing) where the serialized single-split scan dominates; plain
    * aggregates keep the raw scan (measured net loss, see
    * [[graft.operators.Partitioning]]).
    */
  def lineitemWide(s: SparkSession, d: String): DataFrame =
    graft.operators.Partitioning.fanOutSmallScan(
      apply(s, d, "lineitem"), s"$d/lineitem.parquet")
  def eventsWide(s: SparkSession, d: String): DataFrame =
    graft.operators.Partitioning.fanOutSmallScan(
      events(s, d), s"$d/events.parquet")

  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")

  /** [[documents]] behind a parallelism repair for single-split scans
    * (see [[graft.operators.Partitioning.fanOutSmallScan]]) — OPT-IN
    * for queries whose downstream is one or two compute-dense
    * full-corpus passes (shingling, n-gram LM scoring, pair
    * generation), where one wide stage amortizes the task launches.
    * Multi-stage delta pipelines must keep the RAW loader: measured on
    * q_inc_curate, fan-out there ACCUMULATES partitions through the
    * version unions (32→64→96) and its ~50 tiny stages then pay 2,286
    * task launches instead of 170 (sum executor time 272 s vs 25 s) —
    * +2.2 s wall. The wide form is a no-op at scale (fanOutSmallScan
    * decides from file metadata).
    */
  def documentsWide(s: SparkSession, d: String): DataFrame =
    graft.operators.Partitioning.fanOutSmallScan(
      apply(s, d, "documents"), s"$d/documents.parquet")

  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** [[embeddings]] behind the same opt-in parallelism repair as
    * [[documentsWide]] — for index builds and full-corpus vector
    * passes. Panel-restricted (1024-vector md5 truth panels) and
    * single-projection queries measured the exchange as a net loss
    * and keep the raw scan.
    */
  def embeddingsWide(s: SparkSession, d: String): DataFrame =
    graft.operators.Partitioning.fanOutSmallScan(
      apply(s, d, "embeddings"), s"$d/embeddings.parquet")
}
