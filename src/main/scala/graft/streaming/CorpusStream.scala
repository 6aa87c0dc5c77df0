package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.operators.TextDedup

/** Continuous corpus ingestion with incremental near-dup screening —
  * the streaming composition of the batch pieces this engine already
  * oracle-proves (`TextDedup.bandedSignatures` /
  * `crossCorpusNearDupsBanded` / `minhashLshPairs`):
  *
  * New documents arrive as parquet file drops. Each micro-batch
  *   1. screens the batch against the PERSISTED band index (parquet,
  *      partitioned by ingest batch + band — the same index the batch
  *      screens write),
  *   2. screens the batch against ITSELF (a drop can carry its own
  *      duplicates; keep-first by id within a pair),
  *   3. writes accepted docs to the corpus sink, their band
  *      signatures to the index, and all rejected pairs to a report.
  *
  * Cost per drop, stated honestly: |batch| hashing + ONE FULL SCAN of
  * the signature index for the band-bucket join (the
  * `ingest_batch =!= batchId` filter prunes only the replay guard's
  * partition — the rest of the index is read every drop). The corpus
  * TEXT is never re-read or re-paired — a year of daily drops costs
  * Σ|drop| hashing, not Σ|corpus| — but the index side grows with the
  * corpus: at 1 B accepted docs × 8 bands that join scans an 8 B-row
  * (id, band, bucket) parquet table per drop. Viable (it is a narrow
  * 3-column scan feeding a shuffle join keyed on (band, bucket)), but
  * at corpus scale prefer [[nearDupScreenStateful]], whose state-store
  * index is keyed by (band, bucket) and touches only the buckets the
  * drop occupies — the per-drop cost there is ∝ |drop|, full stop
  * (StreamingDedupSpec pins the two twins' accept-rule relationship:
  * identical accepted sets when every collision is a true dup,
  * stateful ⊆ ingest in general). The incremental ≡ full-recompute
  * equivalence of the underlying screen is proven by `q_cross_dedup`'s
  * oracle and `q_inc_clusters`.
  *
  * == Exactly-once under foreachBatch replay ==
  *
  * The file source tracks processed files exactly-once, but a crash
  * inside `foreachBatch` (after some sinks are written, before the
  * checkpoint commit) re-runs the batch with the SAME `batchId`. Two
  * mechanisms make that replay idempotent BY CONSTRUCTION rather than
  * "duplicates removable downstream":
  *
  *   - Every sink is a per-batch DYNAMIC PARTITION OVERWRITE keyed by
  *     the stable `batchId` (pairs by `batch_id`, corpus by
  *     `ingest_batch`, index by `ingest_batch, band`): a replay
  *     rewrites exactly the partitions its first attempt may have
  *     half-written and touches nothing else, so no doc is lost and
  *     none is double-accepted, whichever append the crash interrupted.
  *   - The screen reads the index EXCLUDING the current `batchId`'s
  *     partitions (partition-pruned filter), so a replay sees exactly
  *     the pre-batch corpus even when the first attempt already wrote
  *     its signatures — decisions are bit-identical across retries,
  *     and a doc can never be rejected against its own replayed
  *     signature.
  *
  * Residual caveat (documented, not hidden): parquet partition
  * overwrite is not transactional — a crash during the overwrite's
  * own commit window can tear a partition, which the NEXT replay then
  * rewrites wholesale; between crash and restart, readers of the live
  * sinks can observe a torn batch. For hard read-isolation point the
  * sinks at a transactional table format; the screening logic is
  * unchanged. CorpusStreamSpec drives kills at each crash point and
  * proves final state ≡ the uninterrupted run.
  */
object CorpusStream {

  /** Start the ingestion stream. `statePath` holds the three sinks:
    * `band_index/` (partitioned by ingest batch + band), `accepted/`
    * (partitioned by ingest batch), `dup_pairs/` (partitioned by
    * batch id). Caller controls draining via the returned query
    * (AvailableNow is applied — each invocation drains what has
    * arrived, the reference's monthly-drop cadence generalized).
    */
  def ingest(spark: SparkSession, docsDir: String, schema: StructType,
             statePath: String, textCol: String = "text",
             idCol: String = "doc_id", n: Int = 3, k: Int = 32,
             bands: Int = 8, threshold: Double = 0.8,
             maxFilesPerTrigger: Int = 8,
             maxBucketSize: Int = Int.MaxValue): StreamingQuery = {
    val indexPath = s"$statePath/band_index"
    val acceptedPath = s"$statePath/accepted"
    val pairsPath = s"$statePath/dup_pairs"

    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(docsDir)

    src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val docs = batch.select(col(idCol), col(textCol))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val indexExists = new org.apache.hadoop.fs.Path(indexPath)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(new org.apache.hadoop.fs.Path(indexPath))

          // 1. batch × corpus: the index MINUS this batch's own
          // partitions (partition-pruned), so a replay after a
          // completed index append still screens against exactly the
          // pre-batch corpus
          val corpusPairs =
            if (indexExists)
              TextDedup.crossCorpusNearDupsBanded(docs,
                spark.read.parquet(indexPath)
                  .filter(col("ingest_batch") =!= batchId)
                  .drop("ingest_batch"),
                textCol, idCol, n, k, bands, threshold, maxBucketSize)
            else
              // derive new_id/corpus_id from the REAL id column type so the
              // first-batch empty frame unions cleanly with withinPairs for
              // any idCol type (not just long)
              docs.select(col(idCol).as("new_id"), col(idCol).as("corpus_id"),
                lit(0.0).as("est_jaccard")).limit(0)

          // 2. batch × batch, keep-first by id: reject the larger id
          val withinPairs = TextDedup.minhashLshPairs(docs, textCol, idCol,
            n, k, bands, threshold, maxBucketSize)

          val rejected = corpusPairs.select(col("new_id").as("_rid"))
            .unionByName(withinPairs.select(col("doc_b").as("_rid")))
            .distinct()
          val accepted = docs
            .join(rejected, docs(idCol) === col("_rid"), "left_anti")

          // 3. sinks, each an idempotent per-batch dynamic overwrite:
          // report, corpus, index (bands of ACCEPTED docs only —
          // rejected docs must not become screen targets for later
          // drops)
          corpusPairs
            .select(col("new_id"), col("corpus_id"), col("est_jaccard"),
              lit("corpus").as("kind"), lit(batchId).as("batch_id"))
            .unionByName(withinPairs.select(
              col("doc_b").as("new_id"), col("doc_a").as("corpus_id"),
              col("est_jaccard"), lit("batch").as("kind"),
              lit(batchId).as("batch_id")))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(pairsPath)
          accepted.withColumn("ingest_batch", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch").parquet(acceptedPath)
          TextDedup.bandedSignatures(accepted, textCol, idCol, n, k, bands)
            .withColumn("ingest_batch", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch", "band").parquet(indexPath)
        } finally docs.unpersist()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$statePath/_checkpoint")
      .start()
  }

  /** One emitted candidate: `doc_id` collided with the bucket anchored
    * by `dup_of` in `band`. A document is near-dup-flagged when it
    * appears here for ANY band; distinct (doc_id, dup_of) downstream.
    */
  case class ScreenHit(doc_id: Long, dup_of: Long, band: Int)

  /** The STATE-STORE twin of [[ingest]]'s parquet band index: the LSH
    * bucket → anchor-document map lives in the streaming state store
    * (checkpointed, exactly-once with the source offsets — no external
    * index files to coordinate), keyed by `(band, bucket)` via
    * `flatMapGroupsWithState`. Each arriving document's band buckets
    * are checked against their anchors; a collision emits a
    * [[ScreenHit]] in append mode, a fresh bucket installs the
    * (deterministic: min id in the batch) anchor.
    *
    * Semantics are LSH-accept — a candidate is flagged on any band
    * collision with no exact-verify stage, the documented 100 TB screen
    * recipe (`q_lsh_recall` measures exactly this accept rule's
    * precision/recall; the full signatures that an est-Jaccard verify
    * would need stay OUT of state by design). State size is one long
    * per occupied bucket — `bands` longs per unique corpus document —
    * so 1 B docs × 8 bands ≈ tens of GB across the cluster: configure
    * the RocksDB state store provider for corpus-scale runs, and pair
    * with the parquet-index [[ingest]] when the index must also be
    * readable at rest.
    *
    * Works identically on a batch frame (state starts empty, single
    * "batch"), which the spec uses to pin stream ≡ batch parity.
    */
  def nearDupScreenStateful(docs: DataFrame, textCol: String = "text",
                            idCol: String = "doc_id", n: Int = 3,
                            k: Int = 32, bands: Int = 8)
      : org.apache.spark.sql.Dataset[ScreenHit] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(k % bands == 0, "k must be divisible by bands")
    val spark = docs.sparkSession
    import spark.implicits._
    require(docs.schema(idCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"nearDupScreenStateful keys state by a long id; cast $idCol first")
    val banded = TextDedup
      .bandedSignatures(docs, textCol, idCol, n, k, bands)
      .select(col("band").cast("int").as("band"), col("bucket"),
        col("doc").as("doc_id"))
      .as[(Int, Long, Long)]
    banded.groupByKey { case (band, bucket, _) => (band, bucket) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (Int, Long), rows: Iterator[(Int, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) => {
          val ids = rows.map(_._3).toArray
          java.util.Arrays.sort(ids)
          val anchor = if (state.exists) state.get else { state.update(ids(0)); ids(0) }
          ids.iterator.filter(_ != anchor).map(ScreenHit(_, anchor, key._1))
        })
  }

  /** One bounded-screen event. `kind` is `"hit"` (doc_id collided with
    * the bucket anchored by dup_of — same meaning as [[ScreenHit]]) or
    * `"anchor"` (doc_id == dup_of installed itself as the bucket's
    * anchor this cycle). Anchor events exist so the DRAIN is built
    * from the stream's own exactly-once sink: compacting a cycle's
    * state into the at-rest snapshot is `screenSnapshot(sinkDf)`, a
    * parquet read — no state-store export, no checkpoint surgery.
    */
  case class BoundedScreenEvent(doc_id: Long, dup_of: Long, band: Int,
                                bucket: Long, kind: String)

  /** Schema-correct empty snapshot for a first cycle. */
  def emptyScreenSnapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, Long, Long)].toDF("band", "bucket", "anchor")
  }

  /** The (band, bucket, anchor) rows a finished cycle adds to the
    * snapshot — exactly the buckets whose anchors the cycle INSTALLED
    * (its state), read back from its sink. Disjoint from every earlier
    * cycle's rows by construction: a bucket already in the snapshot a
    * cycle ran against never installs state there.
    */
  def screenSnapshot(sink: DataFrame): DataFrame =
    sink.filter(col("kind") === "anchor")
      .select(col("band"), col("bucket"), col("doc_id").as("anchor"))

  /** [[nearDupScreenStateful]] with BOUNDED state — the drain-cycle
    * form for corpora where the unbounded twin's state store would
    * grow without limit (~0.7 KB/doc measured: ~670 GB of RocksDB at
    * 1 B docs, with checkpoint upload, recovery replay, and compaction
    * cost all growing with it).
    *
    * The bucket→anchor map is split by AGE. Buckets from finished
    * cycles live in `snapshot`, an at-rest parquet table of
    * (band, bucket, anchor) — cheap storage, no recovery cost; buckets
    * first seen in the CURRENT cycle live in the state store. Each
    * micro-batch's band buckets stream-static LEFT-join the snapshot:
    * an archived bucket emits hits against its snapshot anchor and
    * NEVER touches state; only snapshot-miss buckets reach the
    * stateful path, which anchors/collides exactly like the unbounded
    * twin and additionally emits an `"anchor"` event on install. State
    * is therefore bounded by ONE CYCLE'S new buckets regardless of
    * corpus age — the plateau StreamingDedupSpec's drain-cycle test
    * pins and BENCH_sf10.json's `screen_drain_r*` records hold at sf10
    * — while the accept rule stays bit-identical to the unbounded
    * screen: given the same batching, hits(bounded, all cycles) ≡
    * hits(unbounded) (the same test pins it).
    *
    * A drain cycle is: stop the query; append `screenSnapshot(sink)`
    * to the snapshot table (idempotent if partitioned by cycle and
    * overwritten dynamically); start the NEXT cycle's query over the
    * next landing directory with a fresh checkpoint and the grown
    * snapshot — the reference's monthly-drop cadence, generalized.
    * Invariants the caller owns: the snapshot path is immutable while
    * a cycle runs (the static side's file listing is pinned at plan
    * time anyway — mid-cycle appends are invisible), holds at most one
    * row per (band, bucket), and each landing directory is consumed by
    * exactly one cycle.
    *
    * The honest cost trade vs the unbounded twin: every micro-batch
    * re-scans the snapshot for the join (narrow 3-long columns — at
    * 1 B docs × 8 bands ≈ 8 B rows, a few tens of GB of parquet
    * shuffled per batch). The unbounded twin touches only the buckets
    * the drop occupies but pays for it in ever-growing live state.
    * Pick by drop cadence: frequent small drops → unbounded twin with
    * periodic rotation through THIS form; bulk drops → this form
    * outright (the join amortizes over the drop).
    */
  def nearDupScreenBounded(docs: DataFrame, snapshot: DataFrame,
                           textCol: String = "text",
                           idCol: String = "doc_id", n: Int = 3,
                           k: Int = 32, bands: Int = 8)
      : org.apache.spark.sql.Dataset[BoundedScreenEvent] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(k % bands == 0, "k must be divisible by bands")
    val spark = docs.sparkSession
    import spark.implicits._
    require(docs.schema(idCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"nearDupScreenBounded keys state by a long id; cast $idCol first")
    val banded = TextDedup
      .bandedSignatures(docs, textCol, idCol, n, k, bands)
      .select(col("band").cast("int").as("band"), col("bucket"),
        col("doc").as("doc_id"))
    val joined = banded
      .join(snapshot.select(col("band").cast("int").as("band"),
          col("bucket"), col("anchor").cast("long").as("_snap_anchor")),
        Seq("band", "bucket"), "left")
      .select(col("band"), col("bucket"), col("doc_id"), col("_snap_anchor"))
      .as[(Int, Long, Long, Option[Long])]
    joined.groupByKey { case (band, bucket, _, _) => (band, bucket) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (Int, Long), rows: Iterator[(Int, Long, Long, Option[Long])],
         state: org.apache.spark.sql.streaming.GroupState[Long]) => {
          val arr = rows.toArray
          arr.head._4 match {
            case Some(snapAnchor) =>
              // archived bucket: hits against the at-rest anchor, NO
              // state install — this is what bounds the state
              arr.iterator.map(_._3).filter(_ != snapAnchor)
                .map(BoundedScreenEvent(_, snapAnchor, key._1, key._2, "hit"))
            case None =>
              val ids = arr.map(_._3)
              java.util.Arrays.sort(ids)
              if (state.exists) {
                val anchor = state.get
                ids.iterator.filter(_ != anchor)
                  .map(BoundedScreenEvent(_, anchor, key._1, key._2, "hit"))
              } else {
                val anchor = ids(0)
                state.update(anchor)
                Iterator.single(BoundedScreenEvent(anchor, anchor, key._1,
                    key._2, "anchor")) ++
                  ids.iterator.filter(_ != anchor)
                    .map(BoundedScreenEvent(_, anchor, key._1, key._2, "hit"))
              }
          }
        })
  }

  /** One cap verdict: `doc_id` of `domain` arrived as the `rank`-th
    * document of its domain (1-based, across the stream's lifetime)
    * and is `accepted` iff rank ≤ k.
    */
  case class CapVerdict(doc_id: Long, domain: String, rank: Long,
                        accepted: Boolean)

  /** Streaming per-domain document cap — [[graft.operators.Domains.domainCap]]'s
    * admission rule enforced CONTINUOUSLY: the per-domain accepted
    * count lives in the checkpointed state store (one long per domain
    * ever seen — trivially cluster-sized even at web scale), each
    * arriving document takes the next rank of its domain and is
    * admitted while rank ≤ k. Admission is arrival-ordered across
    * micro-batches (an online cap cannot replay the batch form's
    * global md5 order without reprocessing — the standard trade of a
    * streaming cap) and md5(id)-deterministic WITHIN a batch, so any
    * single batch admits exactly the batch operator's survivors: the
    * spec pins one-batch stream ≡ `domainCap`, and cap persistence
    * across batches and restarts.
    *
    * Scale shape: domain derivation is map work on the stream; the
    * only shuffle keys on domain. A zipfian-hot domain concentrates
    * its COUNTER on one task, but the per-row state work is an
    * increment — the skew cost is the shuffle's, same as every
    * domain-keyed aggregation, and far below the batch cap's
    * two-phase rewrite threshold at micro-batch sizes.
    */
  def domainCapStateful(docs: DataFrame, urlCol: String = "url",
                        idCol: String = "doc_id", k: Int = 3)
      : org.apache.spark.sql.Dataset[CapVerdict] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(k > 0, "domainCapStateful: k must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val dom = docs.select(col(idCol).cast("long").as("doc_id"),
        graft.operators.Domains
          .registeredDomain(graft.operators.Domains.hostOf(col(urlCol)))
          .as("domain"),
        md5(col(idCol).cast("long").cast("string")).as("_ord"))
      .as[(Long, String, String)]
    dom.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (domain: String, rows: Iterator[(Long, String, String)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) => {
          // md5 order within the batch = the batch operator's
          // deterministic survivor rule, replayed per micro-batch
          val sorted = rows.toArray.sortBy(r => (r._3, r._1))
          var seen = if (state.exists) state.get else 0L
          val out = sorted.map { case (id, _, _) =>
            seen += 1
            CapVerdict(id, domain, seen, seen <= k)
          }
          state.update(seen)
          out.iterator
        })
  }
}
