package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.types.{DataType, StructType}

/** Sink-side utilities (SURVEY.md §2.2).
  *
  * K1 single-file CSV parity: the reference's `to_csv(path, index=False)`
  * produces ONE file. `coalesce(1)` gives single-file output without a
  * full shuffle (narrow dependency); the part file is then renamed to the
  * requested path. Only for report-sized outputs — a 100 TB result goes
  * through `df.write` partitioned, never through one file.
  */
object Sinks {

  /** K1: write a single CSV file at exactly `path` (header, UTF-8). */
  def writeSingleCsv(df: DataFrame, path: String, encoding: String = "UTF-8"): Unit = {
    val tmp = path + "_tmpdir"
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").option("encoding", encoding)
      .csv(tmp)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val fs = new Path(tmp).getFileSystem(conf)
    val part = fs.listStatus(new Path(tmp))
      .map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    val dest = new Path(path)
    if (fs.exists(dest) && !fs.delete(dest, false))
      throw new java.io.IOException(s"could not replace existing $path")
    val parent = dest.getParent
    if (parent != null && !fs.exists(parent)) fs.mkdirs(parent)
    if (!fs.rename(part, dest))
      throw new java.io.IOException(s"rename $part -> $dest failed")
    fs.delete(new Path(tmp), true)
  }

  /** Training-shard writer — the output side of a 100 TB pipeline:
    * hive-style partition directories on `partitionCols` (enables
    * partition-pruned downstream reads), range-repartitioned on
    * `shardBy` into `shards` files per partition with rows sorted within
    * each shard (stable ordering for reproducible training runs),
    * bounded file sizes via maxRecordsPerFile.
    */
  def writeShards(df: DataFrame, path: String, partitionCols: Seq[String],
                  shardBy: String, shards: Int,
                  maxRecordsPerFile: Long = 5000000L,
                  format: String = "parquet"): Unit = {
    import org.apache.spark.sql.functions.col
    // sort key must LEAD with the partition columns: the dynamic-partition
    // writer requires ordering on them and would otherwise insert its own
    // non-stable sort, discarding the shardBy ordering entirely
    //
    // format "json" = gzip JSONL — the interchange format most training
    // stacks ingest directly; same sharding/ordering guarantees as the
    // parquet layout (compression via codec, not the layout)
    val w = df.repartitionByRange(shards, col(shardBy))
      .sortWithinPartitions((partitionCols :+ shardBy).map(col): _*)
      .write
      .partitionBy(partitionCols: _*)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .mode(SaveMode.Overwrite)
    format match {
      case "parquet" => w.parquet(path)
      case "json" => w.option("compression", "gzip").json(path)
      case other => throw new IllegalArgumentException(
        s"writeShards: unsupported format '$other' (parquet | json)")
    }
  }

  /** Token-budget shard assignment: walk the frame in `orderBy` order
    * and pack rows into shards of at most ~`budget` tokens (a shard may
    * overflow by one row's partial count — the standard training-shard
    * contract, rows are never split). `shard_id = exclusive-prefix-sum
    * div budget`, built on [[graft.operators.Joins.globalPrefixSum]] —
    * parallel range-partitioned prefix sums, never a single-partition
    * window. Feed the result to [[writeShards]] partitioned by
    * `shard_id` for budget-bounded training files.
    */
  def packByBudget(df: DataFrame, orderBy: Seq[org.apache.spark.sql.Column],
                   tokenCol: String, budget: Long,
                   shardCol: String = "shard_id"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    require(budget > 0, "budget must be positive")
    graft.operators.Joins.globalPrefixSum(df, orderBy, col(tokenCol), "running_total")
      .withColumn(shardCol, expr(s"(running_total - $tokenCol) div $budget"))
  }

  /** Fixed-context sequence packing — the training-batch layout: walk
    * the frame in `orderBy` order, concatenate every document's tokens
    * into one unbroken stream, and cut the stream into back-to-back
    * windows of exactly `seqLen` tokens (no padding; documents split
    * across window boundaries — each window is one training sequence).
    * Emits one row per (document, window) SPAN, the metadata a loader
    * needs to assemble window `seq_id` from document slices:
    * `seq_id` (window ordinal), `seq_offset` (where in the window the
    * span starts), `doc_offset` (where in the document it starts),
    * `span_len`. Every window except the stream's last sums to exactly
    * `seqLen`; zero-token documents contribute no spans.
    *
    * Scale shape: one range-partitioned prefix sum
    * ([[graft.operators.Joins.globalPrefixSum]] — never a global
    * window) + a per-row explode of that row's window range; a doc of
    * t tokens emits ⌈t/seqLen⌉+1 spans at most, so output is
    * O(rows + totalTokens/seqLen) with no shuffle beyond the range
    * partition.
    */
  def packSequences(df: DataFrame, orderBy: Seq[org.apache.spark.sql.Column],
                    tokenCol: String, seqLen: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, explode, sequence, greatest, least, lit}
    require(seqLen > 0, "seqLen must be positive")
    graft.operators.Joins.globalPrefixSum(df, orderBy, col(tokenCol), "_pk_end")
      .filter(col(tokenCol) > 0)
      .withColumn("_pk_start", col("_pk_end") - col(tokenCol).cast("long"))
      .withColumn("seq_id",
        explode(sequence(expr(s"_pk_start div $seqLen"),
          expr(s"(_pk_end - 1) div $seqLen"))))
      .withColumn("_w0", col("seq_id") * lit(seqLen))
      .withColumn("seq_offset", greatest(col("_pk_start"), col("_w0")) - col("_w0"))
      .withColumn("doc_offset", greatest(col("_pk_start"), col("_w0")) - col("_pk_start"))
      .withColumn("span_len",
        least(col("_pk_end"), col("_w0") + lit(seqLen))
          - greatest(col("_pk_start"), col("_w0")))
      .drop("_pk_end", "_pk_start", "_w0")
  }

  /** Bucketed table write — the storage layout for repeated co-located
    * joins/aggregations at 100 TB: rows hash-bucketed (and optionally
    * sorted) on the join key, so a join between two tables bucketed the
    * same way on the same key runs with ZERO Exchange (and, when both
    * sides are sorted, zero Sort) — the shuffle is paid once at write
    * time instead of on every query. Requires `saveAsTable` (bucket
    * metadata lives in the catalog, not the parquet files).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.saveAsTable(table)
  }

  /** Z-order (Morton) sort key over 2+ columns — the multi-column
    * data-skipping layout: each column is normalized to a `bits`-wide
    * integer bucket between its min and max, and the bucket bits are
    * interleaved so rows close in EVERY dimension land close in the
    * sort order. A file/row group then owns a small hyper-rectangle of
    * the value space, and parquet min/max stats prune on ANY of the
    * z-ordered columns — where a plain sort prunes only its leading
    * column. Numeric and timestamp columns supported; nulls sort
    * first (bucket 0).
    *
    * `bits` per column × #cols must fit a long (≤ 63); 12 bits ≈ 4096
    * buckets per dimension is plenty for file-level skipping.
    *
    * NOTE: building the key runs one eager min/max aggregation over
    * `df` — a full scan (cheap per row, but a real pass at 100 TB; at
    * write time it is amortized into the write job that follows).
    * Columns must be numeric, timestamp, or date; an empty frame or an
    * all-null column degrades to bucket 0 for that column rather than
    * failing the write.
    */
  def zOrderKey(df: DataFrame, cols: Seq[String], bits: Int = 12): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, coalesce, unix_date, unix_micros, shiftleft, shiftright, min => fmin, max => fmax}
    import org.apache.spark.sql.types.{DateType, NumericType, TimestampType}
    require(cols.size >= 2, "z-order needs at least 2 columns (use a plain sort for 1)")
    require(bits * cols.size <= 63, s"bits($bits) x cols(${cols.size}) must fit a long")
    cols.foreach { c =>
      df.schema(c).dataType match {
        case TimestampType | DateType => ()
        case _: NumericType => ()
        case other => throw new IllegalArgumentException(
          s"z-order column '$c' has unsupported type ${other.simpleString}: " +
            "numeric, timestamp, or date required")
      }
    }
    def numeric(c: String): org.apache.spark.sql.Column =
      df.schema(c).dataType match {
        case TimestampType => unix_micros(col(c)).cast("double")
        case DateType => unix_date(col(c)).cast("double")
        case _ => col(c).cast("double")
      }
    // one tiny driver-side agg for the per-column ranges
    val aggs = cols.flatMap(c => Seq(fmin(numeric(c)), fmax(numeric(c))))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      // min/max are null on an empty frame or an all-null column —
      // fall back to a degenerate (0,1) range: every row (there are
      // none, or all-null) lands in bucket 0 via the row-level coalesce
      val (lo, hi) =
        if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1)) (0.0, 1.0)
        else (row.getDouble(2 * i), row.getDouble(2 * i + 1))
      val span = if (hi > lo) hi - lo else 1.0
      val maxB = (1L << bits) - 1
      coalesce(((numeric(c) - lit(lo)) / lit(span) * lit(maxB.toDouble))
        .cast("long"), lit(0L))
    }
    // interleave: bit i of column j lands at position i*#cols + j
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      cols.indices.foldLeft(acc) { (a, j) =>
        a.bitwiseOR(shiftleft(
          shiftright(buckets(j), i).bitwiseAND(lit(1L)), i * cols.size + j))
      }
    }
  }

  /** Z-ordered parquet write: range-partition + sort by [[zOrderKey]]
    * so every output file and row group owns a tight hyper-rectangle
    * in (cols)-space — selective predicates on ANY of the columns then
    * skip most of the table via footer stats. The multi-column
    * counterpart of the single-column sort-on-write layout (SCALE.md,
    * "Sort-on-write data skipping"); shuffle paid once at write time.
    */
  /** The pre-write z-ordered frame — exposed so PlanAuditSpec can pin
    * the layout plan (range Exchange on `_zkey`, local Sort below the
    * dropping Project): the write relies on Project preserving child
    * ordering after `drop("_zkey")`, which is true today but not a
    * documented optimizer contract — the pin turns a future silent
    * unsort into a CI failure.
    */
  def zOrdered(df: DataFrame, cols: Seq[String],
               numFiles: Int = 128, bits: Int = 12): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("_zkey", zOrderKey(df, cols, bits))
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
  }

  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    numFiles: Int = 128, bits: Int = 12): Unit =
    zOrdered(df, cols, numFiles, bits)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Small-file compaction: rewrite a parquet dataset into
    * ~`targetBytes` files. Continuous ingestion (CorpusStream's
    * per-batch dynamic overwrites, hourly event drops) accretes
    * KB-scale files — one per task per micro-batch — and at 100 TB a
    * scan then pays millions of file opens, tiny row groups, and
    * footer stats too fragmented to skip with. Compaction is the
    * standing maintenance job that repairs this.
    *
    * Sizing comes from the actual on-disk bytes (`spark.read`'s file
    * index), not a row-count guess, so the output lands at target size
    * regardless of schema width or encoding.
    *
    * Two regimes, chosen by `sortCol`:
    *   - None: `coalesce` — a NARROW merge of neighbor files, zero
    *     shuffle; the cheapest possible rewrite when layout doesn't
    *     matter.
    *   - Some(c): `repartitionByRange(c) + sortWithinPartitions(c)` —
    *     one shuffle that simultaneously compacts AND restores the
    *     sort-on-write skipping layout (SCALE.md, "Sort-on-write data
    *     skipping"); fragmented ingest usually destroyed it anyway.
    *
    * Writes to `outPath` then atomically swaps only if `outPath` ==
    * `inPath` is NOT requested — in-place compaction of a live dataset
    * needs a transactional table format; this operator keeps rewrite
    * and swap explicit and separate (write → verify → point readers).
    */
  /** Partition-pruned MERGE: apply a delta to a partitioned parquet
    * table rewriting ONLY the partitions the delta touches — the shape
    * that makes [[graft.operators.Joins.upsert]] viable on a 100 TB
    * table, where "merge then rewrite everything" is a non-starter.
    * Cost ∝ affected-partition bytes + delta, never table size: the
    * base read partition-prunes to the delta's partition values, the
    * merge is the standard broadcast-anti upsert, and the write is a
    * dynamic partition overwrite that replaces exactly those
    * partitions (new partition values insert their directories).
    *
    * Contract: `partitionCol` must be IMMUTABLE per key, the standard
    * constraint for MERGE on a partitioned table — a delta row that
    * moves a key to a new partition value would insert there while the
    * stale row survives unread in its old partition. Delta rows must
    * carry `partitionCol`.
    *
    * The per-partition overwrite is parquet's non-transactional one
    * (same residual as CorpusStream documents): a reader racing the
    * swap of an AFFECTED partition can see it torn — and a failure
    * DURING the write's commit phase is strictly worse: dynamic
    * overwrite replaces affected partition directories one by one, so a
    * crash mid-commit leaves some affected partitions replaced and
    * others stale, with no rollback (the stale ones still hold their
    * pre-merge rows; re-running the same upsert to completion repairs
    * them, since the merge is idempotent for a given delta). Untouched
    * partitions are never written. For read isolation AND atomic
    * publish put the table under [[Versioned]] and merge-then-publish
    * instead — this operator trades that atomicity for rewriting only
    * the affected bytes.
    *
    * Partition values compare as DIRECTORY STRINGS end to end: the
    * base is read with partition-column type inference OFF (the column
    * surfaces as the literal directory string) and the delta's
    * partition column is cast to string before the merge. Without
    * this, inference can remap a string partition value — a directory
    * `part=01` reads back as int 1, the delta's "01" matches no base
    * row, and the write lands in a NEW `part=1` directory while the
    * original survives unread: silent duplication. With it, the
    * directory this operator overwrites is exactly the directory it
    * read. (Residual, documented not fixed: a reader that re-applies
    * lossy inference can still conflate `part=01` with `part=1` if
    * both exist — don't mix writers that disagree on the rendering of
    * a partition value.) The output table's partition column is
    * therefore string-typed on re-read under inference-off readers;
    * inference-on readers see the same types they always did.
    *
    * Null delta partition values are refused loudly — parquet renders
    * them as the `__HIVE_DEFAULT_PARTITION__` directory and no base
    * filter can round-trip that; a MERGE key's partition should never
    * be null.
    *
    * The distinct partition-value collect is delta-sized by contract
    * (one value per touched partition) — the same driver-bound class
    * as the broadcast delta itself. Returns the affected values for
    * observability.
    */
  def upsertPartitioned(spark: org.apache.spark.sql.SparkSession,
                        root: String, updates: DataFrame,
                        keys: Seq[String], partitionCol: String,
                        versionOrder: Option[org.apache.spark.sql.Column] = None)
      : Seq[String] = {
    require(updates.columns.contains(partitionCol),
      s"upsertPartitioned: updates must carry the partition column $partitionCol")
    import org.apache.spark.sql.functions.col
    val affectedRaw = updates.select(col(partitionCol).cast("string"))
      .distinct().collect().map(r => Option(r.getString(0)))
    require(!affectedRaw.contains(None),
      s"upsertPartitioned: null $partitionCol in updates — a null partition " +
        "value cannot be round-tripped through a partition directory; fix the " +
        "delta upstream")
    val affected = affectedRaw.flatten.toSeq.sorted
    // the partition column must come back as the literal directory
    // string (so the isin below matches directories, not inferred
    // re-renderings like "01" → 1 → a phantom part=1 dir). Read with
    // an EXPLICIT schema that pins partitionCol to string — a per-read
    // override, unlike the earlier session-conf toggle which briefly
    // changed partition inference for every concurrent reader in the
    // SparkSession
    val inferred = spark.read.parquet(root).schema
    val pinned = org.apache.spark.sql.types.StructType(inferred.map(f =>
      if (f.name == partitionCol)
        f.copy(dataType = org.apache.spark.sql.types.StringType)
      else f))
    val base = spark.read.schema(pinned).parquet(root)
    val pruned = base.filter(col(partitionCol).isin(affected: _*))
    val updStr = updates.withColumn(partitionCol, col(partitionCol).cast("string"))
    val merged = graft.operators.Joins.upsert(
      pruned.select(updStr.columns.map(col): _*), updStr, keys, versionOrder)
    merged.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(root)
    affected
  }

  def compact(df: DataFrame, inPath: String, outPath: String,
              targetBytes: Long = 128L << 20,
              sortCol: Option[String] = None): Int = {
    require(inPath != outPath,
      "in-place compaction is not atomic on parquet — write aside, then swap")
    val spark = df.sparkSession
    val fs = new Path(inPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listFiles(new Path(inPath), true) match {
      case it =>
        var sum = 0L
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.endsWith(".parquet")) sum += f.getLen
        }
        sum
    }
    writeLaidOut(df, totalBytes, targetBytes, sortCol, SaveMode.Overwrite, outPath)
  }

  /** The compaction layout: `df`, holding `bytes` of parquet, written to
    * `path` as ~`targetBytes` files — range-partitioned and sorted on
    * `sortCol`, or coalesced when there is none. Returns the file count.
    */
  private def writeLaidOut(df: DataFrame, bytes: Long, targetBytes: Long,
                           sortCol: Option[String], mode: SaveMode,
                           path: String): Int = {
    val numFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val out = sortCol match {
      case Some(c) =>
        import org.apache.spark.sql.functions.col
        df.repartitionByRange(numFiles, col(c)).sortWithinPartitions(c)
      case None => df.coalesce(numFiles)
    }
    out.write.mode(mode).parquet(path)
    numFiles
  }

  /** Versioned table root — the manifest-swap recipe that makes
    * [[compact]] (and any full rewrite) safe under CONCURRENT readers
    * without a transactional table format. Layout:
    *
    * {{{
    *   root/
    *     _manifest-00000   # content: "v00000" — highest seq wins
    *     v00000/part-... .parquet
    *     v00001/part-... .parquet  # being written, unreferenced until its manifest lands
    * }}}
    *
    * Every writer takes the same next-version step (next seq, clear an
    * orphan dir, write `v{seq}`, publish its manifest), and a manifest
    * takes one of two shapes. A whole-dir manifest is the one line
    * `vNNNNN` ([[write]], [[snapshot]], and [[compact]], which appends
    * the `#src` lines it carries); a delta manifest whose file list
    * comes out empty falls back to it. A delta manifest is an explicit
    * FILE list (`#f` lines, [[writeDelta]]/[[snapshotDelta]]): a new
    * version writes only its delta's files and references the previous
    * version's for the rest, so publish cost is ∝ delta instead of
    * corpus. Files are shared across manifests, never copied.
    *
    * Invariants that make mid-rewrite reads safe:
    *   - data dirs are IMMUTABLE once their manifest exists: a rewrite
    *     always targets a fresh `v{seq}` dir, never a referenced one
    *     (delta manifests only ADD files in the new version's own dir);
    *   - a manifest is published by writing `.tmp-manifest-{seq}` and
    *     renaming it to `_manifest-{seq}` — a rename to a FRESH name in
    *     the same directory, atomic on POSIX and HDFS, so a reader
    *     listing manifests sees the new one fully written or not at all;
    *   - readers resolve max-seq manifest → dir at scan-set time; a
    *     reader that resolved the OLD version keeps reading a complete,
    *     untouched dir (old versions are retained until [[vacuumVersioned]],
    *     whose `keep` is the reader grace window).
    *
    * So a read concurrent with compaction yields either the old or the
    * new COMPLETE layout — never a partially-written or half-deleted mix.
    * Spec: ShardsSpec "compactVersioned under a concurrent reader".
    *
    * SINGLE-WRITER contract: the isolation proof above covers
    * concurrent READERS only. Two concurrent writers both resolve
    * max-seq and target the same next `v{seq}`: each one's
    * [[clearOrphan]] can delete the other's in-flight data dir (an
    * unpublished dir is indistinguishable from a crash orphan), and
    * the loser of the manifest rename race fails with an IOException
    * after its data may already have been clobbered. Run write/compact/
    * snapshot from ONE maintenance job at a time — the same external
    * coordination contract as [[snapshot]]'s note, and the standard
    * one for non-transactional table maintenance. (A filesystem-level
    * claim marker cannot close this on stores without atomic
    * create-exclusive semantics, so the contract is documented rather
    * than half-enforced.)
    */
  object Versioned {
    private val ManifestPrefix = "_manifest-"

    /** Parsed manifest: data refs (whole dirs and/or individual files,
      * both relative to the root) plus absorbed-source bookkeeping for
      * [[snapshotDelta]]. Two generations share one parser:
      *
      *   - v1 (the original format): a single bare line `vNNNNN` — the
      *     whole dir is the version's data. [[write]], [[snapshot]] and
      *     [[compact]] emit this shape (compact followed by the `#src`
      *     lines it carries), as does a delta publish with no files.
      *   - v2 (delta publish): `#f <relpath>` lines name the version's
      *     data FILES — a new version carries the previous version's
      *     file list plus the delta's freshly-written files, so a
      *     publish WRITES only the delta and REFERENCES the rest
      *     (publish cost ∝ delta, never corpus). `#src <relpath>`
      *     lines record which source files a [[snapshotDelta]] has
      *     absorbed (bookkeeping only — readers ignore them).
      *
      * Unknown `#`-prefixed lines are ignored (forward compatibility).
      */
    private[sources] case class ManifestRefs(dirs: Seq[String],
                                             files: Seq[String],
                                             srcs: Seq[String]) {
      def isEmptyData: Boolean = dirs.isEmpty && files.isEmpty
    }

    private def fs(spark: org.apache.spark.sql.SparkSession, root: String) =
      new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

    private def manifests(spark: org.apache.spark.sql.SparkSession,
                          root: String): Seq[(Int, Path)] = {
      val f = fs(spark, root)
      val rootPath = new Path(root)
      if (!f.exists(rootPath)) Seq.empty
      else f.listStatus(rootPath).toSeq
        .map(_.getPath)
        .filter(_.getName.startsWith(ManifestPrefix))
        .map(p => (p.getName.stripPrefix(ManifestPrefix).toInt, p))
        .sortBy(_._1)
    }

    private def readManifest(spark: org.apache.spark.sql.SparkSession,
                             root: String, p: Path): ManifestRefs = {
      val f = fs(spark, root)
      val in = f.open(p)
      val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                    finally in.close()
      val lines = content.split('\n').map(_.trim).filter(_.nonEmpty).toSeq
      ManifestRefs(
        dirs = lines.filterNot(_.startsWith("#")),
        files = lines.collect { case l if l.startsWith("#f ") => l.stripPrefix("#f ") },
        srcs = lines.collect { case l if l.startsWith("#src ") => l.stripPrefix("#src ") })
    }

    private def refsAt(spark: org.apache.spark.sql.SparkSession,
                       root: String, seq: Int): ManifestRefs = {
      val (_, p) = manifests(spark, root).find(_._1 == seq).getOrElse(
        throw new java.io.FileNotFoundException(
          s"version $seq not published (or vacuumed) under $root"))
      readManifest(spark, root, p)
    }

    /** Part files of a version dir, as root-relative paths. The dir is
      * immutable once its manifest exists, so the listing is stable.
      */
    private def listPartFiles(spark: org.apache.spark.sql.SparkSession,
                              root: String, dirName: String): Seq[String] = {
      val f = fs(spark, root)
      val d = new Path(root, dirName)
      if (!f.exists(d)) Seq.empty
      else f.listStatus(d).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
        .map(p => s"$dirName/${p.getName}").sorted
    }

    /** A version's data refs EXPANDED to file granularity — dir refs
      * become their (immutable) dirs' part-file lists. This is the
      * carried-forward list a delta publish references.
      */
    private def expandedFiles(spark: org.apache.spark.sql.SparkSession,
                              root: String, refs: ManifestRefs): Seq[String] =
      refs.dirs.flatMap(d => listPartFiles(spark, root, d)) ++ refs.files

    /** Absolute scan paths for a version (dirs stay dirs — exactly the
      * legacy read shape; file refs become absolute file paths).
      */
    private def scanPaths(root: String, refs: ManifestRefs): Seq[String] =
      refs.dirs.map(d => s"$root/$d") ++ refs.files.map(fp => s"$root/$fp")

    /** All published version seqs, ascending — the time-travel index. */
    def versions(spark: org.apache.spark.sql.SparkSession,
                 root: String): Seq[Int] =
      manifests(spark, root).map(_._1)

    /** Read a SPECIFIC published version (time travel — the other half of
      * the retention story: `vacuum`'s `keep` bounds how far back this
      * reaches). Resolves through the version's own manifest, same as
      * [[read]], so an unpublished or vacuumed seq fails loudly rather
      * than scanning a half-written dir.
      */
    def readAt(spark: org.apache.spark.sql.SparkSession, root: String,
               seq: Int): DataFrame = {
      val refs = refsAt(spark, root, seq)
      require(!refs.isEmptyData, s"version $seq under $root has no data refs")
      spark.read.schema(storedSchema(spark, root, refs))
        .parquet(scanPaths(root, refs): _*)
    }

    /** The schema `spark.read.parquet` would infer for a version, read
      * in this process, without a Spark job, from the Spark schema
      * Spark's parquet writer stores in every footer (the row-metadata
      * key). Inference reads the same key from the version's first data
      * file, but in a Spark job — one job per versioned read, for files
      * this store wrote itself. The reader makes the schema nullable
      * either way, so the explicit schema reads identically
      * (VersionedDeltaSpec pins it, nullability included). Every file of
      * a version holds one schema (the scan unions file lists), so the
      * first file's is the version's. Every write path of the store goes
      * through Spark's parquet writer, so a file without the key is not
      * the store's and fails the read.
      */
    private def storedSchema(spark: org.apache.spark.sql.SparkSession,
                             root: String,
                             refs: ManifestRefs): StructType = {
      val first = refs.dirs.iterator.flatMap(d => listPartFiles(spark, root, d))
        .nextOption().orElse(refs.files.headOption)
      require(first.isDefined, s"versioned read under $root lists no data files")
      val path = new Path(root, first.get)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          path, spark.sparkContext.hadoopConfiguration))
      val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")
        finally reader.close()
      require(json != null, s"$path carries no Spark schema in its footer")
      DataType.fromJson(json).asInstanceOf[StructType]
    }

    /** The live version's seq and data dir, from the max-seq manifest.
      * Defined for single-dir manifests ([[write]]/[[compact]]/
      * [[snapshot]] output); a multi-file delta manifest has no single
      * data dir — use [[read]]/[[readAt]] there (this accessor throws
      * loudly rather than inventing one).
      */
    def current(spark: org.apache.spark.sql.SparkSession,
                root: String): Option[(Int, String)] =
      manifests(spark, root).lastOption.map { case (seq, p) =>
        val refs = readManifest(spark, root, p)
        require(refs.dirs.size == 1 && refs.files.isEmpty,
          s"version $seq under $root is a multi-file delta manifest " +
            "with no single data dir — read it via read/readAt")
        (seq, s"$root/${refs.dirs.head}")
      }

    /** Publish version `seq`'s manifest: `files` as `#f` lines, or, when
      * there are none, the version's own dir (the whole-dir shape, also
      * the empty-table one: spark.read.parquet of zero paths throws),
      * then `srcs` as `#src` lines.
      */
    private def publishRefs(spark: org.apache.spark.sql.SparkSession,
                            root: String, seq: Int,
                            files: Seq[String], srcs: Seq[String]): Unit = {
      val dataLines =
        if (files.nonEmpty) files.map(fp => s"#f $fp") else Seq(f"v$seq%05d")
      val content = (dataLines ++ srcs.map(s => s"#src $s")).mkString("\n")
      val f = fs(spark, root)
      val tmp = new Path(root, f".tmp-manifest-$seq%05d")
      // self-heal: a crash between create and rename leaves a stale tmp
      // for this seq; it was never referenced, so retrying the publish
      // must replace it rather than wedge on create(overwrite = false)
      if (f.exists(tmp)) f.delete(tmp, false)
      val out = f.create(tmp, false)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      val fin = new Path(root, f"$ManifestPrefix$seq%05d")
      if (!f.rename(tmp, fin))
        throw new java.io.IOException(s"manifest publish failed: $tmp -> $fin")
    }

    /** Self-heal before writing version `seq`: a `v{seq}` dir with no
      * manifest is an orphan from a crashed earlier attempt (the seq is
      * always max published + 1, and a dir becomes immutable only once
      * its manifest lands) — never referenced by any reader, so the
      * retry deletes and rewrites it instead of wedging forever on
      * ErrorIfExists. Without this, one SIGKILL mid-write would make
      * every subsequent maintenance run of the standing job fail.
      */
    private def clearOrphan(spark: org.apache.spark.sql.SparkSession,
                            root: String, seq: Int): Unit = {
      val f = fs(spark, root)
      val dir = new Path(root, f"v$seq%05d")
      if (f.exists(dir)) f.delete(dir, true): Unit
    }

    /** The step every writer takes to the next version: take the next
      * seq, clear an orphan dir at it ([[clearOrphan]]), let `fill`
      * write the version's data dir, then publish its manifest. With
      * `carried` the manifest lists those files plus the new dir's part
      * files; without, it names the whole dir. `srcs` are the absorbed
      * source files ([[snapshotDelta]]'s bookkeeping). The data write
      * completes BEFORE the manifest rename, so the version is never
      * referenced while partial. Returns the new seq.
      */
    private def nextVersion(spark: org.apache.spark.sql.SparkSession,
                            root: String, carried: Option[Seq[String]],
                            srcs: Seq[String])(fill: String => Unit): Int = {
      val seq = manifests(spark, root).lastOption.map(_._1 + 1).getOrElse(0)
      clearOrphan(spark, root, seq)
      val dir = f"v$seq%05d"
      fill(s"$root/$dir")
      publishRefs(spark, root, seq,
        carried.fold(Seq.empty[String])(_ ++ listPartFiles(spark, root, dir)), srcs)
      seq
    }

    /** The live version's manifest, if any. */
    private def liveRefs(spark: org.apache.spark.sql.SparkSession,
                         root: String): Option[ManifestRefs] =
      manifests(spark, root).lastOption.map { case (_, p) => readManifest(spark, root, p) }

    /** Write `df` as the next version and publish its manifest. Returns
      * the new seq. The data write completes BEFORE the manifest rename,
      * so the version is never referenced while partial.
      */
    def write(df: DataFrame, root: String): Int =
      nextVersion(df.sparkSession, root, None, Nil)(
        df.write.mode(SaveMode.ErrorIfExists).parquet(_))

    /** Read the live version. Scan set resolves NOW: the returned frame
      * keeps reading this complete layout even if a newer version lands.
      */
    def read(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame = {
      val (seq, _) = manifests(spark, root).lastOption.getOrElse(
        throw new java.io.FileNotFoundException(
          s"no published version under $root"))
      readAt(spark, root, seq)
    }

    /** Write `delta` as the next version's ONLY new data and publish a
      * manifest that references the previous version's files plus the
      * delta's — the delta-proportional publish for append-only rolls
      * (a corpus that only accretes, an edge ledger under pure-add
      * drops). Publish cost ∝ delta at any corpus size, where [[write]]
      * rewrites the full frame. The previous version's files are never
      * touched (they stay immutable and shared across manifests), so
      * time travel, the concurrent-reader guarantee, and [[vacuum]]'s
      * grace window all hold unchanged — vacuum is reachability-based
      * and keeps a dir alive while ANY kept manifest references its
      * files. [[compact]] remains the maintenance pass that folds a
      * long delta chain back into one dir. Same single-writer contract
      * as every other mutation here.
      */
    def writeDelta(delta: DataFrame, root: String): Int = {
      val spark = delta.sparkSession
      val prev = liveRefs(spark, root)
      nextVersion(spark, root,
        Some(prev.toSeq.flatMap(expandedFiles(spark, root, _))),
        prev.toSeq.flatMap(_.srcs))(
        delta.write.mode(SaveMode.ErrorIfExists).parquet(_))
    }

    /** [[Sinks.compact]] against a versioned root: compacts the live
      * version into the next one and publishes it. Readers mid-flight
      * stay on the old complete layout; new readers get the new one.
      * After a [[writeDelta]]/[[snapshotDelta]] chain this is the
      * maintenance pass that folds the accumulated delta files back
      * into ~targetBytes files (and lets [[vacuum]] reclaim the old
      * dirs once they fall out of the grace window). Absorbed-source
      * bookkeeping is carried forward so a subsequent [[snapshotDelta]]
      * keeps absorbing only genuinely new source files.
      */
    def compact(spark: org.apache.spark.sql.SparkSession, root: String,
                targetBytes: Long = 128L << 20,
                sortCol: Option[String] = None): Int = {
      val refs = liveRefs(spark, root).getOrElse(
        throw new java.io.FileNotFoundException(s"no published version under $root"))
      val f = fs(spark, root)
      val totalBytes = expandedFiles(spark, root, refs)
        .map(fp => f.getFileStatus(new Path(root, fp)).getLen).sum
      val df = read(spark, root)
      // dir-style manifest (current() keeps working) + carried srcs
      nextVersion(spark, root, None, refs.srcs)(
        writeLaidOut(df, totalBytes, targetBytes, sortCol, SaveMode.ErrorIfExists, _): Unit)
    }

    /** Publish a compacted SNAPSHOT of an external directory as this
      * root's next version — the maintenance step that pairs with a
      * continuously-appending sink (CorpusStream's `accepted/` accretes
      * per-batch small files, and its documented caveat is that readers
      * of the LIVE sink can observe a torn batch between a crash and
      * its replay). Consumers that read through the versioned root
      * instead see only complete, compacted snapshots: the stream keeps
      * sole ownership of the live dir, this step copies-compacts it
      * aside, and the manifest swap is atomic. Returns the new seq.
      *
      * Coordination contract: call this while no writer is COMMITTING
      * into `srcDir` — for the AvailableNow ingest used here, between
      * drains (each `ingest(...).awaitTermination()` returns with every
      * batch fully committed), which is how a maintenance tick naturally
      * interleaves anyway. A snapshot racing a mid-commit batch would
      * list a subset of that batch's part files and pin the partial
      * state into an immutable version — the source dir has no manifest
      * of its own to make the listing atomic (that is this API's job,
      * one level up). Same residual caveat as the ingest documents:
      * hard isolation against a concurrently-committing writer needs a
      * transactional table format on the SOURCE side too.
      */
    def snapshot(spark: org.apache.spark.sql.SparkSession, srcDir: String,
                 root: String, targetBytes: Long = 128L << 20,
                 sortCol: Option[String] = None): Int = {
      nextVersion(spark, root, None, Nil)(
        Sinks.compact(spark.read.parquet(srcDir), srcDir, _, targetBytes, sortCol): Unit)
    }

    /** Recursive srcDir-relative parquet file listing — the unit of
      * [[snapshotDelta]]'s absorbed-source bookkeeping.
      */
    private def listSrcFiles(spark: org.apache.spark.sql.SparkSession,
                             srcDir: String): Seq[String] = {
      val f = new Path(srcDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val base = new Path(srcDir)
      if (!f.exists(base)) return Seq.empty
      val baseUri = f.getFileStatus(base).getPath.toUri
      val it = f.listFiles(base, true)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet"))
          out += baseUri.relativize(st.getPath.toUri).getPath
      }
      out.toSeq.sorted
    }

    /** [[snapshot]] with DELTA-PROPORTIONAL cost: compacts only the
      * source files not yet absorbed by an earlier snapshot of this
      * root (tracked as `#src` manifest lines) into the next version's
      * dir, and REFERENCES the previous version's data files for the
      * rest. The continuous-cadence publish step this repairs used to
      * rewrite the full corpus per cycle (publish_sec riding the corpus
      * in CADENCE.json); now a 125k-doc drop publishes 125k docs' worth
      * of bytes no matter how large the corpus has grown, and
      * [[compact]]+[[vacuum]] remain the occasional maintenance passes
      * that fold the file list back down.
      *
      * Contracts (on top of [[snapshot]]'s coordination contract):
      *   - the source must be APPEND-ONLY at file granularity between
      *     snapshots — absorbed files must not be rewritten or removed
      *     (for the AvailableNow ingest used here that holds between
      *     drains: only an uncommitted batch ever replays, and an
      *     uncommitted batch's files were never absorbed);
      *   - one schema across versions (the scan unions file lists).
      *
      * First call on an empty root — or on a root whose latest
      * manifest predates source tracking (a legacy [[snapshot]]) —
      * falls back to one full compaction and starts tracking from
      * there. A call that finds no new source files publishes a new
      * manifest referencing the previous version unchanged (O(1)).
      * Partitioned sources keep their partition columns (files are
      * read under `basePath = srcDir`), materialized as plain columns
      * in the versioned layout exactly like [[snapshot]]'s compaction
      * does. Returns the new seq.
      */
    def snapshotDelta(spark: org.apache.spark.sql.SparkSession, srcDir: String,
                      root: String, targetBytes: Long = 128L << 20,
                      sortCol: Option[String] = None): Int = {
      val prevRefs = liveRefs(spark, root)
      val srcFiles = listSrcFiles(spark, srcDir)
      val legacyPrev = prevRefs.exists(r => r.srcs.isEmpty && !r.isEmptyData)
      if (prevRefs.isEmpty || legacyPrev)
        // no absorbed-source bookkeeping to diff against: one full
        // snapshot that STARTS the bookkeeping (legacy manifests can't
        // say what they already absorbed — re-absorbing would duplicate)
        return nextVersion(spark, root, Some(Nil), srcFiles)(
          Sinks.compact(spark.read.parquet(srcDir), srcDir, _, targetBytes, sortCol): Unit)
      val absorbed = prevRefs.get.srcs.toSet
      val gone = absorbed -- srcFiles.toSet
      require(gone.isEmpty,
        s"snapshotDelta: ${gone.size} absorbed source file(s) vanished from " +
          s"$srcDir (e.g. ${gone.take(3).mkString(", ")}) — the source must " +
          "be append-only at file granularity between snapshots; a rewritten " +
          "source needs a full snapshot() to re-baseline")
      val newSrc = srcFiles.filterNot(absorbed)
      val carried = Some(expandedFiles(spark, root, prevRefs.get))
      // nothing new: publish a version referencing the previous one
      if (newSrc.isEmpty)
        return nextVersion(spark, root, carried, prevRefs.get.srcs)(_ => ())
      val srcFs = new Path(srcDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val deltaBytes = newSrc
        .map(fp => srcFs.getFileStatus(new Path(srcDir, fp)).getLen).sum
      val df = spark.read.option("basePath", srcDir)
        .parquet(newSrc.map(fp => s"$srcDir/$fp"): _*)
      nextVersion(spark, root, carried, prevRefs.get.srcs ++ newSrc)(
        writeLaidOut(df, deltaBytes, targetBytes, sortCol, SaveMode.ErrorIfExists, _): Unit)
    }

    /** Drop all but the newest `keep` versions (manifests + any data
      * dirs no kept version still references). `keep` is the reader
      * grace window: never vacuum below 2 while readers may hold
      * last-version scan sets.
      *
      * Reachability, not seq-number, decides dir deletion: a delta
      * manifest ([[writeDelta]]/[[snapshotDelta]]) references files in
      * EARLIER versions' dirs, so `v00000` may stay on disk long after
      * manifest 0 is vacuumed — it is reclaimed only once a [[compact]]
      * folds the chain into a fresh dir and that compacted version ages
      * past the grace window. Returns the number of manifests removed
      * (the `versions()` count delta, as before).
      */
    def vacuum(spark: org.apache.spark.sql.SparkSession, root: String,
               keep: Int = 2): Int = {
      require(keep >= 1, "keep >= 1")
      val ms = manifests(spark, root)
      val f = fs(spark, root)
      val stale = ms.dropRight(keep)
      val kept = ms.takeRight(keep)
      stale.foreach { case (_, p) => f.delete(p, false): Unit }
      // dirs still reachable from any kept manifest survive
      val keptRefs = kept.map { case (_, p) => readManifest(spark, root, p) }
      val liveDirs = (keptRefs.flatMap(_.dirs) ++
        keptRefs.flatMap(_.files).map(_.takeWhile(_ != '/'))).toSet
      f.listStatus(new Path(root)).toSeq.map(_.getPath)
        .filter(p => p.getName.matches("v\\d{5}") && !liveDirs(p.getName))
        // never touch an in-flight dir for the NEXT seq (an orphan or a
        // write racing this maintenance pass in the same job)
        .filter(p => kept.lastOption.forall { case (maxSeq, _) =>
          p.getName.stripPrefix("v").toInt <= maxSeq })
        .foreach(p => f.delete(p, true): Unit)
      stale.size
    }
  }

  /** K5: console report — formatted summary rows (the reference's primary
    * human output in DOP VP Compare.py:188-223). Small frames only.
    */
  def consoleReport(df: DataFrame, title: String, maxRows: Int = 100): String = {
    val header = df.columns.mkString(" | ")
    val lines = df.limit(maxRows).collect().map(_.toSeq.map {
      case null => "NULL"
      case d: Double => f"$d%,.2f"
      case x => x.toString
    }.mkString(" | "))
    val out = (Seq(s"== $title ==", header) ++ lines).mkString("\n")
    println(out)
    out
  }
}
