package graft.operators

import org.apache.spark.sql.DataFrame

/** Parallelism repair for compute-dense tables behind unsplittable
  * scans (guide §2.5 "input skew: one huge unsplittable file ...
  * repartition immediately after the read").
  *
  * The driver's small-SF tables are single-row-group parquet files: a
  * parquet file only splits at row-group boundaries, so every scan
  * yields ONE task per file and all pre-exchange work — shingling,
  * hashing, signature folds, JSON parsing, codec work — serializes on
  * one core of 32 (measured at sf0.1: q_jaccard_pairs' map stage ran
  * 1.2 s in one task; behind a repartition the same pipeline ran
  * 2.55 s → 1.7 s end to end). `localCheckpoint`ed frames inherit the
  * parent's partitioning, so whole version chains stay serial too.
  *
  * [[fanOutSmallScan]] round-robin-repartitions to a BYTE-SIZED width
  * — one partition per [[fanBytesPerPartition]] of on-disk input,
  * clamped to [2, defaultParallelism] — but ONLY when the scan cannot
  * reach that width by itself (fewer files than the target) AND the
  * table is small enough that the exchange is guaranteed cheap
  * (≤ `maxBytes`, default 1 GiB). At production scale a corpus scan
  * carries hundreds of splits and this is a no-op decided from file
  * metadata alone — no planning, no I/O.
  *
  * Width is sized from bytes, not pinned at the core count, for the
  * same reason as `Engine.initialShufflePartitions` (§2.2): the r18
  * flat `defaultParallelism` fan put a ~600 KB documents table into 32
  * partitions of ~19 KB — 32 task launches plus a 32-block exchange
  * for per-task work too small to amortize them. The r18 8-core
  * driver run exposed it: every kept-wide query ran FASTER at 8 cores
  * (width 8) than at 32. A/B over the 49-query wide family at sf0.1
  * (divisors 16 KiB…2 MiB, two runs each, per-query min): flat-32
  * 60.1 s; 2 MiB (width≈2) 63.0 s — both extremes lose; the
  * 32-128 KiB band wins, best at 128 KiB = 51.4 s (−14%). The win
  * concentrates in multi-consumer queries (both-curation-paths
  * reports re-pay the scan+exchange per consumer: q_curate_lsh
  * 5.1→3.9); the single-pass pair-explode queries mildly prefer full
  * width (q_jaccard_pairs 1.32→1.52) — the global 128 KiB default
  * takes that documented trade. At production scale the rule is
  * identical (no-op path).
  *
  * Always on. Re-measured on 4 cores at sf0.1 over the 49 queries that
  * call a `*Wide` loader, fan against the raw scans (three interleaved
  * fresh-JVM Bench runs per arm, BASELINE.md "Layout policy"): total
  * best-of-two 38.9 s wide vs 49.8 s raw (−22 %, every pair won), 41
  * of 49 queries faster wide. The fan is a no-op at sf1 and above:
  * `ScaleData` writes ≥ 10 files per table, more than the width cap.
  *
  * Round-robin under `spark.sql.execution.sortBeforeRepartition`
  * (default) keeps row→partition assignment deterministic under task
  * retries; every engine query is value-deterministic (total-order
  * sorts, order-free DECIMAL aggregation), so results are
  * partition-invariant.
  *
  * Apply to tables whose consumers are compute-dense (documents,
  * embeddings, events): for wide scan→aggregate tables the extra
  * exchange is a measured net LOSS (lineitem q1-style agg 0.31 s →
  * 0.46 s — partial aggregation already compresses map-side inside
  * the scan task), so lineitem/orders keep their raw scans.
  */
object Partitioning {
  /** Input bytes per fan-out partition. See the width-sizing
    * rationale above.
    */
  private val fanBytesPerPartition: Long = 128L << 10

  /** The pure width rule: ceil(bytes / fanBytesPerPartition) clamped
    * to [2, cpus] — the cap wins, so a 1-core session never fans out.
    * Exposed for the spec.
    */
  private[graft] def fanWidth(cpus: Int, bytes: Long): Int = {
    val per = fanBytesPerPartition
    math.min(cpus.toLong, math.max(2L, (bytes + per - 1) / per)).toInt
  }

  def fanOutSmallScan(df: DataFrame, path: String,
                      maxBytes: Long = 1L << 30): DataFrame = {
    val cpus = df.sparkSession.sparkContext.defaultParallelism
    val (files, bytes) = scanFootprint(path)
    if (files > 0 && bytes <= maxBytes) {
      val want = fanWidth(cpus, bytes)
      if (files < want) df.repartition(want) else df
    } else df
  }

  /** (regular file count, total bytes) under `path` — a file counts as
    * one scan slot (single-row-group parquet does not split further).
    */
  private[graft] def scanFootprint(path: String): (Long, Long) =
    try {
      val p = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.isRegularFile(p))
        (1L, java.nio.file.Files.size(p))
      else if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.walk(p)
        try {
          var n = 0L; var b = 0L
          val it = s.iterator()
          while (it.hasNext) {
            val f = it.next()
            if (java.nio.file.Files.isRegularFile(f) &&
                !f.getFileName.toString.startsWith("_") &&
                !f.getFileName.toString.startsWith(".")) {
              n += 1; b += java.nio.file.Files.size(f)
            }
          }
          (n, b)
        } finally s.close()
      } else (0L, 0L)
    } catch { case _: Throwable => (0L, 0L) }
}
