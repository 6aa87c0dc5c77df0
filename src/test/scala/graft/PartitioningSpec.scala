package graft

import graft.operators.Partitioning
import org.apache.spark.sql.functions._

/** Pins `Partitioning.fanOutSmallScan` — the parallelism repair behind
  * `Tables.documentsWide`/`embeddings`: a single-row-group parquet
  * file yields a one-task scan, so compute-dense full-corpus passes
  * must be repartitioned to the session parallelism; the decision is
  * file-metadata-only and must be a NO-OP for large/multi-file inputs
  * (production scans already carry enough splits) and for missing
  * paths. Results must be partition-invariant.
  */
class PartitioningSpec extends SparkSpec {

  test("small single-file scan fans out to the byte-sized width") {
    val docs = Tables.documents(spark, sf)
    // the byte total the decision reads — right for a single-file and
    // a directory dataset alike
    val (_, bytes) = Partitioning.scanFootprint(s"$sf/documents.parquet")
    val wide = Partitioning.fanOutSmallScan(docs, s"$sf/documents.parquet")
    assert(wide.rdd.getNumPartitions ==
      Partitioning.fanWidth(spark.sparkContext.defaultParallelism, bytes),
      "single-split scan was not repartitioned to the byte-sized width")
    // value-identity: same rows either way
    assert(wide.exceptAll(docs).isEmpty && docs.exceptAll(wide).isEmpty,
      "fanOut changed the row multiset")
  }

  test("fanWidth: floor 2, linear in bytes, capped at the core count") {
    // floor: even a 1-byte table fans to 2 (never 0/1 — the repair must
    // actually add parallelism when it fires)
    assert(Partitioning.fanWidth(32, 1L) == 2)
    // linear region: one partition per 128 KiB (ceil)
    assert(Partitioning.fanWidth(32, 128L << 10) == 2)
    assert(Partitioning.fanWidth(32, (128L << 10) * 10) == 10)
    assert(Partitioning.fanWidth(32, (128L << 10) * 10 + 1) == 11)
    // cap: width never exceeds the session parallelism
    assert(Partitioning.fanWidth(32, 1L << 30) == 32)
    assert(Partitioning.fanWidth(8, 1L << 30) == 8)
    // the cap wins over the floor: a 1-core session never fans out
    assert(Partitioning.fanWidth(1, 1L << 30) == 1)
  }

  test("no-op when the table exceeds the byte cap or path is missing") {
    val docs = Tables.documents(spark, sf)
    val capped = Partitioning.fanOutSmallScan(docs,
      s"$sf/documents.parquet", maxBytes = 1L)
    assert(capped eq docs, "byte cap did not suppress the repartition")
    val missing = Partitioning.fanOutSmallScan(docs, "/nonexistent-dir-xyz")
    assert(missing eq docs, "missing path must be a no-op")
  }

  test("documentsWide ≡ documents row-for-row") {
    val a = Tables.documentsWide(spark, sf).orderBy("doc_id")
    val b = Tables.documents(spark, sf).orderBy("doc_id")
    assert(a.collect().toSeq == b.collect().toSeq)
  }
}
