package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.streaming.CorpusStream

/** Exactly-once restart proof for the corpus-ingestion stream AT
  * VOLUME: CorpusStreamSpec drives kill-points on a 6-doc fixture;
  * this probe replays the same kills over the sf-dir documents table
  * (50k docs at sf1) and measures recovery wall time — the evidence
  * that the per-batch dynamic-overwrite idempotence holds when a batch
  * is thousands of files' worth of signatures, not six rows.
  *
  * Crash points replayed (CorpusStream scaladoc's replay contract):
  *   B — all three sinks written, checkpoint commit marker lost: the
  *       replay re-screens WITH its own signatures already in the
  *       index; the batch-partition exclusion must make it a no-op.
  *   A — commit marker lost AND the batch's index partition torn: the
  *       replay must rewrite exactly that partition.
  *
  * State equality is asserted on all three sinks via order-independent
  * (count, Σ xxhash64) checksums computed in Spark — no driver-side
  * collect of data-sized frames.
  *
  * Usage: `runMain graft.CorpusRecoveryProbe <sfDir> [drops]`.
  */
object CorpusRecoveryProbe {

  private def rmrf(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.isDirectory) f.listFiles.foreach(c => rmrf(c.getPath))
    f.delete()
    // local-FS checksum sibling: a stale .crc makes the replay's
    // rename-commit fail as a bogus "concurrent checkpoint use"
    val crc = new java.io.File(f.getParentFile, s".${f.getName}.crc")
    if (crc.exists()) crc.delete(): Unit
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CorpusRecoveryProbe <sfDir> [drops]")
    val sfDir = args(0)
    val drops = if (args.length > 1) args(1).toInt else 4
    val spark = Engine.session("graft-corpusrecovery")
    spark.sparkContext.setLogLevel("WARN")

    val docsDir = java.nio.file.Files.createTempDirectory("crp-docs").toString
    val stateDir = java.nio.file.Files.createTempDirectory("crp-state").toString

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val nDocs = docs.count()
    for (i <- 0 until drops) {
      docs.filter(col("doc_id") % drops === i).coalesce(1)
        .write.parquet(s"$docsDir/d$i")
      Thread.sleep(30) // distinct mtimes → deterministic drop order
    }
    val schema = spark.read.parquet(s"$docsDir/d0").schema

    def drain(): Double = {
      val t0 = System.nanoTime()
      CorpusStream.ingest(spark, s"$docsDir/*/", schema, stateDir,
        threshold = 0.5, maxFilesPerTrigger = 1).awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }

    /** (rows, Σxxhash64) per sink — order-independent, executor-side. */
    def sinkState(): Seq[(Long, String)] = Seq(
      spark.read.parquet(s"$stateDir/accepted").select("doc_id", "ingest_batch"),
      spark.read.parquet(s"$stateDir/band_index")
        .select("doc", "band", "bucket", "ingest_batch"),
      spark.read.parquet(s"$stateDir/dup_pairs")
        .select("new_id", "corpus_id", "kind", "batch_id")
    ).map { df: DataFrame =>
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col): _*).cast(DecimalType(38, 0)))).head()
      (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
    }

    val ingestSec = drain()
    val clean = sinkState()
    val lastBatch = drops - 1

    // Crash B: commit marker lost after completed writes
    rmrf(s"$stateDir/_checkpoint/commits/$lastBatch")
    val recoverBSec = drain()
    val afterB = sinkState()
    require(afterB == clean,
      s"replay after lost commit marker diverged: $afterB vs $clean")

    // Crash A: marker lost AND the batch's index partition torn
    rmrf(s"$stateDir/_checkpoint/commits/$lastBatch")
    rmrf(s"$stateDir/band_index/ingest_batch=$lastBatch")
    val recoverASec = drain()
    val afterA = sinkState()
    require(afterA == clean,
      s"replay after torn index partition diverged: $afterA vs $clean")

    val accepted = clean.head._1
    println(f"""{"sf":"$sfDir","n_docs":$nDocs,"drops":$drops,"accepted":$accepted,"ingest_sec":$ingestSec%.3f,"recover_commit_lost_sec":$recoverBSec%.3f,"recover_torn_index_sec":$recoverASec%.3f}""")
    spark.stop()
  }
}
