package graft

import graft.sources.Sinks
import org.apache.spark.sql.functions._

/** Regenerates the golden CSVs for the `no_oracle` driver queries
  * (engine-specific hashes / sketches / stubs that DuckDB cannot mirror).
  * Run deliberately — `sbt "Test/runMain graft.GoldenGen"` — after an
  * INTENDED behavior change, then review the diff like any other code
  * change. EntrySpec compares each query's sf0.01 output against these.
  */
object GoldenGen {

  /** Queries without a DuckDB oracle; all deterministic by construction
    * (hash-seeded signatures, plan-time hyperplanes).
    */
  val goldenQueries: Seq[String] = Seq(
    "q_minhash_pairs", "q_simhash_pairs", "q_lang_id",
    "q_ann_ivf", "q_approx_profile", "q_curate_lsh", "q_cross_dedup",
    "q_percentiles_approx", "q_hll_rollup", "q_compress_ratio")

  val goldenDir = "src/test/resources/golden"
  val sfDir = "/root/testdata/sf0.01"

  def main(args: Array[String]): Unit = {
    val spark = Engine.session("graft-golden", 8, dataDir = Some(sfDir))
    goldenQueries.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val allString = df.select(df.columns.map(c => col(c).cast("string").as(c)): _*)
      Sinks.writeSingleCsv(allString, s"$goldenDir/$name.csv")
      println(s"[golden] wrote $name")
    }
    spark.stop()
  }
}
