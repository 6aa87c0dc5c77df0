package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Verify keeps the INT96 write default DELIBERATELY, unlike Engine:
    * the driver's oracle comparator reads these dumps with pandas,
    * which maps annotated micros (isAdjustedToUTC=true) to tz-AWARE
    * dtypes and then refuses naive comparisons. INT96 reads back
    * tz-naive. Stats don't matter on one-shot correctness dumps.
    */
  private[graft] val confOverrides: Map[String, String] =
    Map("spark.sql.parquet.outputTimestampType" -> "INT96")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: restrict to named queries (dev iteration;
    // the driver always passes exactly two args → full dump)
    val only = args.drop(2).toSet
    // the bench's session (same plans, same execution paths — the
    // non-WSCG fallback must stay value-identical, and this is where
    // that's proven) plus the INT96 write override above
    val spark = Engine.session("graft-verify", extraConfs = confOverrides,
      dataDir = Some(sfDir))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Release intra-query persists (panel/index caches in the ANN
      // family): a 180-query dump would otherwise accumulate cached
      // blocks for the whole session (Bench clears per pass already).
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
