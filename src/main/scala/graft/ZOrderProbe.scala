package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sinks

/** Measures the z-order layout against the single-column sort for a
  * TWO-predicate query: `l_shipdate` in one year AND `l_partkey` in a
  * narrow range. The date-sorted layout prunes only the date (reads
  * the whole year); the z-ordered layout owns tight
  * (shipdate × partkey) hyper-rectangles per file, so both predicates
  * prune together. Footer row-group overlap is the structural
  * evidence (printed by the companion python analysis in SCALE.md);
  * this probe prints the timings and writes both layouts.
  *
  * Usage: `runMain graft.ZOrderProbe <sfDir>`.
  */
object ZOrderProbe {

  def query(l: DataFrame): DataFrame =
    l.filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
             col("l_shipdate") <  lit("1996-01-01").cast("timestamp") &&
             col("l_partkey").between(1000, 2999))
      .agg(functions.Compat.exactSum(
        col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n"))

  private def bestOfTwo(mk: () => DataFrame): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      mk().collect(): Unit
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** Dimensionality curve (round 11): z-order the SAME table on 2, 3
    * and 4 columns and measure, from per-file column ranges (the exact
    * numbers parquet footer stats expose to a stats-driven reader), how
    * much each layout prunes for
    *   - the fixed two-predicate query (shipdate year × partkey range) —
    *     showing the DILUTION every extra interleaved dimension costs a
    *     query that doesn't filter on it, and
    *   - the matching all-dimensions query — showing what the extra
    *     dimensions buy when they ARE filtered.
    * Each added dimension halves the per-dim resolution of a fixed-width
    * Morton key's file hyper-rectangles (12 bits/dim here, files split
    * along the top interleaved bits), so the 2-pred pruning is expected
    * to degrade geometrically; this probe records WHERE. Emits one JSON
    * line and writes `ZORDER_CURVE.json` in cwd (cited from SCALE.md).
    */
  def curve(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.Column
    val base = Tables.lineitem(spark, sfDir)
    val total = base.count()
    // ~1%-selective per extra dim where possible (suppkey range scales
    // with sf; quantity is 1..50 so 10% is the floor)
    val maxSupp = base.agg(max("l_suppkey")).head.getLong(0)
    val suppHi = math.max(maxSupp / 100, 1L)
    // predicate = [lo, hiExcl) interval per column; the probe query is
    // the conjunction, and file-level skippability is pure interval
    // arithmetic on the per-file [min, max] span (what footers carry)
    case class P(c: String, lo: Column, hiExcl: Column) {
      def pred: Column = col(c) >= lo && col(c) < hiExcl
      def touches(loF: Column, hiF: Column): Column = hiF >= lo && loF < hiExcl
    }
    val preds = Seq(
      P("l_shipdate", lit("1995-01-01").cast("timestamp"),
        lit("1996-01-01").cast("timestamp")),
      P("l_partkey", lit(1000L), lit(3000L)),
      P("l_suppkey", lit(1L), lit(suppHi + 1L)),
      P("l_quantity", lit(1L), lit(6L)))
    // what a footer-stats reader must touch: files whose per-column
    // [min,max] span intersects every predicate's interval — computed
    // from the written files themselves (the same values their footers
    // carry), so this is reader-independent structural evidence
    def touch(path: String, ps: Seq[P]): (Long, Long, Long, Long) = {
      val perFile = spark.read.parquet(path)
        .groupBy(input_file_name().as("_f"))
        .agg(count(lit(1)).as("_n"),
          ps.flatMap(p => Seq(min(col(p.c)).as(s"_lo_${p.c}"),
            max(col(p.c)).as(s"_hi_${p.c}"))): _*)
      val mustTouch = ps.map(p =>
        p.touches(col(s"_lo_${p.c}"), col(s"_hi_${p.c}"))).reduce(_ && _)
      val t = perFile.agg(count(lit(1)).as("nf"), sum("_n").as("nr"),
        count(when(mustTouch, 1)).as("tf"),
        coalesce(sum(when(mustTouch, col("_n"))), lit(0L)).as("tr")).head
      (t.getLong(2), t.getLong(0), t.getLong(3), t.getLong(1))
    }
    val rows = Seq(2, 3, 4).map { dims =>
      val zcols = preds.take(dims).map(_.c)
      val path = LayoutProbe.sortedLayoutPath(sfDir)
        .replace("_sorted_", s"_zcurve${dims}_")
      val t0 = System.nanoTime()
      Sinks.writeZOrdered(base, path, zcols, numFiles = 128)
      val wSec = (System.nanoTime() - t0) / 1e9
      val (f2, nf, r2, nr) = touch(path, preds.take(2))
      val (fm, _, rm, _) = touch(path, preds.take(dims))
      // correctness: the 2-pred aggregate matches the plain layout
      val a = query(spark.read.parquet(path)).collect().toSeq.toString
      val b = query(base).collect().toSeq.toString
      require(a == b, s"layout dims=$dims disagrees: $a vs $b")
      println(f"[zcurve] dims=$dims write=$wSec%.1f s 2-pred: $f2/$nf files ${r2 * 100.0 / nr}%.2f%% rows; matching: $fm files ${rm * 100.0 / nr}%.2f%% rows")
      f"""{"dims":$dims,"zcols":${zcols.mkString("[\"", "\",\"", "\"]")},"write_sec":$wSec%.1f,"files_total":$nf,"q2_files":$f2,"q2_rows_frac":${r2.toDouble / nr}%.4f,"qmatch_files":$fm,"qmatch_rows_frac":${rm.toDouble / nr}%.4f}"""
    }
    val line = s"""{"probe":"zorder_curve","sf_dir":"$sfDir","rows_total":$total,"bits_per_dim":12,"layouts":${rows.mkString("[", ",", "]")}}"""
    println(line)
    // visible-on-failure, like SkewProbe: a silently-stale standing
    // artifact would masquerade as a fresh measurement next round
    try java.nio.file.Files.write(java.nio.file.Paths.get("ZORDER_CURVE.json"),
      line.getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[zcurve] WARNING: could not write ZORDER_CURVE.json: $e")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ZOrderProbe <sfDir> [curve]")
    val sfDir = args(0)
    val spark = Engine.session("graft-zorderprobe")
    if (args.length > 1 && args(1) == "curve") {
      curve(spark, sfDir)
      spark.stop()
      return
    }

    // sf-keyed scratch paths: reusing a layout written from a different
    // sf dir would only surface as a late "layouts disagree" failure
    val datePath = LayoutProbe.sortedLayoutPath(sfDir)
    val zPath = datePath.replace("_sorted_", "_zorder_")
    val plain = () => Tables.lineitem(spark, sfDir)

    // date-sorted layout (reuse LayoutProbe's if present)
    if (!new java.io.File(datePath, "_SUCCESS").exists()) {
      plain().repartitionByRange(128, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite").parquet(datePath)
    }
    val tz0 = System.nanoTime()
    Sinks.writeZOrdered(plain(), zPath, Seq("l_shipdate", "l_partkey"), numFiles = 128)
    val zWriteSec = (System.nanoTime() - tz0) / 1e9

    val plainSec = bestOfTwo(() => query(plain()))
    val dateSec = bestOfTwo(() => query(spark.read.parquet(datePath)))
    val zSec = bestOfTwo(() => query(spark.read.parquet(zPath)))
    // identical results across layouts
    val rows = Seq(plain(), spark.read.parquet(datePath), spark.read.parquet(zPath))
      .map(l => query(l).collect().toSeq.toString)
    require(rows.distinct.size == 1, s"layouts disagree: $rows")

    println(f"""{"sf":"$sfDir","plain_sec":$plainSec%.3f,"date_sorted_sec":$dateSec%.3f,"zorder_sec":$zSec%.3f,"zorder_write_sec":$zWriteSec%.3f}""")
    spark.stop()
  }
}
