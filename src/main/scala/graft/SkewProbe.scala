package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation measured, not asserted: `runMain graft.SkewProbe
  * <sfDir> [hotTenthsCsv]` rewrites a fraction of the events fact table
  * onto ONE hot key, then times the same fact×dim join-aggregate three
  * ways at EACH skew level (default sweep: 30%, 60%, 90% of the fact
  * side on the hot key):
  *
  *   1. plain shuffle join, AQE skew handling OFF — the pathological
  *      baseline (one straggler task owns the hot share of the fact);
  *   2. plain shuffle join, AQE skew-join ON — Spark's runtime split
  *      (the engine default, Engine.session enables AQE);
  *   3. `Joins.saltedJoin` — the manual mitigation for engines/ops AQE
  *      does not cover (skewed aggregations, pre-AQE clusters).
  *
  * All three must produce identical aggregates (asserted). Broadcast is
  * disabled for the probe joins — at 100 TB the dimension side of a
  * skewed join does not broadcast, which is the only regime where skew
  * matters at all.
  *
  * The sweep ends with ONE JSON line (`{"probe":"skew_crossover",...}`,
  * also written to `SKEW_CROSSOVER.json` in cwd) recording per-level
  * timings and the measured BREAK-EVEN — the lowest swept hot-key share
  * where salting beats AQE — so the `saltedJoin` guidance in SCALE.md
  * stays a recorded measurement, not round-7 prose.
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/repo/testdata-sf10"
    // sorted ascending regardless of input order: the break-even below
    // is "the LOWEST hot share where salting wins", which a find over
    // unsorted levels would misreport
    val levels = (if (args.length > 1) args(1) else "3,6,9")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val spark = Engine.session("graft-skewprobe")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def agg(joined: DataFrame): DataFrame =
      joined.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum("value").as("total"))
        .orderBy("segment")

    def time(name: String, skewJoin: Boolean)(f: => DataFrame): (Double, Array[org.apache.spark.sql.Row]) = {
      spark.conf.set("spark.sql.adaptive.enabled", skewJoin.toString)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoin.toString)
      val t0 = System.nanoTime()
      val rows = f.collect()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[skew] $name: $dt%.1f s")
      (dt, rows)
    }

    // counts must match exactly; double totals only within relative
    // tolerance — the three physical plans accumulate in different orders
    def check(a: Array[org.apache.spark.sql.Row], b: Array[org.apache.spark.sql.Row], name: String): Unit = {
      require(a.length == b.length, s"$name: row count differs")
      a.zip(b).foreach { case (x, y) =>
        require(x.get(0) == y.get(0) && x.getLong(1) == y.getLong(1),
          s"$name: segment/count differ: $x vs $y")
        val (tx, ty) = (x.getDouble(2), y.getDouble(2))
        require(math.abs(tx - ty) <= 1e-9 * math.max(math.abs(tx), math.abs(ty)),
          s"$name: totals beyond fp tolerance: $tx vs $ty")
      }
    }

    val results = levels.map { hotTenths =>
      println(s"[skew] === hot key owns ${hotTenths * 10}% of the fact side ===")
      val fact = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("user_id",
          when(pmod(col("event_id"), lit(10)) < hotTenths, lit(-1L))
            .otherwise(col("user_id")))
      val dim = fact.select("user_id").distinct()
        .withColumn("segment", pmod(col("user_id"), lit(7)))
      dim.write.mode("overwrite").parquet("/tmp/skew_dim.parquet")
      val dimP = spark.read.parquet("/tmp/skew_dim.parquet")

      val (tPlain, plain) = time("plain shuffle join, AQE skew OFF", skewJoin = false) {
        agg(fact.join(dimP, Seq("user_id")))
      }
      val (tAqe, aqe) = time("plain shuffle join, AQE skew ON ", skewJoin = true) {
        agg(fact.join(dimP, Seq("user_id")))
      }
      val (tSalted, salted) = time("saltedJoin(32), AQE skew OFF   ", skewJoin = false) {
        agg(operators.Joins.saltedJoin(fact, dimP, "user_id", buckets = 32))
      }
      check(plain, aqe, "aqe")
      check(plain, salted, "salted")
      println("[skew] all three variants agree (counts exact, totals within fp tolerance)")
      (hotTenths, tPlain, tAqe, tSalted)
    }

    val breakEven = results.find { case (_, _, a, s) => s < a }.map(_._1 * 10)
    val rows = results.map { case (h, p, a, s) =>
      f"""{"hot_pct":${h * 10},"plain_sec":$p%.2f,"aqe_sec":$a%.2f,"salted_sec":$s%.2f}"""
    }.mkString("[", ",", "]")
    val line = s"""{"probe":"skew_crossover","sf_dir":"$sfDir","buckets":32,"levels":$rows,"salted_beats_aqe_from_hot_pct":${breakEven.map(_.toString).getOrElse("null")}}"""
    println(line)
    // the JSON line above is the record of truth; a failed file write
    // must be VISIBLE (a silently-stale standing artifact would read as
    // a fresh measurement next round), but must not fail the probe
    try java.nio.file.Files.write(java.nio.file.Paths.get("SKEW_CROSSOVER.json"),
      line.getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[skew] WARNING: could not write SKEW_CROSSOVER.json: $e")
    }
    spark.stop()
  }
}
