package graft

import org.apache.spark.sql.functions._

/** At-volume evidence for the partitioned JDBC source (r14 verdict
  * item 8 — the last source-side scale gap): `FileSources
  * .jdbcPartitioned` was spec-verified on view-sized Derby extracts
  * only. This probe loads 10 M rows into an embedded Derby database
  * (pure-JVM, same engine the spec uses), reads them back through
  *
  *   - the single-connection form (`FileSources.jdbc`) — the funnel,
  *   - `jdbcPartitioned` at 16 and 32 range stripes,
  *
  * and records: load time, per-form read time (forced full scan via a
  * count + Σ xxhash64 checksum), checksum PARITY across all three
  * reads, and the stripe-balance report (rows per Spark partition —
  * min/max/mean) that tells you whether the range predicate
  * `partitionColumn >= l AND < u` actually divided the work. On a
  * uniform key the stripes must be near-equal; a skewed or sparse key
  * would show here first (the production rule: pick a dense surrogate
  * key or pre-compute bounds with min/max pushdown).
  *
  * The probe measures the 16-stripe read BOTH before and after
  * indexing the partition column. What the iterations taught (all
  * recorded in SCALE.md): the fixture's PHYSICAL ORDER dominates
  * everything. Loading through 8 round-robin writers interleaved ids
  * on disk — stripes then tied or lost to one connection (each
  * stripe's range predicate full-scans an unindexed table; N stripes
  * = N scans) and the index made it WORSE (range scans degraded to
  * per-row random page fetches over the scatter: 26 s vs 6.6 s).
  * Loading id-ORDERED — the clustered-primary-key layout a real
  * warehouse table has — made the load itself ~4.7× faster
  * (sequential B-tree appends, no page splits) and the striped reads
  * beat the single connection even unindexed at this cache-resident
  * scale; the index adds a small per-row lookup cost here and pays
  * only when the table is disk-resident. Production rule: range-
  * partition on the CLUSTERED key; an unclustered secondary index is
  * not a substitute.
  *
  * Derby is an in-process stand-in for the warehouse endpoint; the
  * Spark-side plan — N concurrent connections each pulling one range
  * slice, no driver funnel, pruning/filters pushed to the remote — is
  * exactly what runs against a production RDBMS at 1000 executors.
  * Single-JVM local[32] understates the win (all 32 connections share
  * one Derby page cache and one disk); the numbers that transfer are
  * the stripe balance, read parity, and the clustered-key rule.
  *
  * Usage: `runMain graft.JdbcScaleProbe [rows]` → JDBC_SCALE.json.
  */
object JdbcScaleProbe {
  def main(args: Array[String]): Unit = {
    val nRows = if (args.nonEmpty) args(0).toLong else 10_000_000L
    val spark = Engine.session("graft-jdbcscale")
    import spark.implicits._

    val dbDir = java.nio.file.Files.createTempDirectory("jdbcscale").toString
    val url = s"jdbc:derby:$dbDir/voldb;create=true"
    val props = new java.util.Properties()

    // ---- load: batched inserts in id ORDER (one writer) — the
    // clustered-primary-key physical layout a real warehouse table
    // has. An early probe iteration loaded through 8 round-robin
    // writers; ids then interleaved physically and the indexed range
    // scans below degraded to per-row random page fetches (16 stripes
    // read 26 s vs 6.6 s unindexed full scans) — the fixture was
    // measuring its own scatter, not the source operator.
    println(s"[jdbc-scale] loading $nRows rows into embedded Derby (id-ordered)")
    val t0 = System.nanoTime()
    spark.range(nRows)
      .select(col("id"),
        (xxhash64(col("id")) % 1000).cast("int").as("cat"),
        (col("id") % 97).cast("double").as("val"))
      .coalesce(1).sortWithinPartitions("id")
      .write.option("batchsize", "10000").jdbc(url, "bigtab", props)
    val loadSec = (System.nanoTime() - t0) / 1e9
    println(f"[jdbc-scale] loaded in $loadSec%.1f s (${nRows / loadSec}%.0f rows/s)")

    def checksum(df: org.apache.spark.sql.DataFrame): (Long, BigDecimal, Double) = {
      val t = System.nanoTime()
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("id"), col("cat"), col("val"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)), (System.nanoTime() - t) / 1e9)
    }

    // ---- single-connection read (the funnel) ----
    val (n1, sum1, sec1) = checksum(
      sources.FileSources.jdbc(spark, url, "bigtab", props))
    println(f"[jdbc-scale] single-connection: $sec1%.1f s")

    // ---- the unindexed trap, measured: 16 stripes, each a full scan
    val (nU, sumU, secNoIdx) = checksum(sources.FileSources.jdbcPartitioned(
      spark, url, "bigtab", "id", 0L, nRows, 16, props))
    require(nU == n1 && sumU == sum1, "unindexed stripe read diverged")
    println(f"[jdbc-scale] 16 stripes UNINDEXED: $secNoIdx%.1f s (each stripe full-scans)")

    // ---- index the partition column (what production ingest presumes)
    val tIdx = System.nanoTime()
    val conn = java.sql.DriverManager.getConnection(url)
    // Spark's JDBC writer QUOTES column identifiers, so Derby stores a
    // case-sensitive lowercase "id" — unquoted DDL would resolve ID
    try conn.createStatement().execute(
      """CREATE INDEX idx_bigtab_id ON bigtab("id")""")
    finally conn.close()
    val idxSec = (System.nanoTime() - tIdx) / 1e9
    println(f"[jdbc-scale] index built in $idxSec%.1f s")

    // ---- partitioned reads at 16 and 32 stripes (indexed) ----
    val stripes = Seq(16, 32).map { p =>
      val df = sources.FileSources.jdbcPartitioned(
        spark, url, "bigtab", "id", 0L, nRows, p, props)
      val (n, s, sec) = checksum(df)
      require(n == n1 && s == sum1,
        s"partitioned read at $p stripes diverged: ($n, $s) vs ($n1, $sum1)")
      // stripe balance: rows per Spark partition
      val counts = df.groupBy(spark_partition_id().as("pid"))
        .count().select("count").as[Long].collect()
      println(f"[jdbc-scale] $p stripes: $sec%.1f s, rows/stripe " +
        s"min=${counts.min} max=${counts.max} n=${counts.length}")
      (p, sec, counts.min, counts.max, counts.length)
    }

    val s16 = stripes(0); val s32 = stripes(1)
    val line =
      f"""{"probe":"jdbc_scale","rows":$nRows,"load_sec":$loadSec%.1f,""" +
      f""""single_conn_sec":$sec1%.1f,"stripes_16_noindex_sec":$secNoIdx%.1f,""" +
      f""""index_sec":$idxSec%.1f,""" +
      f""""stripes_16":{"sec":${s16._2}%.1f,"min_rows":${s16._3},"max_rows":${s16._4},"n":${s16._5}},""" +
      f""""stripes_32":{"sec":${s32._2}%.1f,"min_rows":${s32._3},"max_rows":${s32._4},"n":${s32._5}},""" +
      f""""speedup_16":${sec1 / s16._2}%.2f,"speedup_32":${sec1 / s32._2}%.2f,""" +
      s""""parity":true}"""
    println(line)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("JDBC_SCALE.json"), line + "\n")

    // balance bar: on the dense uniform key, no stripe may exceed 2x
    // the mean (range striping is exact here; the slack covers the
    // end stripes when nRows % p != 0)
    Seq(s16, s32).foreach { case (p, _, mn, mx, n) =>
      require(n == p, s"expected $p stripes, planner produced $n")
      require(mx <= 2L * (nRows / p) && mn > 0,
        s"stripe imbalance at $p: min=$mn max=$mx")
    }
    spark.stop()
  }
}
