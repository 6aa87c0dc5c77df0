package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Compat
import graft.sources.Sinks

/** Measures the bucketed-table remedy for the one demonstrated
  * shuffle-bound query: q3_top10's lineitem⋈orders join scales 11-17×
  * for 10× data at sf10 (SCALE.md) because both fact tables re-shuffle
  * on orderkey every run. Bucketing both on orderkey pays that shuffle
  * once at write time; after that the join (and the orderkey-prefixed
  * aggregation above it — HashPartitioning(orderkey) satisfies the
  * grouping's ClusteredDistribution) runs with ZERO shuffle Exchange.
  *
  * Usage: `runMain graft.BucketProbe <sfDir> [numBuckets]`. Prints one
  * JSON line: plain best-of-two, bucketed best-of-two, write cost, and
  * the shuffle-Exchange count of each plan (broadcast exchanges are
  * expected and not counted — the customer dim stays broadcast).
  */
object BucketProbe {

  /** q3_top10 body over arbitrary sources (same plan as SparkEntry's). */
  def q3(l0: DataFrame, o0: DataFrame, c0: DataFrame): DataFrame = {
    val c = c0.filter(col("c_mktsegment") === "BUILDING")
    val o = o0.filter(col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
    val l = l0.filter(col("l_shipdate") > lit("1998-07-01").cast("timestamp"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(Compat.exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Shuffle Exchanges in the (AQE-current) physical plan; broadcast
    * exchanges don't count — a broadcast dim is the desired shape.
    */
  def shuffleCount(df: DataFrame): Int = {
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    Seq("Exchange hashpartitioning", "Exchange rangepartitioning",
      "Exchange SinglePartition").map(s => p.sliding(s.length).count(_ == s)).sum
  }

  private def bestOfTwo(mk: () => DataFrame): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      mk().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BucketProbe <sfDir> [numBuckets]")
    val sfDir = args(0)
    val buckets = if (args.length > 1) args(1).toInt else 32
    // bucket metadata lives in the session catalog; keep the warehouse
    // out of the repo tree, key it by sfDir (the LayoutProbe discipline)
    // and clean a stale copy — a leftover location from a previous run
    // fails the managed-table create (the catalog is fresh each run and
    // cannot Overwrite a table it never registered)
    val warehouse = new java.io.File(
      s"/tmp/graft_bucket_warehouse_${java.lang.Integer.toHexString(new java.io.File(sfDir).getAbsolutePath.hashCode)}")
    if (warehouse.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      rm(warehouse)
    }
    System.setProperty("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
    val spark = Engine.session("graft-bucketprobe")

    val plainTime = bestOfTwo(() =>
      q3(Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir),
        Tables.customer(spark, sfDir)))
    val plainShuffles = shuffleCount(
      q3(Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir),
        Tables.customer(spark, sfDir)))

    // one-time bucketed layout: the write cost is the amortized shuffle
    val tw0 = System.nanoTime()
    Sinks.writeBucketed(Tables.lineitem(spark, sfDir), "lineitem_bkt",
      Seq("l_orderkey"), buckets, Seq("l_orderkey"))
    Sinks.writeBucketed(Tables.orders(spark, sfDir), "orders_bkt",
      Seq("o_orderkey"), buckets, Seq("o_orderkey"))
    val writeSec = (System.nanoTime() - tw0) / 1e9

    def bucketed() = q3(spark.table("lineitem_bkt"), spark.table("orders_bkt"),
      Tables.customer(spark, sfDir))
    val bucketedShuffles = shuffleCount(bucketed())
    // the probe IS the layout regression gate: a bucketed q3 that
    // shuffles means the co-located join contract broke — fail loudly,
    // don't record a silently-degraded timing
    require(bucketedShuffles == 0,
      s"bucketed q3 shuffles ($bucketedShuffles Exchanges) — layout regression")
    val bucketedTime = bestOfTwo(() => bucketed())

    println(f"""{"sf":"$sfDir","buckets":$buckets,"plain_sec":$plainTime%.3f,"bucketed_sec":$bucketedTime%.3f,"bucket_write_sec":$writeSec%.3f,"plain_shuffles":$plainShuffles,"bucketed_shuffles":$bucketedShuffles}""")
    spark.stop()
  }
}
