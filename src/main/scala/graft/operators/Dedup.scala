package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-handling operator family (SURVEY.md §2.6, D1-D8).
  *
  * The reference leans on pandas `duplicated()` / `drop_duplicates()`
  * whose "keep first" semantics depend on implicit file order. Spark has
  * no implicit order, so every order-sensitive variant here takes an
  * explicit `orderBy` — the pandas behavior made deterministic.
  *
  * Scale notes: all of these are one shuffle on the key columns (window
  * or aggregate); at 100 TB the key should be the natural partition key
  * and AQE handles skew. `distinct()` compiles to a hash aggregate with
  * map-side partial dedup — no row explosion crosses the wire twice.
  */
object Dedup {

  /** D3: every member of any duplicate group (`duplicated(keep=False)`). */
  def duplicatesAll(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
    df.withColumn("_dup_n", count(lit(1)).over(w))
      .filter(col("_dup_n") > 1)
      .drop("_dup_n")
  }

  /** D2: repeats only — all copies except the first occurrence in `orderBy`
    * order (`df[df.duplicated()]`, keep="first" made explicit).
    */
  def duplicatesAfterFirst(df: DataFrame, keyCols: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > 1)
      .drop("_rn")
  }

  /** D4: append the duplicate group size (`groupby(k).transform("count")`). */
  def withDuplicateCount(df: DataFrame, keyCols: Seq[String],
                         countCol: String = "duplicate_count"): DataFrame =
    df.withColumn(countCol, count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))

  /** D5: subset-key dedup keeping the first row by an explicit ordering
    * (`drop_duplicates(subset=k, keep="first")` with the order made explicit).
    */
  def dedupKeepFirst(df: DataFrame, keyCols: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** D6: conditional survivor — among duplicate groups prefer rows matching
    * `prefer`; ties and non-preferred-only groups fall back to `orderBy`.
    * (Saoirse Automation.ipynb:1013-1019: keep the Non-Industry row.)
    */
  def dedupPrefer(df: DataFrame, keyCols: Seq[String], prefer: Column,
                  orderBy: Seq[Column]): DataFrame = {
    val rank = when(prefer, 0).otherwise(1)
    dedupKeepFirst(df.withColumn("_pref", rank), keyCols, col("_pref") +: orderBy)
      .drop("_pref")
  }

  /** D8: duplicate count metric (`duplicated().sum()`), as a 1-row frame. */
  def duplicateMetric(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.agg((count(lit(1)) - count_distinct(struct(keyCols.map(col): _*)))
      .as("duplicate_rows"))
}
