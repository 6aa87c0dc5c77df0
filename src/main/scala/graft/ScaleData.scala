package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a driver testdata directory (TESTDATA.md
  * schema) by integer replication — the scale-rehearsal input generator:
  * `runMain graft.ScaleData <inDir> <outDir> [replicas=10]` turns sf0.1
  * into an sf1-equivalent without touching the read-only testdata.
  *
  * Design constraints (what a naive 10× copy gets wrong):
  *
  *   - **Relational tables** replicate with a per-replica key stride on
  *     every primary AND foreign key, so uniqueness and join fan-out are
  *     preserved: each replica is a self-contained shard of the same
  *     star schema, exactly how a 10× corpus would land in production.
  *     `region`/`nation` stay fixed (dimension constants — their keys
  *     are referenced by every replica, like a real shared dimension).
  *
  *   - **documents**: verbatim copies would make every LSH bucket and
  *     dedup cluster 10× deeper (pair counts 100×) — an artificial
  *     quadratic that says nothing about the engine. Instead each
  *     replica applies a replica-specific LETTER SUBSTITUTION
  *     (`translate` over a 10-letter alphabet slice, a bijection):
  *     within a replica every shingle set maps 1:1 (Jaccard, simhash
  *     bands, repetition, cluster structure all preserved EXACTLY), but
  *     across replicas nearly every token differs, so planted near-dup
  *     groups scale in COUNT (10× groups) not in SIZE — the way a real
  *     10× corpus behaves. Char counts are length-preserving, so
  *     n_chars stays truthful.
  *
  *   - **embeddings**: same reasoning in vector space — each replica
  *     applies a replica-specific signed permutation of the dimensions
  *     (an orthogonal transform: cosine within a replica is EXACTLY
  *     invariant, planted 2%-perturbation dup groups survive bit-true),
  *     while cross-replica cosines collapse to ~N(0, 1/64) noise, so
  *     semantic-dedup cells and ANN probe lists scale in count, not in
  *     cell depth.
  *
  * Everything is seeded from the replica index — two runs produce
  * byte-identical tables.
  */
object ScaleData {

  /** Key stride between replicas: above every key in the source tables,
    * and small enough that doc ids stay inside uint32 (a jaccardPairs
    * packing contract) at any plausible replica count.
    */
  val stride = 10000000L

  private val subAlphabet = "eatoinshrd"

  /** Replica-r letter bijection over [[subAlphabet]] (r=0 → identity). */
  def letterMap(r: Int): String = {
    if (r == 0) return subAlphabet
    val rnd = new scala.util.Random(7700 + r)
    rnd.shuffle(subAlphabet.toList).mkString
  }

  /** Replica-r signed dimension permutation (r=0 → identity). */
  def signedPerm(r: Int, dim: Int): (Array[Int], Array[Float]) = {
    if (r == 0) return ((0 until dim).toArray, Array.fill(dim)(1f))
    val rnd = new scala.util.Random(8800 + r)
    val perm = rnd.shuffle((0 until dim).toList).toArray
    val signs = Array.fill(dim)(if (rnd.nextBoolean()) 1f else -1f)
    (perm, signs)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleData <inDir> <outDir> [replicas]")
    val spark = Engine.session("graft-scaledata")
    run(spark, args(0), args(1),
      if (args.length > 2) args(2).toInt else 10)
    spark.stop()
  }

  def run(spark: SparkSession, inDir: String, outDir: String,
          replicas: Int): Unit = {
    // two replicas sharing a letter map would be textually IDENTICAL —
    // exactly the cross-replica dup blowup the transform exists to
    // avoid. 10! >> replicas², but verify rather than trust the seeds.
    val maps = (0 until replicas).map(letterMap)
    require(maps.distinct.size == replicas,
      s"letterMap collision among $replicas replicas — change seeds")

    def replicated(name: String, keys: Seq[String])
                  (extra: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = if (name == "events") Tables.events(spark, inDir)
                 else Tables(spark, inDir, name)
      val parts = (0 until replicas).map { r =>
        val shifted = keys.foldLeft(base)((df, k) =>
          df.withColumn(k, col(k) + lit(r * stride)))
        extra(shifted, r)
      }
      val out = parts.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaledata] $name x$replicas -> $outDir/$name.parquet")
    }

    // shared dimensions: copied once, referenced by every replica
    Seq("region", "nation").foreach { name =>
      Tables(spark, inDir, name).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[scaledata] $name (shared dim) -> $outDir/$name.parquet")
    }

    replicated("customer", Seq("c_custkey"))()
    replicated("supplier", Seq("s_suppkey"))()
    replicated("part", Seq("p_partkey"))()
    replicated("orders", Seq("o_orderkey", "o_custkey"))()
    replicated("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))()
    replicated("events", Seq("event_id", "user_id"))()

    replicated("documents", Seq("doc_id")) { (df, r) =>
      df.withColumn("text", translate(col("text"), subAlphabet, letterMap(r)))
    }

    val dim = Tables(spark, inDir, "embeddings")
      .select(size(col("embedding"))).head.getInt(0)
    replicated("embeddings", Seq("vec_id")) { (df, r) =>
      val (perm, signs) = signedPerm(r, dim)
      val rotated = array((0 until dim).map(i =>
        col("embedding").getItem(perm(i)) * lit(signs(i))): _*)
      df.withColumn("embedding", rotated.cast("array<float>"))
    }

    // this run just rewrote every table under outDir — drop any cached
    // relations for it (a session that read outDir BEFORE regenerating
    // must not be served the stale FileIndex; Tables scaladoc contract)
    Tables.invalidatePath(outDir)
  }
}
