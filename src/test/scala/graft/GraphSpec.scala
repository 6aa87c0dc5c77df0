package graft

import graft.operators.{Graph, TextDedup}
import org.apache.spark.sql.functions._

/** Connected components (large-star/small-star) and dedup clustering.
  * The randomized equivalence-vs-union-find property lives in
  * [[PropertySpec]] with the other ScalaCheck invariants.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)],
                 smallGraphThreshold: Long = 1L << 20): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("a", "b"), "a", "b",
        smallGraphThreshold = smallGraphThreshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("path graph collapses to one component labeled by its min (both paths)") {
    val edges = (1L to 9L).map(i => (i, i + 1))
    val got = cc(edges)
    assert(got.values.toSet == Set(1L) && got.size == 10)
    // threshold 0 forces the distributed star rounds — identical labels
    assert(cc(edges, smallGraphThreshold = 0L) == got)
  }

  test("two components, self-loops ignored, isolated self-loop node kept") {
    val got = cc(Seq((5L, 2L), (2L, 9L), (40L, 30L), (7L, 7L)))
    assert(got == Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 30L -> 30L, 40L -> 30L, 7L -> 7L))
  }

  test("empty edge list yields empty result") {
    assert(cc(Seq.empty).isEmpty)
  }

  test("reliable checkpoint mode: same labels, checkpoint files actually written") {
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 5L))
    // threshold 0: the per-ROUND reliable checkpointing is what this
    // test exists for — the star rounds must run
    val expected = cc(edges, 0L) // localCheckpoint mode (no dir configured)
    assert(sc.getCheckpointDir.isEmpty, "test precondition: no checkpoint dir")
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    try {
      sc.setCheckpointDir(dir)
      val got = cc(edges, 0L) // reliable mode
      assert(got == expected, s"$got != $expected")
      // the rounds really went through reliable checkpoints: RDD
      // checkpoint data exists under the configured dir
      def countFiles(p: java.io.File): Int =
        if (p.isDirectory) p.listFiles().map(countFiles).sum else 1
      assert(countFiles(new java.io.File(dir)) > 0,
        "no checkpoint files written in reliable mode")
    } finally {
      // local master: setCheckpointDir(null) resets to None so later
      // suites keep the fast localCheckpoint path
      sc.setCheckpointDir(null)
      assert(sc.getCheckpointDir.isEmpty)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("hot node: a 5000-neighbor star converges without neighbor-list buffers") {
    // the shape the groupBy-min formulation exists for — a collect_list
    // implementation would hold all 5000 neighbors in one aggregation
    // buffer. threshold 0: must exercise the DISTRIBUTED path.
    val star = (1L to 5000L).map(i => (2500L, 5000L + i))
    val got = cc(star, smallGraphThreshold = 0L)
    assert(got.size == 5001 && got.values.toSet == Set(2500L))
  }

  test("dedupClusters: transitive closure over pairs, singletons canonical") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today"),
      (1L, "the quick brown fox jumps over the lazy dog tonight"), // ~0
      (2L, "the quick brown fox jumps over the lazy dog tomorrow"), // ~0, ~1
      (3L, "completely different text with other words entirely present here")
    ).toDF("doc_id", "text")
    val pairs = TextDedup.jaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.6)
    val got = Graph.dedupClusters(docs, "doc_id", pairs, "doc_a", "doc_b")
      .orderBy("doc_id").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(0L, 0L, 0L, 3L))
    assert(got.map(_.getBoolean(2)).toSeq == Seq(true, false, false, true))
  }

  test("dedupClustersBy: survivor is argmax(prefer), ties to the min id") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today", 10L),
      (1L, "the quick brown fox jumps over the lazy dog tonight", 99L), // longest
      (2L, "the quick brown fox jumps over the lazy dog tomorrow", 50L),
      (3L, "completely different text with other words entirely present here", 7L)
    ).toDF("doc_id", "text", "quality")
    val pairs = TextDedup.jaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.6)
    val got = Graph.dedupClustersBy(docs, "doc_id", col("quality"),
        pairs, "doc_a", "doc_b")
      .orderBy("doc_id").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(0L, 0L, 0L, 3L))
    // doc 1 (quality 99) survives, not min-id doc 0; singleton 3 survives
    assert(got.map(_.getBoolean(2)).toSeq == Seq(false, true, false, true))
    // tie on prefer → smallest id wins
    val tied = Graph.dedupClustersBy(docs.withColumn("quality", lit(5L)),
        "doc_id", col("quality"), pairs, "doc_a", "doc_b")
      .orderBy("doc_id").collect()
    assert(tied.map(_.getBoolean(2)).toSeq == Seq(true, false, false, true))
  }

  test("aggregateToCanonical: cluster evidence lands on the survivor only") {
    val docs = Seq(
      (0L, "src1", 10L), (1L, "src2", 20L), (2L, "src1", 30L), // cluster 0
      (3L, "src3", 5L))                                        // singleton
      .toDF("doc_id", "source", "n")
    val assign = Seq((0L, 0L, true), (1L, 0L, false), (2L, 0L, false),
      (3L, 3L, true)).toDF("doc_id", "cluster_id", "is_canonical")
    val got = Graph.aggregateToCanonical(docs, "doc_id", assign,
        Seq(sum(col("n")).as("total_n"), count_distinct(col("source")).as("ns")))
      .orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_size"),
        r.getAs[Long]("total_n"), r.getAs[Long]("ns")))
    assert(got.toSeq == Seq((0L, 3L, 60L, 2L), (3L, 1L, 5L, 1L)))
  }

  // ---- incremental components --------------------------------------

  private def incr(assign: Map[Long, Long],
                   newEdges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.incrementalComponents(assign.toSeq.toDF("node", "comp"),
        "node", "comp", newEdges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("incremental: new edges merging two old clusters relabel to the min") {
    val old = Map(1L -> 1L, 3L -> 1L, 10L -> 10L, 12L -> 10L)
    val got = incr(old, Seq((3L, 12L)))
    assert(got == Map(1L -> 1L, 3L -> 1L, 10L -> 1L, 12L -> 1L))
  }

  test("incremental: unseen nodes join, untouched clusters and singletons persist") {
    val old = Map(1L -> 1L, 3L -> 1L, 7L -> 7L) // 7 is a singleton
    val got = incr(old, Seq((100L, 3L), (200L, 201L)))
    assert(got == Map(1L -> 1L, 3L -> 1L, 100L -> 1L, 7L -> 7L,
      200L -> 200L, 201L -> 200L))
  }

  test("incremental equals the full recompute on a random edge split") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val (oldE, newE) = edges.splitAt(edges.size / 2)
    val full = cc(edges)
    val oldAssign = cc(oldE)
    val got = incr(oldAssign, newE)
    // same node domain (old ∪ new), identical min-id labels
    assert(got == full)
  }

  // ---- pageRank: fixed-point iteration, exact by construction ----

  private def pr(edges: Seq[(String, String)], iters: Int,
                 scale: Long = 1000000L,
                 threshold: Long = 1L << 20): Map[String, Long] =
    Graph.pageRank(edges.toDF("s", "t"), "s", "t", iters, scale,
        smallGraphThreshold = threshold)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Driver-side replay of the documented recursion — the independent
    * truth the distributed operator must match long-for-long.
    */
  private def prRef(edges: Seq[(String, String)], iters: Int,
                    scale: Long,
                    init: Map[String, Long] = Map.empty): Map[String, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct
    val od = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val teleport = scale / 100 * 15
    var r = nodes.map(n => n -> init.getOrElse(n, scale)).toMap
    for (_ <- 1 to iters) {
      val contribs = e.groupBy(_._2).map { case (t, es) =>
        t -> es.map(p => r(p._1) * 85 / (100 * od(p._1))).sum
      }
      r = nodes.map(n => n -> (teleport + contribs.getOrElse(n, 0L))).toMap
    }
    r
  }

  test("pageRank matches the hand-computed 3-cycle after 2 rounds") {
    // A→B, A→C, B→C, C→A; scale 10^6, teleport 150000
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"))
    assert(pr(edges, 1) ==
      Map("a" -> 1000000L, "b" -> 575000L, "c" -> 1425000L))
    assert(pr(edges, 2) ==
      Map("a" -> 1361250L, "b" -> 575000L, "c" -> 1063750L))
  }

  test("pageRank: dangling mass drops, sink keeps teleport + inflow") {
    val got = pr(Seq(("a", "d")), 2)
    // iter1: d = 150000 + 850000; a = 150000
    // iter2: d = 150000 + floor(150000*85/100) = 277500
    assert(got == Map("a" -> 150000L, "d" -> 277500L))
  }

  test("pageRank equals the driver replay on a mixed graph (8 rounds)") {
    // dense-ish deterministic graph with self-loop, dangling node,
    // duplicate edge rows (must dedupe), and a hub
    val raw = (0 until 40).map(i =>
      (s"n${i % 7}", s"n${(i * 3 + 1) % 9}")) ++
      Seq(("n1", "n1"), ("hub", "n0"), ("hub", "n1"), ("hub", "n2"),
        ("n0", "sink"), ("n0", "sink")) // dup row
    val got = pr(raw, 8)
    val want = prRef(raw, 8, 1000000L)
    assert(got == want)
    // threshold 0 forces the distributed join/agg rounds — identical longs
    assert(pr(raw, 8, threshold = 0L) == want)
    // mass only shrinks: total ≤ N·scale
    assert(got.values.sum <= got.size * 1000000L)
  }

  test("pageRankResume: warm start == continued recursion; new nodes enter at scale") {
    val raw = (0 until 40).map(i =>
      (s"n${i % 7}", s"n${(i * 3 + 1) % 9}")) ++
      Seq(("n1", "n1"), ("hub", "n0"), ("n0", "sink"))
    val edgesDf = raw.toDF("s", "t")
    def resume(init: org.apache.spark.sql.DataFrame, iters: Int,
               threshold: Long) =
      Graph.pageRankResume(edgesDf, "s", "t", init, "node", "rank_fp",
          iters, 1000000L, smallGraphThreshold = threshold)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val warm5 = Graph.pageRank(edgesDf, "s", "t", 5, 1000000L)
    val full8 = prRef(raw, 8, 1000000L)
    // both execution paths continue the recursion long-for-long
    assert(resume(warm5, 3, 1L << 20) == full8)
    assert(resume(warm5, 3, 0L) == full8)
    // a node absent from init (fresh domain in today's crawl) starts
    // at `scale` — the reference replay with a partial init agrees
    val partial = Seq(("n0", 123456L), ("hub", 500000L))
      .toDF("node", "rank_fp")
    val want = prRef(raw, 2, 1000000L,
      init = Map("n0" -> 123456L, "hub" -> 500000L))
    assert(resume(partial, 2, 1L << 20) == want)
    assert(resume(partial, 2, 0L) == want)
  }

  test("pageRank overflow guard fails loudly, bad scale refused eagerly") {
    intercept[IllegalArgumentException] {
      pr(Seq(("a", "b")), 1, scale = Long.MaxValue / 100 * 100)
    }
    // in-plan guard: rank exceeding 2^63/100 kills the job with the
    // documented message, never wraps silently. Star onto one target:
    // 3 sources × floor(0.85·scale) > maxSafe for scale = 4.6e16
    val scale = 46000000000000000L
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    for (threshold <- Seq(1L << 20, 0L)) { // both execution paths guard
      val ex = intercept[Exception] {
        pr(Seq(("a", "t"), ("b", "t"), ("c", "t")), 1, scale, threshold)
      }
      assert(msgs(ex).exists(_.contains("pageRank: rank exceeds")),
        s"unexpected failure: $ex")
    }
    // the silent-wrap window: ~240 sources × floor(0.85·scale) wraps a
    // LONG sum past 2^63 and lands back in [0, maxSafe] — the
    // decimal/as-you-accumulate guards must still fail LOUDLY
    val star = (1 to 240).map(i => (s"s$i", "hub"))
    for (threshold <- Seq(1L << 20, 0L)) {
      val ex = intercept[Exception] { pr(star, 1, scale, threshold) }
      assert(msgs(ex).exists(_.contains("pageRank: rank exceeds")),
        s"wrap window not guarded (threshold=$threshold): $ex")
    }
  }

  test("pageRankResume: duplicate or null-rank init refused on both paths") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("s", "t")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val dup = Seq(("a", 100L), ("a", 200L), ("b", 300L)).toDF("node", "rank_fp")
    val nul = Seq(("a", java.lang.Long.valueOf(100L)),
      ("b", null.asInstanceOf[java.lang.Long])).toDF("node", "rank_fp")
    for (threshold <- Seq(1L << 20, 0L); bad <- Seq(dup, nul)) {
      val ex = intercept[Exception] {
        Graph.pageRankResume(edges, "s", "t", bad, "node", "rank_fp",
          1, 1000000L, smallGraphThreshold = threshold).collect()
      }
      assert(msgs(ex).exists(_.contains("one non-null rank per node")),
        s"malformed init not refused (threshold=$threshold): $ex")
    }
  }

  /** `body`'s result and the number of Spark jobs it started (counted
    * by job group, so other work in the JVM is not counted). */
  private def jobsIn[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graph-jobs-${System.nanoTime()}"
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(j.jobId): Unit
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "graph path selection")
    try {
      val out = body
      // the listener bus is async: wait until the count is stable
      var (prev, stable) = (-1, 0)
      while (stable < 3) {
        Thread.sleep(100)
        if (jobs.size == prev) stable += 1 else { prev = jobs.size; stable = 0 }
      }
      (out, jobs.size)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("selection rule: above an explicit threshold the distributed rounds run, same answers") {
    // production's rule (edge count <= smallGraphThreshold → one task)
    // at a small threshold: a 300-node path plus chords is far above
    // 64 canonical edges, so CC takes the star rounds and PageRank one
    // job per round. The forced single-task run of the same graph is
    // the yardstick: it needs 7 (CC) and 6 (PageRank) jobs here, the
    // distributed paths several times that.
    val raw = (0L until 299L).map(i => (i, i + 1)) ++
      (0L until 100L).map(i => ((i * 37) % 300, (i * 91 + 7) % 300))
    val edges = raw.toDF("a", "b")
    def ccMap(threshold: Long) =
      Graph.connectedComponents(edges, "a", "b", smallGraphThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def prMap(threshold: Long) =
      Graph.pageRank(edges, "a", "b", 8, smallGraphThreshold = threshold)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (ccDist, ccJobs) = jobsIn(ccMap(64L))
    val (ccSingle, ccSingleJobs) = jobsIn(ccMap(Long.MaxValue))
    assert(ccJobs > 3 && ccJobs > 2 * ccSingleJobs,
      s"CC ran $ccJobs jobs above the threshold vs $ccSingleJobs single-task")
    val (prDist, prJobs) = jobsIn(prMap(64L))
    val (prSingle, prSingleJobs) = jobsIn(prMap(Long.MaxValue))
    assert(prJobs > 3 && prJobs > 2 * prSingleJobs,
      s"PageRank ran $prJobs jobs above the threshold vs $prSingleJobs single-task")
    // both paths give identical labels and longs
    assert(ccDist == ccSingle)
    assert(prDist == prSingle)
    assert(ccDist.size == 300 && ccDist.values.toSet == Set(0L))
  }
}
