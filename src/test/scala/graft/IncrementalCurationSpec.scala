package graft

import graft.pipelines.IncrementalCuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental-curation capstone's identity contract: for every
  * published version, the incrementally-maintained edge ledger and the
  * curated assignment must be ROW-IDENTICAL to a full recompute over
  * that version's corpus — with adds, in-place revisions, AND removals
  * exercised at each transition (q_inc_curate carries the cross-engine
  * DuckDB proof of the same identity; this spec drives the Versioned
  * publish wrapper and the intermediate versions the oracle can't see).
  */
class IncrementalCurationSpec extends SparkSpec {
  import spark.implicits._

  // Near-dup fixture: docs 1/2 near-dups (one word differs in 12),
  // 3 a revision target, 4/5 exact twins, 6+ singletons. Texts are 12+
  // words so 3-shingle Jaccard is meaningful.
  private def doc(id: Long, tail: String) =
    (id, s"alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo $tail")

  private val v1 = Seq(
    doc(1L, "lima mike"), doc(2L, "lima mike"),          // exact twins
    doc(3L, "november oscar papa"),
    doc(4L, "quebec romeo sierra"),
    doc(5L, "tango uniform victor"),
    doc(6L, "whiskey xray yankee")
  ).toDF("doc_id", "text")

  // v2: doc 4 REMOVED; doc 3 REVISED into a near-dup of 5's family;
  // docs 7 (twin of 1) and 8 (singleton) ADDED
  private val v2 = Seq(
    doc(1L, "lima mike"), doc(2L, "lima mike"),
    doc(3L, "tango uniform victor zulu"),                // revised
    doc(5L, "tango uniform victor"),
    doc(6L, "whiskey xray yankee"),
    doc(7L, "lima mike"),                                // added twin of 1/2
    doc(8L, "one two three")                             // added singleton
  ).toDF("doc_id", "text")

  // v3: doc 2 REMOVED (was a cluster member); doc 6 REVISED to join the
  // 1/7 twin cluster; doc 9 ADDED as a twin of 8
  private val v3 = Seq(
    doc(1L, "lima mike"),
    doc(3L, "tango uniform victor zulu"),
    doc(5L, "tango uniform victor"),
    doc(6L, "lima mike"),                                // revised into twins
    doc(7L, "lima mike"),
    doc(8L, "one two three"),
    doc(9L, "one two three")                             // added twin of 8
  ).toDF("doc_id", "text")

  private def sortedRows(df: DataFrame) =
    df.orderBy(df.columns.map(col): _*).collect().toSeq

  private def assertIdentity(corpus: DataFrame, edges: DataFrame,
                             curated: DataFrame, label: String): Unit = {
    val fullE = IncrementalCuration.fullEdges(corpus, "text", "doc_id")
    assert(sortedRows(edges) === sortedRows(fullE), s"$label: edge ledger")
    val fullC = IncrementalCuration.curatedFromEdges(corpus, "doc_id", fullE)
    assert(sortedRows(curated) === sortedRows(fullC), s"$label: curation")
  }

  test("3-version publish chain: each version identical to full recompute") {
    val root = java.nio.file.Files.createTempDirectory("inc-cur").toString
    assert(IncrementalCuration.bootstrap(v1, root, "text", "doc_id") === 0)
    assert(IncrementalCuration.publishIncrement(v2, root, "text", "doc_id") === 1)
    assert(IncrementalCuration.publishIncrement(v3, root, "text", "doc_id") === 2)

    for ((corpus, seq) <- Seq(v1 -> 0, v2 -> 1, v3 -> 2))
      assertIdentity(corpus,
        IncrementalCuration.edgesAt(spark, root, seq),
        IncrementalCuration.curatedAt(spark, root, seq), s"v$seq")

    // the fixture actually exercised every transition class
    val cur2 = IncrementalCuration.curatedAt(spark, root, 2)
    // clusters at v3: {1,6,7} (6,7 non-canonical), {3,5} (5 non-canonical
    // — 3 is the min id), {8,9} (9 non-canonical)
    assert(cur2.filter(!col("is_canonical")).count() === 4)
    // removal respected: doc 4 gone from v1 onward, doc 2 gone at v3
    assert(cur2.filter(col("doc_id").isin(2L, 4L)).count() === 0)
    // revision respected: 3 now clusters with 5 (near-dup after revision)
    val c3 = cur2.filter(col("doc_id") === 3L).select("cluster_id")
      .as[Long].head()
    assert(c3 === 3L || c3 === 5L)
    val c5 = cur2.filter(col("doc_id") === 5L).select("cluster_id")
      .as[Long].head()
    assert(c3 === c5, "revised doc 3 must share doc 5's cluster")
  }

  test("only the delta pays pair generation (stale edges dropped, kept edges survive)") {
    // drive incrementEdges directly: v1 -> v2 with a poisoned prevEdges
    // row touching the removed doc 4 and the revised doc 3 — both must
    // vanish; the 1-2 twin edge must survive untouched
    val e1 = IncrementalCuration.fullEdges(v1, "text", "doc_id")
    val e2 = IncrementalCuration.incrementEdges(v1, v2, e1, "text", "doc_id")
    val rows = e2.as[(Long, Long)].collect().toSet
    assert(rows.contains((1L, 2L)), "unchanged twin edge must be kept")
    assert(!rows.exists(r => r._1 == 4L || r._2 == 4L), "removed doc's edges")
    // new docs' edges present: 7 twins 1 and 2
    assert(rows.contains((1L, 7L)) && rows.contains((2L, 7L)))
  }

  test("ledger identity is robust to an id-disjointness violation guard case") {
    // the cross kernel filters self-pairs defensively: feeding the same
    // frame on both sides yields only cross pairs among distinct ids
    import graft.operators.TextDedup
    val h = TextDedup.hashedShingles(v1, "text", "doc_id")
    val sz = TextDedup.sizesFromHashed(h)
    val x = TextDedup.jaccardPairsCrossStoredFromHashed(h, sz, h, sz)
    assert(x.filter(col("new_id") === col("corpus_id")).count() === 0)
    // and the distinct-id twins 1/2 still pair, both ways round
    assert(x.filter(col("new_id") =!= col("corpus_id")).count() === 2)
  }

  test("shingle store: valid segments ≡ in-flight shingles at every version") {
    // the r17-item-2 induction: segments + tombstones replayed through
    // validShingles/validSizes must be ROW-IDENTICAL (incl. multiplicity)
    // to hashing each version's corpus text directly
    import graft.operators.TextDedup
    var st = IncrementalCuration.bootstrapState(v1, "text", "doc_id")
    for ((prev, cur, label) <- Seq((v1, v2, "v1"), (v2, v3, "v2"))) {
      assert(sortedRows(IncrementalCuration.validShingles(st)) ===
        sortedRows(TextDedup.hashedShingles(prev, "text", "doc_id")),
        s"$label: shingle store diverged from in-flight hashing")
      assert(sortedRows(IncrementalCuration.validSizes(st)) ===
        sortedRows(TextDedup.shingleSizes(prev, "text", "doc_id")),
        s"$label: size store diverged")
      st = IncrementalCuration.applyTransition(st,
        IncrementalCuration.transitionState(prev, cur, st, "text", "doc_id"))
    }
    assert(sortedRows(IncrementalCuration.validShingles(st)) ===
      sortedRows(TextDedup.hashedShingles(v3, "text", "doc_id")))
    // and the transitioned ledger matches the full recompute at v3
    assert(sortedRows(st.edges) ===
      sortedRows(IncrementalCuration.fullEdges(v3, "text", "doc_id")))
  }

  test("cross kernel matches jaccardPairs on delta-unchanged pairs") {
    // the within-set kernel over the union is the oracle: its pairs with
    // exactly one delta id are the delta×unchanged pairs, ordered
    // (min, max) where the cross kernel orders (new, corpus)
    import graft.operators.TextDedup
    val deltaIds = Seq(3L, 7L, 8L)
    val delta = v2.filter(col("doc_id").isin(deltaIds: _*))
    val unchanged = v2.filter(!col("doc_id").isin(deltaIds: _*))
    val dh = TextDedup.hashedShingles(delta, "text", "doc_id")
    val cross = TextDedup.jaccardPairsCrossStoredFromHashed(dh,
        TextDedup.sizesFromHashed(dh),
        TextDedup.hashedShingles(unchanged, "text", "doc_id"),
        TextDedup.shingleSizes(unchanged, "text", "doc_id"))
      .select(least(col("new_id"), col("corpus_id")).as("doc_a"),
        greatest(col("new_id"), col("corpus_id")).as("doc_b"), col("jaccard"))
    val inDelta = (c: String) => col(c).isin(deltaIds: _*)
    val oracle = TextDedup.jaccardPairs(delta.unionByName(unchanged), "text", "doc_id")
      .filter(inDelta("doc_a") =!= inDelta("doc_b"))
    val got = sortedRows(cross)
    assert(got === sortedRows(oracle))
    // the fixture has cross pairs to compare: 7 twins 1 and 2, revised 3
    // near-dups 5
    assert(got.map(r => (r.getLong(0), r.getLong(1))) ===
      Seq((1L, 7L), (2L, 7L), (3L, 5L)))
  }

  test("pure-add release publishes corpus and ledger as deltas, not rewrites") {
    val root = java.nio.file.Files.createTempDirectory("inc-cur-delta").toString
    IncrementalCuration.bootstrap(v1, root, "text", "doc_id")
    // a pure-add drop: v1 plus two docs (one twin of 1, one singleton)
    val v1plus = v1.unionByName(Seq(
      doc(7L, "lima mike"), doc(8L, "one two three")).toDF("doc_id", "text"))
    assert(IncrementalCuration.publishIncrement(v1plus, root, "text", "doc_id") === 1)
    // delta-proportional: the corpus v00001 dir holds ONLY the 2 new docs
    assert(spark.read.parquet(s"$root/corpus/v00001").count() === 2)
    // but the published version reads as the full corpus
    assert(graft.sources.Sinks.Versioned.read(spark, s"$root/corpus").count() === 8)
    assertIdentity(v1plus,
      IncrementalCuration.edgesAt(spark, root, 1),
      IncrementalCuration.curatedAt(spark, root, 1), "pure-add v1")
  }

  test("publishDrop ≡ publishIncrement on a pure-add drop; idempotent; partial overlap refused") {
    val drop = Seq(doc(7L, "lima mike"), doc(8L, "one two three"))
      .toDF("doc_id", "text")
    val v1plus = v1.unionByName(drop)

    // reference: the diff-based publish of the same drop
    val refRoot = java.nio.file.Files.createTempDirectory("drop-ref").toString
    IncrementalCuration.bootstrap(v1, refRoot, "text", "doc_id")
    IncrementalCuration.publishIncrement(v1plus, refRoot, "text", "doc_id")

    val root = java.nio.file.Files.createTempDirectory("drop-fast").toString
    IncrementalCuration.bootstrap(v1, root, "text", "doc_id")
    assert(IncrementalCuration.publishDrop(drop, root, "text", "doc_id") === 1)
    for (store <- Seq("corpus", "edges", "curated", "sh", "sz"))
      assert(sortedRows(graft.sources.Sinks.Versioned.readAt(spark, s"$root/$store", 1)) ===
        sortedRows(graft.sources.Sinks.Versioned.readAt(spark, s"$refRoot/$store", 1)),
        s"publishDrop diverged from publishIncrement on $store")

    // re-publishing the SAME drop (the restart-after-crash shape) is a
    // no-op returning the live seq — no duplicate version
    assert(IncrementalCuration.publishDrop(drop, root, "text", "doc_id") === 1)
    assert(graft.sources.Sinks.Versioned.versions(spark, s"$root/corpus") === Seq(0, 1))

    // partial overlap is a contract violation, refused loudly
    val partial = drop.unionByName(Seq(doc(9L, "brand new")).toDF("doc_id", "text"))
    val e = intercept[IllegalArgumentException] {
      IncrementalCuration.publishDrop(partial, root, "text", "doc_id")
    }
    assert(e.getMessage.contains("pure-add"))
  }

  test("heal rolls a torn publish forward to an identical version") {
    // simulate every crash window: publish v1 fully, then write ONLY a
    // prefix of v2's stores (corpus, or corpus+edges, ...) and let heal
    // complete the rest — the healed version must equal a clean publish
    val Sinks = graft.sources.Sinks
    val cleanRoot = java.nio.file.Files.createTempDirectory("inc-heal-clean").toString
    IncrementalCuration.bootstrap(v1, cleanRoot, "text", "doc_id")
    IncrementalCuration.publishIncrement(v2, cleanRoot, "text", "doc_id")

    for (prefixLen <- 1 to 5) {
      val root = java.nio.file.Files.createTempDirectory(s"inc-heal-$prefixLen").toString
      IncrementalCuration.bootstrap(v1, root, "text", "doc_id")
      // a torn publish = the first prefixLen stores at seq 1 (write
      // order corpus, edges, sh, sz, tomb, curated)
      val st = IncrementalCuration.readState(spark, root)
      val t = IncrementalCuration.transitionState(v1, v2, st, "text", "doc_id")
      val stores: Seq[() => Unit] = Seq(
        () => { Sinks.Versioned.write(v2, s"$root/corpus"): Unit },
        () => { Sinks.Versioned.write(t.edges, s"$root/edges"): Unit },
        () => { Sinks.Versioned.writeDelta(t.shingleDelta, s"$root/sh"): Unit },
        () => { Sinks.Versioned.writeDelta(t.sizeDelta, s"$root/sz"): Unit },
        () => { Sinks.Versioned.writeDelta(t.tombDelta, s"$root/tomb"): Unit })
      stores.take(prefixLen).foreach(_.apply())
      // ...crash here; heal completes the suffix
      val healed = IncrementalCuration.heal(spark, root, "text", "doc_id")
      assert(healed === 6 - prefixLen, s"prefix $prefixLen healed $healed")
      assert(IncrementalCuration.heal(spark, root, "text", "doc_id") === 0)
      for (store <- Seq("edges", "curated", "sh", "sz", "tomb"))
        assert(sortedRows(Sinks.Versioned.readAt(spark, s"$root/$store", 1)) ===
          sortedRows(Sinks.Versioned.readAt(spark, s"$cleanRoot/$store", 1)),
          s"prefix $prefixLen: healed $store diverged from a clean publish")
      // and the pipeline continues normally after the heal
      assert(IncrementalCuration.publishIncrement(v3, root, "text", "doc_id") === 2)
      assertIdentity(v3,
        IncrementalCuration.edgesAt(spark, root, 2),
        IncrementalCuration.curatedAt(spark, root, 2), s"prefix $prefixLen v3")
    }

    // torn bootstraps: the first prefixLen stores of version 0 landed;
    // heal recomputes the rest from corpus v0
    val cleanBoot = java.nio.file.Files.createTempDirectory("inc-heal-boot-clean").toString
    IncrementalCuration.bootstrap(v1, cleanBoot, "text", "doc_id")
    for (prefixLen <- 1 to 5) {
      val root = java.nio.file.Files.createTempDirectory(s"inc-heal-boot-$prefixLen").toString
      val b = IncrementalCuration.bootstrapState(v1, "text", "doc_id")
      val stores: Seq[() => Unit] = Seq(
        () => { Sinks.Versioned.write(v1, s"$root/corpus"): Unit },
        () => { Sinks.Versioned.writeDelta(b.edges, s"$root/edges"): Unit },
        () => { Sinks.Versioned.writeDelta(b.shingles, s"$root/sh"): Unit },
        () => { Sinks.Versioned.writeDelta(b.sizes, s"$root/sz"): Unit },
        () => { Sinks.Versioned.writeDelta(b.tomb, s"$root/tomb"): Unit })
      stores.take(prefixLen).foreach(_.apply())
      val healed = IncrementalCuration.heal(spark, root, "text", "doc_id")
      assert(healed === 6 - prefixLen, s"bootstrap prefix $prefixLen healed $healed")
      assert(IncrementalCuration.heal(spark, root, "text", "doc_id") === 0)
      for (store <- Seq("corpus", "edges", "curated", "sh", "sz", "tomb"))
        assert(sortedRows(Sinks.Versioned.readAt(spark, s"$root/$store", 0)) ===
          sortedRows(Sinks.Versioned.readAt(spark, s"$cleanBoot/$store", 0)),
          s"bootstrap prefix $prefixLen: healed $store diverged from a clean bootstrap")
      assert(IncrementalCuration.publishIncrement(v2, root, "text", "doc_id") === 1)
      assertIdentity(v2,
        IncrementalCuration.edgesAt(spark, root, 1),
        IncrementalCuration.curatedAt(spark, root, 1), s"bootstrap prefix $prefixLen v2")
    }

    // shapes no crash leaves are refused, not healed: a store at the
    // target after one behind it (sh landed, edges did not), and a
    // store with no versions at a target above 0
    def refused(label: String)(tear: String => Unit): Unit = {
      val root = java.nio.file.Files.createTempDirectory(s"inc-heal-$label").toString
      tear(root)
      val e = intercept[IllegalArgumentException] {
        IncrementalCuration.heal(spark, root, "text", "doc_id")
      }
      assert(e.getMessage.contains("torn prefix"), s"$label: ${e.getMessage}")
    }
    refused("non-prefix") { root =>
      IncrementalCuration.bootstrap(v1, root, "text", "doc_id")
      val t = IncrementalCuration.transitionState(v1, v2,
        IncrementalCuration.readState(spark, root), "text", "doc_id")
      Sinks.Versioned.write(v2, s"$root/corpus"): Unit
      Sinks.Versioned.writeDelta(t.shingleDelta, s"$root/sh"): Unit
    }
    refused("empty-store") { root =>
      Sinks.Versioned.write(v1, s"$root/corpus"): Unit
      Sinks.Versioned.write(v2, s"$root/corpus"): Unit
    }
  }
  test("bootstrapState ≡ fullEdges, hashedShingles and shingleSizes on sf0.001 (rows and schema)") {
    import graft.operators.TextDedup
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val st = IncrementalCuration.bootstrapState(docs, "text", "doc_id")
    def same(got: DataFrame, want: DataFrame, label: String): Unit = {
      assert(got.schema === want.schema, s"$label schema")
      assert(sortedRows(got) === sortedRows(want), s"$label rows")
    }
    same(st.edges, IncrementalCuration.fullEdges(docs, "text", "doc_id"), "edges")
    same(st.shingles.drop("rel"), TextDedup.hashedShingles(docs, "text", "doc_id"),
      "shingle segment")
    same(st.sizes.drop("rel"), TextDedup.shingleSizes(docs, "text", "doc_id"),
      "size segment")
    assert(st.shingles.filter(col("rel") =!= 0).isEmpty &&
      st.sizes.filter(col("rel") =!= 0).isEmpty)
    assert(!st.shingles.isEmpty && !st.sizes.isEmpty)
  }

  test("a bootstrap shingles the corpus text in exactly one stage") {
    // the text column passes through a recording identity UDF: every
    // stage that reads (and so shingles) the text records its id
    TextReads.reset()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id").cast("long").as("doc_id"),
        TextReads.through(col("text")).as("text"))
    val nDocs = Tables.documents(spark, sf).count()
    val st = IncrementalCuration.bootstrapState(docs, "text", "doc_id")
    st.edges.collect(); st.shingles.collect(); st.sizes.collect()
    assert(TextReads.stages.size === 1,
      s"ledger and segments read the text in stages ${TextReads.stages}")
    assert(TextReads.rows.get === nDocs)
    // a full bootstrap publish: the one shingle pass, plus the corpus
    // snapshot's write
    TextReads.reset()
    val root = java.nio.file.Files.createTempDirectory("inc-boot").toString
    assert(IncrementalCuration.bootstrap(docs, root, "text", "doc_id") === 0)
    assert(TextReads.stages.size === 2,
      s"bootstrap read the text in stages ${TextReads.stages}")
    assert(TextReads.rows.get === 2 * nDocs)
  }
}

/** Records the stages and rows in which a text column is read (the
  * test session is local, so tasks run in this JVM). */
object TextReads {
  val stages: java.util.Set[Integer] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
  val rows = new java.util.concurrent.atomic.AtomicLong
  def reset(): Unit = { stages.clear(); rows.set(0) }
  private val record = org.apache.spark.sql.functions.udf { (s: String) =>
    stages.add(org.apache.spark.TaskContext.get().stageId())
    rows.incrementAndGet()
    s
  }
  def through(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = record(c)
}
