package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (the whole point of these operators):
  *   - exact dedup: one hash-aggregate on a 128-bit fingerprint — the
  *     shuffle carries (fingerprint, doc_id), never the text.
  *   - pairwise Jaccard is O(n²) worst-case and exists as the *oracle*
  *     for the approximate paths; at 100 TB you run MinHash+LSH, whose
  *     cost is O(n · k) hashing + a self-join on (band, bucket) that only
  *     materializes genuinely colliding candidates.
  *   - SimHash: one 64-bit signature per doc, candidates via banded
  *     prefix buckets, verification via popcount (bit_count(a ^ b)).
  * All expressions are Catalyst built-ins (xxhash64, transform,
  * aggregate) — no UDF in any hot path.
  */
object TextDedup {

  /** Exact dedup: canonical row per normalized-text fingerprint — keeps
    * the lowest `idCol`, reports the copy count.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(TextFunctions.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Exact near-dup oracle: all pairs with shingle-Jaccard ≥ threshold.
    * Posting-list pair generation over the hashed shingle stream:
    * |A∩B| from shared shingle hashes, |A∪B| from per-doc sizes. Correct
    * but quadratic in the worst case — use for verification and small
    * corpora; LSH below for scale.
    */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3, threshold: Double = 0.8,
                   maxPostings: Int = Int.MaxValue): DataFrame = {
    val sh = hashedShingles(df, textCol, idCol, n)
    jaccardPairsFromHashed(sh, sizesFromHashed(sh), threshold, maxPostings)
  }

  /** Subset-duplicate pairs by MAX-CONTAINMENT (Broder): |A∩B| / min(|A|,
    * |B|) ≥ threshold. Symmetric Jaccard misses a short document fully
    * quoted inside a long one (the intersection is tiny relative to the
    * union); containment flags exactly that — the snippet-duplication
    * case a curation pipeline wants a separate dial for. Same posting-
    * list pair generation and hot-shingle cap as [[jaccardPairs]].
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       maxPostings: Int = Int.MaxValue): DataFrame = {
    val sh = hashedShingles(df, textCol, idCol, n)
    pairCommonCountsFromHashed(sh, sizesFromHashed(sh), maxPostings)
      .withColumn("containment",
        col("common").cast("double") / least(col("sz_a"), col("sz_b")))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** (doc, set) pre-shingled form with the packed-pair-key id guard —
    * the frame [[lshRecallReport]] checkpoints ONCE and feeds to both
    * the exact and the LSH pipelines (shingling is the shared linear
    * pass; everything downstream diverges). Left lazy by the normal
    * single-pipeline callers, where Catalyst collapses it into the
    * projections it always ran.
    */
  private def shingleSetsGuarded(df: DataFrame, textCol: String,
                                 idCol: String, n: Int): DataFrame = {
    // Doc-id guard: pair keys are packed as (a << 32) | b, which silently
    // corrupts for negative ids or ids >= 2^32 (e.g. xxhash64-derived) —
    // assert the packable range per row instead of trusting a comment.
    val rawId = col(idCol).cast("long")
    val guardedId = when(
      assert_true(rawId >= 0 && rawId < lit(1L << 32),
        concat(lit("jaccardPairs: doc id "), rawId.cast("string"),
          lit(" outside [0, 2^32) — packed pair keys require uint32 ids"))).isNull,
      rawId)
    df.select(guardedId.as("doc"),
      TextFunctions.shingles(col(textCol), n).as("set"))
  }

  /** (doc, s) hashed-shingle rows — the one input of every exact-pair
    * path ([[jaccardPairs]], [[containmentPairs]], the incremental
    * ledger) and the persistable EXACT-screen analogue of
    * [[bandedSignatures]]: write it once per corpus state and every
    * release's delta×unchanged screen reads pre-hashed longs instead of
    * re-shingling the unchanged side's text
    * ([[jaccardPairsCrossStoredFromHashed]]). Join on the 64-bit
    * shingle hash, not the shingle string: the pair shuffles carry
    * 8-byte keys instead of ~8·n-byte strings. Counts are unchanged
    * short of an xxhash64 collision *within one document pair* (~2^-64
    * per shingle pair — negligible); a hash shared by two distinct
    * shingles of one doc emits two rows, so a screen over a persisted
    * copy is row-identical to one over the text.
    */
  def hashedShingles(docs: DataFrame, textCol: String, idCol: String,
                     n: Int = 3): DataFrame =
    hashedRows(shingleSetsGuarded(docs, textCol, idCol, n))

  /** (doc, s) rows of a (doc, set) frame, one xxhash64 per shingle.
    * `explode_outer` plus a null filter on the element, NOT `explode`:
    * for an `explode`, Catalyst's InferFiltersFromGenerate adds
    * `size(set) > 0 AND isnotnull(set)` below the Generate and pushes it
    * through the projection that computes `set`, so the whole shingling
    * (regex split + n-gram kernel) ran three times per document. The
    * outer form infers no filter; it emits one null element for an
    * empty or null set, which the filter drops. Shingle sets hold no
    * null elements, so the rows are exactly `explode`'s.
    */
  private def hashedRows(sets: DataFrame): DataFrame =
    sets.select(col("doc"), explode_outer(col("set")).as("s0"))
      .filter(col("s0").isNotNull)
      .select(col("doc"), xxhash64(col("s0")).as("s"))

  /** (doc, sz) distinct-shingle-set sizes of a (doc, s) stream — the ONE
    * size rule of every exact-pair path and of the persisted size
    * store. `sz` is the row count per doc: the stream holds one row per
    * distinct shingle string, so the count IS size(set), and a doc with
    * no shingles has no row (sz > 0 without a filter). `sz` is a
    * non-null int. A size(set) projection would shingle the text in a
    * stage of its own, and Catalyst pushes its `sz > 0` filter below
    * the shingling, which shingles it once more. The count is cheap:
    * explode output is contiguous per doc, so the partial aggregate
    * ships one row per doc per task.
    */
  def sizesFromHashed(hashed: DataFrame): DataFrame =
    hashed.groupBy("doc").agg(count(lit(1)).cast("int").as("sz"))

  /** (doc, sz) sizes of `docs`' shingle sets, sz > 0 — the denominator
    * side of the persisted exact screen (pairs with [[hashedShingles]]).
    */
  def shingleSizes(docs: DataFrame, textCol: String, idCol: String,
                   n: Int = 3): DataFrame =
    sizesFromHashed(hashedShingles(docs, textCol, idCol, n))

  /** Exact cross-frame Jaccard pairs from pre-hashed (doc, s) / (doc,
    * sz) frames ([[hashedShingles]] / [[sizesFromHashed]]): every (new,
    * corpus) doc pair with shingle-Jaccard ≥ threshold, new-side ×
    * corpus-side only (the two id sets must be disjoint; within-side
    * pairs come from [[jaccardPairsFromHashed]] on that side). This is
    * the EXACT counterpart of [[crossCorpusNearDups]] — use it where the
    * incremental result must be row-identical to a full [[jaccardPairs]]
    * recompute restricted to pairs touching the delta (the
    * [[graft.pipelines.IncrementalCuration]] edge-ledger contract); use
    * the banded LSH form for 100 TB screens that tolerate banding
    * recall. The corpus side is a persisted shingle store or a lazy
    * [[hashedShingles]] stream — the kernel cannot tell them apart.
    *
    * Scale shape: the corpus side is first pruned by a BROADCAST
    * semi-join on the delta's distinct shingle hashes — the corpus
    * stream is scanned but never shuffled; only rows sharing a hash
    * with the delta reach the pair join, so the shuffle is ∝ delta +
    * matches, not corpus. The broadcast is delta-sized by contract (a
    * monthly drop's distinct hashes); a release whose delta rivals the
    * corpus should run the full [[jaccardPairs]] recompute instead —
    * the prune buys nothing there and the broadcast would be
    * corpus-sized. The sizes join stays unhinted: `common` is
    * delta-bound, so AQE broadcasts it against the corpus's (doc, sz).
    */
  def jaccardPairsCrossStoredFromHashed(newHashed: DataFrame,
                                        newSizes: DataFrame,
                                        corpusShingles: DataFrame,
                                        corpusSizes: DataFrame,
                                        threshold: Double = 0.8): DataFrame = {
    val nh = newHashed.select(col("doc").as("new_id"), col("s"))
    val deltaKeys = nh.select("s").distinct()
    val pruned = corpusShingles.select(col("doc").as("corpus_id"), col("s"))
      .join(broadcast(deltaKeys), Seq("s"), "left_semi")
    val common = nh.join(pruned, Seq("s"))
      .filter(col("new_id") =!= col("corpus_id"))
      .groupBy("new_id", "corpus_id").agg(count(lit(1)).as("common"))
    common
      .join(newSizes.select(col("doc").as("new_id"), col("sz").as("sz_new")),
        Seq("new_id"))
      .join(corpusSizes.select(col("doc").as("corpus_id"),
        col("sz").as("sz_corpus")), Seq("corpus_id"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("sz_new") + col("sz_corpus") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "corpus_id", "jaccard")
  }

  /** [[jaccardPairs]] over a PRE-HASHED (doc, s) stream and its (doc,
    * sz) set sizes ([[hashedShingles]] / [[sizesFromHashed]]) — the
    * share-one-hash-pass entry point: a release that already
    * checkpointed its delta's hash frame (for the cross screen and the
    * store segments) gets its within-delta pairs from the same frame
    * instead of re-shingling the text.
    */
  def jaccardPairsFromHashed(hashed: DataFrame, sizes: DataFrame,
                             threshold: Double = 0.8,
                             maxPostings: Int = Int.MaxValue): DataFrame =
    pairCommonCountsFromHashed(hashed, sizes, maxPostings)
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** The within-set pair kernel behind every exact near-dup metric: one
    * row per candidate pair with the common-shingle count and both
    * docs' set sizes — (doc_a, doc_b, common, sz_a, sz_b).
    */
  private def pairCommonCountsFromHashed(sh: DataFrame, sizes: DataFrame,
                                         maxPostings: Int): DataFrame = {
    // Group each shingle's posting list once and emit doc pairs from it,
    // instead of a self-join: one shuffle on the shingle hash, no
    // sort-merge of the exploded table against itself. Singleton
    // shingles (the vast majority) are dropped before any pair work.
    //
    // maxPostings caps the per-shingle posting list: a pathologically hot
    // shingle (boilerplate shared by millions of docs) would otherwise
    // make the collect_set buffer unbounded AND emit O(hot²) pairs. The
    // cap is enforced BEFORE collect_set — a cheap fixed-buffer count
    // aggregate finds hot shingles, an anti-join (tiny right side, AQE
    // broadcasts it) removes them — so no aggregation buffer ever holds
    // more than maxPostings ids. Hot shingles are dropped WHOLE (a
    // stop-phrase that common carries no near-dup signal); use
    // [[hotShingleReport]] to observe what a cap drops — nothing is
    // truncated silently mid-list.
    // (doc, s) is already distinct — shingles() applies array_distinct —
    // so count(*) per shingle IS the posting size; no pre-distinct needed.
    // The hot-shingle pre-pass only runs when a cap is set: the default
    // (uncapped) form is the EXACT oracle and keeps the lean two-agg
    // plan, where `sh` streams lazily into the posting groupBy (and the
    // caller's size count) — no persist needed. The capped path reads
    // `sh` twice more (hot counts + anti-join), so only IT persists the
    // exploded stream, which the size count then reads too; deliberately
    // NOT unpersisted here — the returned frame is lazy and unpersisting
    // before the caller's action would recompute the pipeline twice.
    // Callers running many dedup jobs in one session should
    // spark.catalog.clearCache() between them.
    val kept =
      if (maxPostings == Int.MaxValue) sh
      else {
        val shP = sh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val hot = shP.groupBy("s").agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") > maxPostings)
          .select("s")
        shP.join(hot, Seq("s"), "left_anti")
      }
    val postings = kept
      .groupBy("s").agg(sort_array(collect_set(col("doc"))).as("ds"))
      .filter(size(col("ds")) > 1)
    // pair key packed into one long (doc ids < 2^32): single-word
    // group-by key, cheaper to hash and shuffle than a two-field struct.
    // Native expression (plans/PackedPairs): the composed
    // flatten/transform/slice form allocated O(m²) transient arrays per
    // posting list — measured as the 2× run-to-run swing of the exact
    // stage at sf10
    val pairs = postings.select(
        explode(graft.plans.PackedPairs.pairs(col("ds"))).as("pk"))
      .groupBy("pk")
      .agg(count(lit(1)).as("common"))
      .select(shiftright(col("pk"), 32).as("doc_a"),
        col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("doc_b"), col("common"))
    // no broadcast hint: at 100 TB the per-doc size table is itself large;
    // AQE converts these to broadcast joins at runtime when small enough.
    pairs
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
  }

  /** Eval-set decontamination screen: one row per corpus document
    * sharing at least one word n-gram with the evaluation set —
    * (id, n_hit, n_grams, overlap_frac). The standard pre-training
    * hygiene step (benchmark answers leaking into the corpus inflate
    * eval scores); flagged docs are dropped or audited.
    *
    * Scale shape: both sides reduce to 8-byte gram hashes before the
    * join — the shuffle never carries gram text. The eval side
    * deduplicates first (eval sets are tiny next to the corpus; AQE
    * broadcasts the hash set), so the corpus streams once through a
    * semi-join + one partial-aggregated count pair.
    */
  def contaminationReport(corpus: DataFrame, evalSet: DataFrame,
                          textCol: String, idCol: String, n: Int = 8): DataFrame = {
    // The hashed gram stream is PERSISTED and feeds both consumers (the
    // per-doc totals and the semi-join hits): unlike the lazy exact-pair
    // streams, recomputing is the wrong trade here — the cached rows are
    // 16-byte (doc, hash) pairs, SMALLER than the text they derive
    // from, while re-deriving them pays the tokenize + n-gram
    // construction a second time (measured 2.3× slower re-scanned).
    val cg = corpus
      .select(col(idCol).as("doc"),
        explode(TextFunctions.shingles(col(textCol), n)).as("g0"))
      .select(col("doc"), xxhash64(col("g0")).as("g"))
      // release: caller-scope (SCALE.md r17 persist audit)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eg = evalSet
      .select(explode(TextFunctions.shingles(col(textCol), n)).as("g0"))
      .select(xxhash64(col("g0")).as("g")).distinct()
    val tot = cg.groupBy("doc").agg(count(lit(1)).as("n_grams"))
    val hits = cg.join(eg, Seq("g"), "left_semi")
      .groupBy("doc").agg(count(lit(1)).as("n_hit"))
    hits.join(tot, "doc")
      .select(col("doc").as(idCol), col("n_hit"), col("n_grams"),
        (col("n_hit").cast("double") / col("n_grams")).as("overlap_frac"))
  }

  /** Observability companion for [[jaccardPairs]]'s `maxPostings` cap:
    * one row per shingle hotter than the cap — (shingle hash, posting
    * size) — plus nothing when no shingle exceeds it. Run this before
    * or after a capped dedup to see exactly which stop-phrases were
    * excluded and how many docs each covered; the cap itself never
    * truncates a list silently.
    */
  def hotShingleReport(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 3, maxPostings: Int = 100000): DataFrame =
    df.select(col(idCol).as("doc"),
        explode(TextFunctions.shingles(col(textCol), n)).as("s0"))
      .select(xxhash64(col("s0")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxPostings)
      .orderBy(col("n_docs").desc, col("s"))

  /** MinHash signature: k independent hash minima over the shingle set.
    *
    * Hash family: ONE xxhash64 over the shingle STRING, then k cheap
    * re-hashes of that 8-byte value (`xxhash64(h, i)`). Hashing a long k
    * times is far cheaper than hashing a ~8·n-byte string k times — the
    * thing that keeps the map side cheap when the corpus is 100 TB.
    * (An affine `a·h+b` family would be cheaper still but Spark 4 runs
    * ANSI mode where the deliberate wrap-around multiply throws.)
    * One exploded shuffle; map-side partial `min` keeps the shuffle at
    * one row per (partition, doc).
    */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, k: Int = 32): DataFrame = {
    // one-pass native expression (graft.plans.MinHashSig): signature per
    // row with NO shuffle — the explode+groupBy(min×k) formulation costs
    // an exchange over every (doc, shingle) pair. Docs with no shingles
    // (shorter than n words) are excluded, matching the aggregate form.
    val sh = df.select(col(idCol).as("doc"),
        TextFunctions.shingles(col(textCol), n).as("_sh"))
      .filter(size(col("_sh")) > 0)
    sh.select(col("doc"),
      graft.plans.MinHashSig.sig(col("_sh"), k).as("sig"))
  }

  /** (doc, sig, band, bucket) rows from a `(doc, sig)` signature frame —
    * THE band-hash definition, single home: the self-join
    * ([[minhashLshPairs]]), the observability report
    * ([[hotBucketReport]]), and the cross-corpus screen
    * ([[crossCorpusNearDups]]) all band through here, which is what
    * makes their buckets bit-compatible.
    */
  private[graft] def bandSigFrame(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    val bandCols = (0 until bands).map(b =>
      xxhash64(lit(b), slice(col("sig"), b * r + 1, r)))
    sigs.select(col("doc"), col("sig"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
  }

  /** The persistable cross-drop index: one (doc, sig, band, bucket) row
    * per (doc, band). Write it once per corpus state —
    * `bandedSignatures(corpus, ...).write.partitionBy("band").parquet(path)`
    * — and every subsequent drop screens against the RELOADED frame via
    * [[crossCorpusNearDupsBanded]] without re-hashing the corpus: the
    * increment then costs one signature pass over the new docs plus one
    * bucket join. Buckets are bit-compatible with [[minhashLshPairs]]
    * and [[hotBucketReport]] (same [[bandSigFrame]] band hash), so the
    * index one pipeline writes is the index every other screen reads.
    */
  def bandedSignatures(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 3, k: Int = 32, bands: Int = 8): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    bandSigFrame(minhashSignatures(df, textCol, idCol, n, k), k, bands)
  }

  /** Near-dup pairs BETWEEN a new batch and an existing corpus — the
    * incremental-ingestion shape: a daily drop screens against the
    * accumulated corpus WITHOUT re-pairing the corpus with itself
    * (old×old pairs were already resolved when those docs arrived).
    * Candidates are asymmetric (new × corpus) band-bucket matches,
    * verified by signature agreement like [[minhashLshPairs]].
    *
    * This convenience form hashes the corpus in-session; at scale,
    * persist [[bandedSignatures]] once and call
    * [[crossCorpusNearDupsBanded]] per drop instead.
    */
  def crossCorpusNearDups(newDocs: DataFrame, corpus: DataFrame,
                          textCol: String, idCol: String,
                          n: Int = 3, k: Int = 32, bands: Int = 8,
                          threshold: Double = 0.8,
                          maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    // the capped path consumes the corpus banding twice (bucket counts +
    // anti-join): persist the SIGNATURES — the expensive stage — so the
    // shingle/MinHash pipeline runs once (same discipline as
    // minhashLshPairs' self-join persist)
    val corpusSigs0 = minhashSignatures(corpus, textCol, idCol, n, k)
    val corpusSigs =
      if (maxBucketSize == Int.MaxValue) corpusSigs0
      // release: caller-scope (SCALE.md r17 persist audit)
      else corpusSigs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    crossCorpusNearDupsBanded(newDocs, bandSigFrame(corpusSigs, k, bands),
      textCol, idCol, n, k, bands, threshold, maxBucketSize)
  }

  /** [[crossCorpusNearDups]] against a PREBUILT (usually
    * reloaded-from-parquet) [[bandedSignatures]] corpus index —
    * `corpusBanded` must carry (doc, sig, band, bucket) built with the
    * same (n, k, bands). The per-drop production entry point: the
    * corpus text is never re-read, only the new docs are hashed.
    */
  def crossCorpusNearDupsBanded(newDocs: DataFrame, corpusBanded0: DataFrame,
                                textCol: String, idCol: String,
                                n: Int = 3, k: Int = 32, bands: Int = 8,
                                threshold: Double = 0.8,
                                maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val newBanded = bandSigFrame(
      minhashSignatures(newDocs, textCol, idCol, n, k), k, bands)
    // hot-bucket cap on the CORPUS side (the big one): same discipline
    // as minhashLshPairs — drop whole hot buckets, loudly observable
    val corpusBanded =
      if (maxBucketSize == Int.MaxValue) corpusBanded0
      else {
        val hot = corpusBanded0.groupBy("band", "bucket")
          .agg(count(lit(1)).as("m")).filter(col("m") > maxBucketSize)
          .select("band", "bucket")
        corpusBanded0.join(hot, Seq("band", "bucket"), "left_anti")
      }
    val candidates = newBanded
      .select(col("doc").as("new_id"), col("sig").as("sig_new"),
        col("band"), col("bucket"))
      .join(corpusBanded.select(col("doc").as("corpus_id"),
        col("sig").as("sig_corpus"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select("new_id", "corpus_id", "sig_new", "sig_corpus")
      .dropDuplicates("new_id", "corpus_id")
    candidates
      .withColumn("est_jaccard",
        graft.plans.SigAgree.agree(col("sig_new"), col("sig_corpus"))
          .cast("double") / k)
      .filter(col("est_jaccard") >= threshold)
      .select("new_id", "corpus_id", "est_jaccard")
  }

  /** MinHash+LSH candidate pairs: signatures banded into `bands` groups of
    * k/bands rows; docs colliding in ANY band become candidates; candidates
    * are verified by estimated Jaccard = fraction of agreeing signature
    * positions. For threshold t, bands/rows are tuned so P(candidate) ≈
    * 1-(1-t^r)^b is steep around t.
    */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      n: Int = 3, k: Int = 32, bands: Int = 8,
                      threshold: Double = 0.8,
                      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    // persist: the banded frame feeds both sides of the candidate
    // self-join — without it the whole shingle+signature pipeline runs
    // twice. release: caller-scope (SCALE.md r17 persist audit)
    val sigs = minhashSignatures(df, textCol, idCol, n, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded0 = bandSigFrame(sigs, k, bands)
    // maxBucketSize: the hot-bucket analogue of jaccardPairs'
    // maxPostings — a bucket shared by m docs (crawl boilerplate
    // collapsing to one signature band) emits m² candidate pairs. Hot
    // buckets are dropped WHOLE before the self-join via a fixed-buffer
    // count + anti-join; near-dup signal for their members survives in
    // the other bands. Use [[hotBucketReport]] to see what a cap drops —
    // nothing truncates silently. Default uncapped (exact LSH
    // semantics, lean plan).
    val banded =
      if (maxBucketSize == Int.MaxValue) banded0
      else {
        val hot = banded0.groupBy("band", "bucket")
          .agg(count(lit(1)).as("m"))
          .filter(col("m") > maxBucketSize)
          .select("band", "bucket")
        banded0.join(hot, Seq("band", "bucket"), "left_anti")
      }
    val a = banded.as("a"); val b = banded.as("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
    candidates
      .withColumn("est_jaccard",
        graft.plans.SigAgree.agree(col("sig_a"), col("sig_b"))
          .cast("double") / k)
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Engine-PORTABLE MinHash+LSH twin of [[minhashLshPairs]]: ONE md5
    * per shingle splits into two 48-bit halves (a, b) — parsable in any
    * engine (`conv(hex, 16, 10)` here, `('0x'||hex)::BIGINT` in DuckDB)
    * — and the k-function family is Kirsch–Mitzenmacher double hashing
    * `h_i = a + i·b` (≤ 2^52 for i < 16, no overflow under ANSI
    * arithmetic). Band buckets are `md5` of the "|"-joined band slice.
    * Every stage — shingling, signature minima, banding, candidate
    * join, est-Jaccard verify — is expressible in plain SQL, so the
    * FULL LSH pipeline is oracle-checkable in DuckDB (the native
    * [[minhashLshPairs]] rides on xxhash64, which no other engine
    * reproduces, and is golden-pinned instead). One digest per shingle
    * keeps even the verification twin map-side cheap.
    */
  def minhashLshPairsPortable(df: DataFrame, textCol: String, idCol: String,
                              n: Int = 3, k: Int = 16, bands: Int = 4,
                              threshold: Double = 0.5): DataFrame =
    minhashLshPairsPortableBanded(
      portableBanded(df, textCol, idCol, n, k, bands), k, threshold)

  private def minhashLshPairsPortableBanded(banded0: DataFrame, k: Int,
                                            threshold: Double): DataFrame = {
    // persist: the banded frame feeds both sides of the candidate
    // self-join (same discipline as minhashLshPairs' signature persist).
    // release: caller-scope (SCALE.md r17 persist audit)
    val banded = banded0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("est_jaccard",
        graft.plans.SigAgree.agree(col("sig_a"), col("sig_b"))
          .cast("double") / k)
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Portable (doc, sig, band, bucket) frame shared by
    * [[minhashLshPairsPortable]] and [[crossCorpusNearDupsPortable]] —
    * the md5-family analogue of [[bandSigFrame]]-over-
    * [[minhashSignatures]], kept in one place so the two portable
    * screens stay bucket-compatible with each other AND with their
    * DuckDB oracle mirrors.
    */
  private def portableBanded(df: DataFrame, textCol: String, idCol: String,
                             n: Int, k: Int, bands: Int): DataFrame =
    portableBandedFromSets(df.select(col(idCol).as("doc"),
      TextFunctions.shingles(col(textCol), n).as("set")), k, bands)

  private def portableBandedFromSets(shSets: DataFrame,
                                     k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    require(k <= 16, "k > 16 risks 64-bit overflow in the a + i*b family")
    val r = k / bands
    // ONE native pass per doc (plans/Md5MinHashSig) — value-identical to
    // the previous explode → groupBy(min×k) composition (spec'd against
    // it element-for-element) but map-side: the per-shingle exchange of
    // (doc, a, b) rows is gone, and only the band self-join shuffles.
    // The sig is NULL for an empty or null set, and such docs emit no
    // rows, as in the exploded form. That drop is a filter on the
    // GENERATOR's output (a null sig explodes to one null bucket): a
    // filter on `set` or `sig` would be pushed below the projection
    // that computes them and shingle each doc again (hashedRows' trap).
    val sigs = shSets
      .select(col("doc"), graft.plans.Md5MinHashSig.sig(col("set"), k).as("sig"))
    val bandCols = (0 until bands).map(b =>
      md5(concat_ws("|", slice(col("sig"), b * r + 1, r).cast("array<string>"))))
    sigs.select(col("doc"), col("sig"),
        posexplode_outer(when(col("sig").isNotNull, array(bandCols: _*)))
          .as(Seq("band", "bucket")))
      .filter(col("bucket").isNotNull)
  }

  /** Engine-portable twin of [[crossCorpusNearDups]] — same md5
    * double-hashing family as [[minhashLshPairsPortable]], so the full
    * asymmetric incremental screen (new × corpus banding, candidate
    * dedup, est-Jaccard verify) is DuckDB-oracle-checkable. The
    * xxhash64 production path stays golden-pinned.
    */
  def crossCorpusNearDupsPortable(newDocs: DataFrame, corpus: DataFrame,
                                  textCol: String, idCol: String,
                                  n: Int = 3, k: Int = 16, bands: Int = 4,
                                  threshold: Double = 0.8): DataFrame = {
    val newBanded = portableBanded(newDocs, textCol, idCol, n, k, bands)
    val corpusBanded = portableBanded(corpus, textCol, idCol, n, k, bands)
    newBanded
      .select(col("doc").as("new_id"), col("sig").as("sig_new"),
        col("band"), col("bucket"))
      .join(corpusBanded.select(col("doc").as("corpus_id"),
        col("sig").as("sig_corpus"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select("new_id", "corpus_id", "sig_new", "sig_corpus")
      .dropDuplicates("new_id", "corpus_id")
      .withColumn("est_jaccard",
        graft.plans.SigAgree.agree(col("sig_new"), col("sig_corpus"))
          .cast("double") / k)
      .filter(col("est_jaccard") >= threshold)
      .select("new_id", "corpus_id", "est_jaccard")
  }

  /** Observability companion for [[minhashLshPairs]]'s `maxBucketSize`
    * cap: one row per (band, bucket) hotter than the cap with its
    * member count — empty when no bucket exceeds it.
    */
  def hotBucketReport(df: DataFrame, textCol: String, idCol: String,
                      n: Int = 3, k: Int = 32, bands: Int = 8,
                      maxBucketSize: Int = 100000): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    bandSigFrame(minhashSignatures(df, textCol, idCol, n, k), k, bands)
      .groupBy("band", "bucket").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucketSize)
      .orderBy(col("n_docs").desc, col("band"), col("bucket"))
  }

  /** SimHash 64-bit signature per doc: per-bit vote over token hashes.
    * One-pass native expression (graft.plans.SimHashSig) — no shuffle;
    * the old explode + 64-conditional-sum aggregate carried 64 partial
    * columns per (partition, doc) through an exchange. Bit-compatible
    * with that formulation (same XXH64 seed-42 token hashes, ties → 0).
    * Empty docs are excluded, matching the aggregate form.
    */
  def simhashSignatures(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    df.select(col(idCol).as("doc"), TextFunctions.tokens(col(textCol)).as("_t"))
      .filter(size(col("_t")) > 0)
      .select(col("doc"), graft.plans.SimHashSig.sig(col("_t")).as("simhash"))
  }

  /** Engine-PORTABLE SimHash twin of [[simhashPairs]]: token hash = the
    * first 56 bits of md5 (14 hex chars — BIGINT-safe in every engine;
    * `conv` here, `('0x'||hex)::BIGINT` in DuckDB), signature = per-bit
    * majority vote over the 56 bits (ties → 0, same rule as the native
    * expression), candidates from 4×14-bit band buckets (hamming ≤ 3
    * collides in ≥1 band), verified with `bit_count(xor)`. Every stage
    * is plain SQL, so the full SimHash pipeline is oracle-checkable in
    * DuckDB; the xxhash64 native path stays golden-pinned. The 56
    * conditional-sum aggregate makes this the verification twin, not
    * the hot path ([[simhashSignatures]] is one native expression).
    */
  def simhashPairsPortable(df: DataFrame, textCol: String, idCol: String,
                           maxHamming: Int = 3): DataFrame = {
    val bits = 56
    val th = df.select(col(idCol).as("doc"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .select(col("doc"),
        conv(substring(md5(col("t")), 1, 14), 16, 10).cast("long").as("h"))
    val votes = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"_v$b"))
    val sigs = th.groupBy("doc")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc"),
        (0 until bits).map(b =>
          when(col(s"_v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
      // release: caller-scope (SCALE.md r17 persist audit)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandCols = (0 until 4).map(b =>
      shiftright(col("simhash"), b * 14).bitwiseAND(lit(0x3FFFL)))
    val banded = sigs.select(col("doc"), col("simhash"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs: candidates from 4×16-bit band buckets (a doc
    * pair within hamming distance ≤ maxHamming collides in ≥1 band when
    * maxHamming < 4), verified with popcount of XOR.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val sigs = simhashSignatures(df, textCol, idCol)
    val bandCols = (0 until 4).map(b =>
      shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)))
    val banded = sigs.select(col("doc"), col("simhash"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** LSH quality evaluation: recall/precision of the banded MinHash
    * screen against exact-Jaccard ground truth on the SAME corpus and
    * threshold — one row
    * (n_exact, n_lsh, n_hit, recall, precision). `recall` is the
    * fraction of true near-dup pairs the screen surfaces; `precision`
    * the fraction of surfaced pairs that are true (est-Jaccard can pass
    * the threshold when exact Jaccard does not, and vice versa). Both
    * are NULL (never NaN) when their denominator is zero.
    *
    * The measurement a pipeline runs BEFORE trusting banded LSH on the
    * full corpus: the exact stage is quadratic by design, so at 100 TB
    * this runs on a deterministic hash-sample
    * (`df.filter(TextFunctions.hashSampleFilterPortable(...))`) — recall
    * is a per-pair property, so a uniform doc sample estimates it
    * unbiasedly. Uses the engine-portable md5 LSH twin
    * ([[minhashLshPairsPortable]]) so the whole evaluation — both pair
    * pipelines and the confusion counts — is DuckDB-oracle-checkable.
    */
  /** Consecutive non-overlapping `blockTokens`-token blocks of each
    * document — the unit of block-level substring dedup. Map-side
    * fan-out of [[graft.functions.TextFunctions.chunkByTokens]] with
    * stride = block size (every token lands in exactly one block);
    * (id, block_idx, block_text, n_tokens). Empty docs emit nothing.
    */
  def tokenBlocks(df: DataFrame, textCol: String, idCol: String,
                  blockTokens: Int): DataFrame =
    TextFunctions.chunkByTokens(df, textCol, idCol,
        chunkTokens = blockTokens, strideTokens = blockTokens)
      .select(col(idCol), col("chunk_idx").as("block_idx"),
        col("chunk_text").as("block_text"), col("n_tokens"))

  /** Block-level EXACT substring dedup — the within- and across-document
    * complement of whole-doc dedup (the "exact substring" regime of Lee
    * et al. 2022, *Deduplicating Training Data Makes Language Models
    * Better*, at block granularity): a span duplicated across thousands
    * of documents (license headers, navigation chrome, quoted
    * boilerplate) survives whole-doc fingerprinting AND sub-threshold
    * Jaccard, yet is exactly what over-trains a model. Split every doc
    * into consecutive `blockTokens`-token blocks, keep the globally
    * FIRST occurrence of each distinct block (min (id, block_idx) over
    * its md5 — engine-portable, deterministic), drop every later
    * occurrence, and reassemble survivors in document order.
    *
    * Output: one row per non-empty doc —
    * (id, n_blocks, n_blocks_kept, n_tokens_removed, text_deduped);
    * a doc whose every block was seen earlier keeps the row with
    * text_deduped = "" (corpus accounting stays visible).
    *
    * Scale: block fan-out is map-side; the first-occurrence aggregate
    * shuffles (md5, packed id·idx) ONLY — never text — and is a plain
    * long-min, so it stays a partial-agg'd HashAggregate (a struct-min
    * would compile to SortAggregate: an extra per-partition sort over
    * EVERY block of the corpus). A block duplicated across millions of
    * docs costs map-side combining, not a hot reducer. The keep-set
    * joins back on (id, block_idx) — a perfectly-distributed key
    * regardless of how hot any block is (joining on the fingerprint
    * instead would funnel every copy of a hot block through one
    * partition). Text rides two shuffles (keep-join + reassembly); the
    * reassembly buffer is bounded by a single document's own length.
    * Ids must fit uint32 (same packed-key guard as [[jaccardPairs]] —
    * asserted per row, never silent).
    */
  def blockDedup(df: DataFrame, textCol: String, idCol: String,
                 blockTokens: Int = 16): DataFrame = {
    val blocks = tokenBlocks(df, textCol, idCol, blockTokens)
    val rawId = col(idCol).cast("long")
    val guardedId = when(
      assert_true(rawId >= 0 && rawId < lit(1L << 32),
        concat(lit("blockDedup: doc id "), rawId.cast("string"),
          lit(" outside [0, 2^32) — packed first-occurrence keys require uint32 ids"))).isNull,
      rawId)
    // lexicographic (id, idx) min == numeric min of (id << 32 | idx):
    // block_idx is a non-negative Int, so the low 32 bits never overflow
    val keepers = blocks
      .select(md5(col("block_text")).as("_fp"),
        (shiftleft(guardedId, 32) + col("block_idx")).as("_pk"))
      .groupBy("_fp")
      .agg(min(col("_pk")).as("_pk"))
      .select(shiftright(col("_pk"), 32).as(idCol),
        col("_pk").bitwiseAND(lit(0xFFFFFFFFL)).cast("int").as("block_idx"),
        lit(true).as("_keep"))
    blocks.withColumn(idCol, rawId)
      .join(keepers, Seq(idCol, "block_idx"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_blocks"),
        count(col("_keep")).as("n_blocks_kept"),
        coalesce(sum(when(col("_keep").isNull, col("n_tokens"))), lit(0))
          .cast("long").as("n_tokens_removed"),
        concat_ws(" ", transform(array_sort(collect_list(
            when(col("_keep").isNotNull,
              struct(col("block_idx"), col("block_text"))))),
          x => x.getField("block_text"))).as("text_deduped"))
  }

  /** Boilerplate blocks by document frequency: every distinct block
    * appearing in ≥ `minDocFreq` DISTINCT documents, with its frequency
    * and total occurrence count — the observability face of
    * [[stripBoilerplate]] (what WOULD be removed, and why).
    */
  def boilerplateReport(df: DataFrame, textCol: String, idCol: String,
                        blockTokens: Int = 8, minDocFreq: Int = 3): DataFrame =
    tokenBlocks(df, textCol, idCol, blockTokens)
      .groupBy("block_text")
      .agg(countDistinct(col(idCol)).as("doc_freq"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("doc_freq") >= minDocFreq)

  /** Strip boilerplate: remove EVERY occurrence of any block whose
    * distinct-document frequency ≥ `minDocFreq` (unlike [[blockDedup]],
    * which keeps the first). The frequency-threshold regime: a block
    * repeated across many documents is template chrome, not content —
    * no copy is worth keeping. Same per-doc output shape as
    * [[blockDedup]] with `text_cleaned`.
    *
    * Scale: the hot-block list holds only blocks above the threshold —
    * bounded by corpus_tokens / (blockTokens · minDocFreq) and in
    * practice tiny, so the exclusion join broadcasts; when it does not,
    * it is a hash join on the fingerprint where skew costs probe-side
    * partition size only (no sort, no buffering — AQE splits it).
    */
  def stripBoilerplate(df: DataFrame, textCol: String, idCol: String,
                       blockTokens: Int = 8, minDocFreq: Int = 3): DataFrame = {
    val blocks = tokenBlocks(df, textCol, idCol, blockTokens)
    val hot = blocks
      .groupBy(md5(col("block_text")).as("_fp"))
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") >= minDocFreq)
      .select(col("_fp"), lit(true).as("_hot"))
    blocks.withColumn("_fp", md5(col("block_text")))
      .join(hot, Seq("_fp"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_blocks"),
        count(when(col("_hot").isNull, 1)).as("n_blocks_kept"),
        coalesce(sum(when(col("_hot").isNotNull, col("n_tokens"))), lit(0))
          .cast("long").as("n_tokens_removed"),
        concat_ws(" ", transform(array_sort(collect_list(
            when(col("_hot").isNull,
              struct(col("block_idx"), col("block_text"))))),
          x => x.getField("block_text"))).as("text_cleaned"))
  }

  /** EXACT edit-distance self-join — typo-level near-dup and record
    * linkage (two titles/URLs/names that differ by one keystroke): all
    * pairs with levenshtein(a, b) ≤ 1, found via DELETION NEIGHBORHOODS
    * (the FastSS/SymSpell blocking): D(x) = {x} ∪ {x with one char
    * deleted}, and lev(a, b) ≤ 1 ⟺ D(a) ∩ D(b) ≠ ∅ (a substitution
    * deletes to the same string from both sides; an insertion deletes
    * to the other string). So candidates come from an equi-join on
    * neighborhood members — never an all-pairs comparison — and a
    * levenshtein verify removes the false candidates the shared-
    * deletion test admits (it bounds lev ≤ 2, not ≤ 1). The result is
    * EXACT, which is what makes the quadratic brute-force join a valid
    * oracle (the jaccardPairs-vs-LSH pattern, at edit-distance).
    *
    * Scale: neighborhood fan-out is map-side, len+1 variants per
    * string (short keys — titles, names, URLs; not documents). The
    * self-join shuffles (xxhash64(variant), id, string) — an 8-byte
    * join key; hash collisions are harmless (verified away). Pairs
    * dedup BEFORE the verify. Run exact-dup collapse first: m copies
    * of one string otherwise emit m² candidates per variant.
    */
  def editDistancePairs(df: DataFrame, strCol: String, idCol: String): DataFrame = {
    val s = col(strCol)
    val dels = when(length(s) >= 1,
      transform(sequence(lit(1), length(s)),
        i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s)))))
      .otherwise(array().cast("array<string>"))
    val variants = df.select(col(idCol).as("_id"), s.as("_s"),
      explode(array_distinct(concat(array(s), dels))).as("_v"))
      .select(col("_id"), col("_s"), xxhash64(col("_v")).as("_vh"))
    val a = variants.as("a"); val b = variants.as("b")
    a.join(b, col("a._vh") === col("b._vh") && col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        col("a._s").as("_sa"), col("b._s").as("_sb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("edit_distance", levenshtein(col("_sa"), col("_sb")))
      .filter(col("edit_distance") <= 1)
      .select(col("id_a"), col("id_b"), col("edit_distance"))
  }

  def lshRecallReport(df: DataFrame, textCol: String, idCol: String,
                      n: Int = 3, k: Int = 16, bands: Int = 4,
                      threshold: Double = 0.8): DataFrame = {
    // shingling is the shared linear pass of BOTH pipelines under
    // comparison — checkpoint the (doc, set) frame once and fan out,
    // instead of re-splitting the corpus three times (postings, sizes,
    // md5 signatures). On the evaluation sample this is the dominant
    // fixed cost; everything downstream diverges by design.
    val shSets = shingleSetsGuarded(df, textCol, idCol, n).localCheckpoint()
    val sh = hashedRows(shSets)
    val exact = jaccardPairsFromHashed(sh, sizesFromHashed(sh), threshold)
      .select(col("doc_a"), col("doc_b"), lit(1).as("_e"))
    val lsh = minhashLshPairsPortableBanded(
        portableBandedFromSets(shSets, k, bands), k, threshold)
      .select(col("doc_a"), col("doc_b"), lit(1).as("_l"))
    exact.join(lsh, Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("_e")).as("n_exact"), count(col("_l")).as("n_lsh"),
        count(when(col("_e").isNotNull && col("_l").isNotNull, 1)).as("n_hit"))
      .select(col("n_exact"), col("n_lsh"), col("n_hit"),
        when(col("n_exact") > 0,
          col("n_hit").cast("double") / col("n_exact")).as("recall"),
        when(col("n_lsh") > 0,
          col("n_hit").cast("double") / col("n_lsh")).as("precision"))
  }

  /** Bounded-error verdict for the xxhash64 fast-path LSH
    * ([[minhashLshPairs]]): its pair set is engine-specific (no SQL
    * engine implements xxhash64), but its QUALITY against exact-Jaccard
    * ground truth is a portable claim. Emits the truth-set size (an
    * exact count any engine reproduces) plus recall/precision verdict
    * booleans — the same confusion-matrix construction as
    * [[lshRecallReport]], collapsed to oracle-comparable columns.
    * Zero-denominator cases pass vacuously (no truth pairs → nothing
    * to recall).
    */
  def minhashVsExactReport(df: DataFrame, textCol: String, idCol: String,
                           n: Int = 3, k: Int = 32, bands: Int = 8,
                           threshold: Double = 0.5,
                           minRecall: Double = 0.9, minPrecision: Double = 0.9,
                           maxPostings: Int = Int.MaxValue): DataFrame = {
    val truth = jaccardPairs(df, textCol, idCol, n, threshold, maxPostings)
      .select(col("doc_a"), col("doc_b"), lit(1).as("_e"))
    val lsh = minhashLshPairs(df, textCol, idCol, n, k, bands, threshold)
      .select(col("doc_a"), col("doc_b"), lit(1).as("_l"))
    truth.join(lsh, Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("_e")).as("n_exact"), count(col("_l")).as("n_lsh"),
        count(when(col("_e").isNotNull && col("_l").isNotNull, 1)).as("n_hit"))
      .select(col("n_exact"),
        (col("n_exact") === 0 ||
          col("n_hit") >= col("n_exact") * minRecall).as("recall_ok"),
        (col("n_lsh") === 0 ||
          col("n_hit") >= col("n_lsh") * minPrecision).as("precision_ok"))
  }

  /** Deterministic FIXED-BUDGET document panel: the md5-top-`budget`
    * ids under `tag` (ties broken by id). The fixed-budget counterpart
    * of [[graft.functions.TextFunctions.md5SampleFilter]]: a FRACTION
    * keeps truth-twin cost a constant share of N² — still quadratic in
    * the corpus — while a fixed budget makes it SF-invariant (the
    * q_pq_planted pattern). Selection is one TakeOrdered pass; the SQL
    * replay is `ORDER BY md5(CAST(id AS VARCHAR) || ':tag'), id LIMIT
    * budget`.
    */
  def md5Panel(df: DataFrame, idCol: String, budget: Int,
               tag: String): DataFrame = {
    require(budget > 0, "panel budget must be positive")
    df.orderBy(md5(concat(col(idCol).cast("string"), lit(s":$tag"))),
        col(idCol))
      .limit(budget)
  }

  /** [[minhashVsExactReport]] with BOTH twins run on a FIXED md5
    * document panel — the SF-invariant form of
    * [[minhashVsExactSampledReport]] (whose fractional truth cost is
    * still (frac·N)², quadratic in the corpus — measured 5.2× for 10×
    * data on the sf1→sf10 decade). Restricting full-corpus LSH to
    * panel×panel EQUALS LSH-on-the-panel exactly (band/bucket
    * membership and signature-agreement verification are pairwise
    * properties), so the confusion matrix is per-pair unbiased on the
    * panel subpopulation either way — and the fractional form was
    * already evaluated this way in practice: Catalyst pushed its
    * doc_a/doc_b md5 filters below the candidate self-join, so the
    * "full-corpus" LSH side physically ran sample-sized (an explicit
    * post-hoc semi-join blocks that rewrite and measured corpus-sized,
    * 17 s at sf10 vs 3 s). Full-corpus LSH at scale stays exercised by
    * the gate's portable twins (q_minhash_pairs_md5 /
    * q_curate_lsh_md5).
    */
  def minhashVsExactBudgetReport(df: DataFrame, textCol: String, idCol: String,
                                 n: Int = 3, k: Int = 32, bands: Int = 8,
                                 threshold: Double = 0.5,
                                 minRecall: Double = 0.9,
                                 minPrecision: Double = 0.9,
                                 panelBudget: Int = 1280,
                                 panelTag: String = "mvp"): DataFrame = {
    // both twins consume the panel — select it once; project to the
    // two consumed columns BEFORE the persist so the scan stays pruned
    val panel = df.select(col(idCol), col(textCol)).join(
        md5Panel(df.select(col(idCol)), idCol, panelBudget, panelTag),
        Seq(idCol), "left_semi")
      // persist, not localCheckpoint: same select-once effect for the
      // two consumers, but the lineage (and its pruned scans) stays
      // visible to plan audits.
      // release: caller-scope (SCALE.md r17 persist audit)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truth = jaccardPairs(panel, textCol, idCol, n, threshold)
      .select(col("doc_a"), col("doc_b"), lit(1).as("_e"))
    val lsh = minhashLshPairs(panel, textCol, idCol, n, k, bands, threshold)
      .select(col("doc_a"), col("doc_b"), lit(1).as("_l"))
    truth.join(lsh, Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("_e")).as("n_exact_sampled"),
        count(col("_l")).as("n_lsh"),
        count(when(col("_e").isNotNull && col("_l").isNotNull, 1)).as("n_hit"))
      .select(col("n_exact_sampled"),
        (col("n_exact_sampled") === 0 ||
          col("n_hit") >= col("n_exact_sampled") * minRecall).as("recall_ok"),
        (col("n_lsh") === 0 ||
          col("n_hit") >= col("n_lsh") * minPrecision).as("precision_ok"))
  }

  /** [[minhashVsExactReport]] with the exact-Jaccard truth twin run on a
    * deterministic md5 document sample — the shape the verdict takes at
    * 100 TB, where the full quadratic truth set is not computable. The
    * LSH fast path still runs over the WHOLE corpus (it is the
    * production stage being graded); its pair set is then restricted to
    * pairs with both endpoints in the sample, which equals LSH-on-the-
    * sample exactly because band-bucket membership and signature-
    * agreement verification are pairwise properties (no corpus-global
    * state), so the confusion matrix over the subpopulation is an
    * unbiased per-pair estimate of corpus-wide recall/precision (each
    * pair surveys in with probability sampleFrac², uniformly).
    *
    * This is what the sf10 bench gate runs (SCALE.md "Round-11 gate
    * stabilization"): the full-exact twin stays on the sf0.01/sf0.1
    * oracle gates where it is cheap; at 100× it was 60-90% of the
    * query's cost and swung with JVM JIT state. The sampled count is
    * md5-deterministic, so this report is itself oracle-checkable.
    */
  def minhashVsExactSampledReport(df: DataFrame, textCol: String, idCol: String,
                                  n: Int = 3, k: Int = 32, bands: Int = 8,
                                  threshold: Double = 0.5,
                                  minRecall: Double = 0.9, minPrecision: Double = 0.9,
                                  sampleFrac: Double = 0.25): DataFrame = {
    require(sampleFrac > 0.0 && sampleFrac <= 1.0,
      s"sampleFrac must be in (0, 1], got $sampleFrac")
    import graft.functions.TextFunctions.md5SampleFilter
    val sampled = df.filter(md5SampleFilter(col(idCol), sampleFrac))
    val truth = jaccardPairs(sampled, textCol, idCol, n, threshold)
      .select(col("doc_a"), col("doc_b"), lit(1).as("_e"))
    val lsh = minhashLshPairs(df, textCol, idCol, n, k, bands, threshold)
      .filter(md5SampleFilter(col("doc_a"), sampleFrac) &&
        md5SampleFilter(col("doc_b"), sampleFrac))
      .select(col("doc_a"), col("doc_b"), lit(1).as("_l"))
    truth.join(lsh, Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("_e")).as("n_exact_sampled"),
        count(col("_l")).as("n_lsh"),
        count(when(col("_e").isNotNull && col("_l").isNotNull, 1)).as("n_hit"))
      .select(col("n_exact_sampled"),
        (col("n_exact_sampled") === 0 ||
          col("n_hit") >= col("n_exact_sampled") * minRecall).as("recall_ok"),
        (col("n_lsh") === 0 ||
          col("n_hit") >= col("n_lsh") * minPrecision).as("precision_ok"))
  }

  /** Bounded-error verdict for the xxhash64 SimHash path
    * ([[simhashPairs]]). Two portable claims replace the raw
    * (engine-specific) pair dump:
    *
    *  1. `identical_found_ok` — docs with byte-identical normalized text
    *     have identical signatures (hamming 0), so every such pair MUST
    *     appear in the banded output. The identical-pair count is exact
    *     and engine-reproducible (`md5(lower(trim(text)))` groups).
    *  2. `banded_equals_brute_ok` — by pigeonhole, 4 bands of 16 bits
    *     catch every pair at hamming ≤ 3, so the banded pair set must
    *     EQUAL the brute-force all-pairs set over the same signatures.
    *     Verified on a deterministic ~`bruteSample`-doc md5 subsample
    *     (the brute side is quadratic; the claim is per-pair, so a
    *     uniform sample checks it unbiasedly at any corpus size).
    */
  def simhashSelfCheckReport(df: DataFrame, textCol: String, idCol: String,
                             maxHamming: Int = 3,
                             bruteSample: Int = 2000): DataFrame = {
    val nonEmpty = df.filter(trim(col(textCol)) =!= "")
    // exact identical-text pair set (small groups: planted duplicates)
    val keyed = nonEmpty.select(col(idCol).as("doc"),
      md5(lower(trim(col(textCol)))).as("_h"))
    val identPairs = keyed.as("a").join(keyed.as("b"),
        col("a._h") === col("b._h") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = simhashPairs(df, textCol, idCol, maxHamming)
      .select(col("doc_a"), col("doc_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nIdent = identPairs.count()
    val missedIdent = identPairs.join(banded, Seq("doc_a", "doc_b"), "left_anti").count()

    // banded ≡ brute-force hamming over the same signatures, on a
    // bounded deterministic subsample (constant work at any scale)
    val nDocs = math.max(1L, nonEmpty.count())
    val rate = math.min(1.0, bruteSample.toDouble / nDocs)
    val sigs = simhashSignatures(df, textCol, idCol)
      .filter(TextFunctions.md5SampleFilter(col("doc"), rate))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val brute = sigs.as("a").join(sigs.as("b"), col("a.doc") < col("b.doc"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= maxHamming)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
    val sampleIds = sigs.select(col("doc"))
    val bandedSampled = banded
      .join(sampleIds.withColumnRenamed("doc", "doc_a"), Seq("doc_a"), "left_semi")
      .join(sampleIds.withColumnRenamed("doc", "doc_b"), Seq("doc_b"), "left_semi")
    val symdiff =
      bandedSampled.join(brute, Seq("doc_a", "doc_b"), "left_anti").count() +
        brute.join(bandedSampled, Seq("doc_a", "doc_b"), "left_anti").count()

    val spark = df.sparkSession
    import spark.implicits._
    val out = Seq((nIdent, missedIdent == 0L, symdiff == 0L))
      .toDF("n_identical_pairs", "identical_found_ok", "banded_equals_brute_ok")
    identPairs.unpersist(); banded.unpersist(); sigs.unpersist()
    out
  }

  /** Intra-document segment dedup — the C4 "discard duplicate lines" /
    * RefinedWeb line-dedup stage: split each document on a literal
    * separator, keep every distinct segment's FIRST occurrence (exact
    * match), re-join. Whole-corpus map work via the native one-pass
    * [[graft.plans.DedupSegments]] expression (the list-HOF
    * formulation is O(lines²) per doc and CodegenFallback) — zero
    * shuffle, zero state; at 100 TB this is pure scan parallelism and
    * composes with the streaming gates (scalar expression, no
    * aggregation). Output: segment counts before/after plus the
    * deduped text. Cross-doc dedup is [[blockDedup]]'s regime; this
    * operator never looks outside one document.
    */
  def dedupIntraDoc(df: DataFrame, textCol: String, idCol: String,
                    sep: String = "\n"): DataFrame = {
    // segment counts WITHOUT split(): Spark's StringSplit recompiles
    // its regex Pattern PER ROW (the round-12 hot-scan finding) —
    // occurrence counting via literal replace() is codegen'd string
    // work: segments = non-overlapping separator count + 1, identical
    // to split's boundary rule
    // Spark length() counts code points; sep.length would count UTF-16
    // units (wrong for non-BMP separators)
    val sepCp = sep.codePointCount(0, sep.length)
    def nSegs(c: Column): Column =
      ((length(c) - length(replace(c, lit(sep), lit("")))) / sepCp + 1)
        .cast("long")
    df.select(col(idCol),
        nSegs(col(textCol)).as("n_segments"),
        graft.plans.DedupSegments.dedup(col(textCol), sep).as("text_deduped"))
      .select(col(idCol), col("n_segments"),
        nSegs(col("text_deduped")).as("n_kept"),
        col("text_deduped"))
  }

  /** Winnowed character-k-gram fingerprints — the alignment-robust
    * selection behind substring-level dedup (the "ExactSubstr" regime:
    * long VERBATIM spans shared across documents, which shingle-Jaccard
    * near-dup misses when the rest of the two documents differ, and
    * block dedup misses when the span straddles block boundaries at
    * different offsets). Per document: hash every k-char gram (60-bit
    * md5 prefix — the repo's portable-hash convention), slide a window
    * of `w` consecutive gram hashes, keep each window's MINIMUM (first
    * position on ties), dedupe. The winnowing guarantee (public:
    * Schleimer/Wilkerson/Aiken, SIGMOD'03): any substring of length
    * ≥ k + w − 1 shared verbatim by two documents selects at least one
    * common fingerprint VALUE in both — window placement may differ
    * with alignment, but both sides' windows inside the shared run
    * cover the run's minimal hash. Fingerprint density ≈ 2/(w+1) per
    * character, so the emitted index is a bounded fraction of corpus
    * bytes.
    *
    * Output: one row per distinct (id, fp, pos) — `pos` the 1-based
    * char start of the selected gram. Documents shorter than k emit
    * nothing. Map-only (explode over per-row arrays); the O(n·k)
    * hashing and O(n·w) window mins are per-row scan work that scales
    * with executors — at 100 TB the budget knob is `w` (density) and a
    * pre-filter on the docs worth indexing.
    */
  def winnowedFingerprints(df: DataFrame, textCol: String, idCol: String,
                           k: Int = 30, w: Int = 10,
                           dedupeByFp: Boolean = false): DataFrame = {
    require(k >= 2 && w >= 1, s"winnowedFingerprints: bad k=$k / w=$w")
    // the native one-pass expression (plans/WinnowFp) — value-identical
    // to the Column composition (per-gram md5 prefix + per-window
    // array_min/array_position + array_distinct) that WinnowFpSpec
    // retains as the property witness, without its O(n·w) slice scans
    // or per-gram hex round-trips. With dedupeByFp the per-doc array
    // keeps ONE entry per fp value at its minimum position — the
    // map-side replacement for a groupBy(fp, id).agg(min(pos)) shuffle
    // over the full fingerprint stream (the span pipeline's former
    // largest exchange; WinnowFpSpec pins dedupe ≡ groupBy-min).
    df.select(col(idCol),
        explode(graft.plans.WinnowFp.fingerprints(col(textCol), k, w,
          dedupeByFp)).as("_x"))
      .select(col(idCol), col("_x.fp").as("fp"), col("_x.pos").as("pos"))
  }

  /** Document pairs sharing VERIFIED duplicated spans — candidates from
    * a [[winnowedFingerprints]] equi-join, then each candidate's span
    * text compared CHARACTER-EXACTLY at the recorded positions, so a
    * reported pair is ground truth (hash collisions verified away; the
    * guarantee inherited from winnowing: every pair sharing a verbatim
    * span of ≥ k + w − 1 chars is found). Output per pair: the number
    * of shared verified fingerprints and the first shared span's
    * positions.
    *
    * Scale shape: the join moves (fp, id, pos) triples, never text;
    * span verification joins text back BY ID (hash joins on the doc
    * key). Fingerprints shared by more than `maxDocFreq` documents are
    * dropped first — an f-doc fingerprint makes f(f−1)/2 pairs, and a
    * span that common is boilerplate, [[stripBoilerplate]]'s regime,
    * not pairwise dedup's (same observable-cap convention as the LSH
    * hot-bucket cap).
    */
  def dupSpanPairs(df: DataFrame, textCol: String, idCol: String,
                   k: Int = 30, w: Int = 10, maxDocFreq: Int = 64)
      : DataFrame =
    verifiedSpanSites(df, textCol, idCol, k, w, maxDocFreq)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_spans"),
        min(struct(col("pos_a"), col("pos_b"))).as("_first"))
      .select(col("id_a"), col("id_b"), col("n_spans"),
        col("_first.pos_a").as("pos_a"), col("_first.pos_b").as("pos_b"))

  /** Every VERIFIED shared anchor: (id_a < id_b, pos_a, pos_b) where
    * the k chars at pos_a in a equal the k chars at pos_b in b —
    * the shared site table [[dupSpanPairs]] aggregates and
    * [[stripDupSpans]] consumes.
    */
  private[operators] def verifiedSpanSites(
      df: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int, maxDocFreq: Int): DataFrame = {
    // fp-dedup happens INSIDE the native per-doc array (min pos kept),
    // so the fingerprint stream reaches its first shuffle already
    // unique per (fp, doc) — no groupBy(fp, id) exchange, and the two
    // self-join sides canonicalize identically for exchange reuse
    val fps = winnowedFingerprints(df, textCol, idCol, k, w,
      dedupeByFp = true)
    val hot = fps.groupBy("fp")
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDocFreq)
      .select("fp")
    val safe = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    val cand = safe.select(col("fp"), col(idCol).as("id_a"), col("pos").as("pos_a"))
      .join(safe.select(col("fp"), col(idCol).as("id_b"), col("pos").as("pos_b")),
        Seq("fp"))
      .filter(col("id_a") < col("id_b"))
    cand
      .join(df.select(col(idCol).as("id_a"), col(textCol).as("_ta")), Seq("id_a"))
      .join(df.select(col(idCol).as("id_b"), col(textCol).as("_tb")), Seq("id_b"))
      .filter(col("_ta").substr(col("pos_a"), lit(k)) ===
        col("_tb").substr(col("pos_b"), lit(k)))
      .select(col("id_a"), col("id_b"), col("pos_a"), col("pos_b"))
  }

  /** The ExactSubstr ACTION, keep-first: for every document that
    * shares verified anchors with a LOWER-id document, remove those
    * anchor ranges from its text — each removed character is verbatim
    * present in a surviving lower-id copy, by the same character-exact
    * verification as [[dupSpanPairs]]. Coverage of a maximal shared
    * run of length ≥ k + w − 1: winnowing selects an anchor at least
    * every w grams inside the run and k > w makes consecutive anchor
    * ranges overlap, so the run's interior is removed contiguously,
    * with ≤ w − 1 leading and k − 1 trailing chars of slack at the
    * edges (never MORE than the run — anchors are verified equal
    * content). Output per affected doc: anchor-site count, removed
    * char count, and the stripped text.
    *
    * Scale shape: the site table is pair-stage work (see
    * [[dupSpanPairs]]); the strip itself is map work per affected doc —
    * a per-char mask over the sorted span-start array (len × |sites|
    * lambda steps, both small). Losers join their span lists by id:
    * a hash join on the doc key, text moves once.
    */
  def stripDupSpans(df: DataFrame, textCol: String, idCol: String,
                    k: Int = 30, w: Int = 10, maxDocFreq: Int = 64)
      : DataFrame = {
    val spans = verifiedSpanSites(df, textCol, idCol, k, w, maxDocFreq)
      .select(col("id_b").as(idCol), col("pos_b").as("pos"))
      .distinct()
      .groupBy(idCol)
      .agg(sort_array(collect_set(col("pos"))).as("_ps"))
    val ch = split(col(textCol), "")
    val kept = zip_with(ch, sequence(lit(1), size(ch)), (c, i) =>
      when(!exists(col("_ps"), p => p <= i && i < p + k), c))
    df.join(spans, Seq(idCol))
      .select(col(idCol),
        size(col("_ps")).cast("long").as("n_anchor_sites"),
        col(textCol).as("_orig"),
        array_join(kept, "").as("text_stripped"))
      .select(col(idCol), col("n_anchor_sites"),
        (length(col("_orig")) - length(col("text_stripped")))
          .cast("long").as("n_chars_removed"),
        col("text_stripped"))
  }

  /** Incremental span screen: duplicated spans between a DROP of new
    * documents and the EXISTING corpus — the [[crossCorpusNearDups]]
    * shape at span granularity (corpus×corpus pairs were resolved when
    * those docs arrived; only new×corpus and the winnowing guarantee
    * for spans ≥ k + w − 1 matter per drop). Candidates come from an
    * asymmetric fingerprint equi-join; every candidate is verified
    * character-exactly at its recorded positions, like
    * [[dupSpanPairs]]. Corpus fingerprints shared by more than
    * `maxDocFreq` corpus docs are dropped (boilerplate regime).
    *
    * Scale shape per drop: hashing is Σ|drop| (the corpus fingerprint
    * frame is an ARGUMENT — persist
    * `winnowedFingerprints(corpus, dedupeByFp = true)` once,
    * ~2n/(w+1) narrow rows per corpus doc unique per (fp, doc) at min
    * pos — that uniqueness is the CONTRACT, a non-deduped index
    * inflates n_spans — and reuse it every drop; the verify stage
    * joins corpus TEXT by id only for the candidate ids). Output per (new_id, corpus_id): verified shared
    * span count + first positions.
    */
  def crossCorpusDupSpans(newDocs: DataFrame, corpus: DataFrame,
                          corpusFps: DataFrame, textCol: String,
                          idCol: String, k: Int = 30, w: Int = 10,
                          maxDocFreq: Int = 64): DataFrame = {
    val nf = winnowedFingerprints(newDocs, textCol, idCol, k, w,
      dedupeByFp = true)
    // the index contract: corpusFps rows are unique per (fp, doc) at
    // min pos — build with winnowedFingerprints(..., dedupeByFp=true).
    // Re-grouping here would re-shuffle the WHOLE index every drop
    // (cost ∝ corpus, the exact failure mode the band-index screen
    // documents), so the contract is on the builder, and the defensive
    // groupBy is gone.
    val cf = corpusFps
    val hot = cf.groupBy("fp")
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDocFreq)
      .select("fp")
    val cand = nf.join(broadcast(hot), Seq("fp"), "left_anti")
      .select(col("fp"), col(idCol).as("new_id"), col("pos").as("pos_new"))
      .join(cf.select(col("fp"), col(idCol).as("corpus_id"),
        col("pos").as("pos_corpus")), Seq("fp"))
    cand
      .join(newDocs.select(col(idCol).as("new_id"), col(textCol).as("_tn")),
        Seq("new_id"))
      .join(corpus.select(col(idCol).as("corpus_id"), col(textCol).as("_tc")),
        Seq("corpus_id"))
      .filter(col("_tn").substr(col("pos_new"), lit(k)) ===
        col("_tc").substr(col("pos_corpus"), lit(k)))
      .groupBy(col("new_id"), col("corpus_id"))
      .agg(count(lit(1)).as("n_spans"),
        min(struct(col("pos_new"), col("pos_corpus"))).as("_first"))
      .select(col("new_id"), col("corpus_id"), col("n_spans"),
        col("_first.pos_new").as("pos_new"),
        col("_first.pos_corpus").as("pos_corpus"))
  }

  /** Content-defined chunking (gear-hash CDC) — the dedup primitive for
    * content WITHOUT exploitable structure (blobs, transcripts, raw
    * dumps): cut points are a pure function of a short rolling window
    * of the content itself, so two payloads sharing a long run produce
    * IDENTICAL interior chunks at any byte offset — the property
    * fixed-size blocks lack (one inserted char shifts every later
    * block) and the reason every backup/dedup store chunks this way.
    *
    * Semantics, deliberately engine-portable and embarrassingly
    * parallel per position:
    *   - per-character gear value g(p) = first 16 bits of
    *     md5("gear:" + the character) — keyed by the character STRING
    *     (no code-point arithmetic to disagree on);
    *   - rolling fingerprint after position i = the Horner fold
    *     fold(a, x → (31a + x) mod 2⁴⁰) over g on the window
    *     [max(i−windowChars+1, 1), i] — bounded below 2⁴⁵ at every
    *     step, exact in
    *     any 64-bit engine. Base 31, not 2: with a base-2 fold the cut
    *     decision h mod 2^maskBits is a function of only the last
    *     maskBits characters, and text draws those from a ~60-symbol
    *     alphabet — measured 6× under-occurrence of the cut value (36
    *     zeros in 29.6k positions at mask 128). An odd base folds the
    *     WHOLE window into every bit and restores the ≈1/2^maskBits
    *     cut rate;
    *   - cut AFTER i when h(i) ≡ 0 (mod 2^maskBits) — expected chunk
    *     length 2^maskBits; the final position is always a cut.
    * No min/max chunk clamps: clamps make cut k depend on cut k−1 (a
    * sequential chain that neither parallelizes nor replays cheaply);
    * the pure rule keeps every position independent. Degenerate inputs
    * (a constant run can cut every position or never) are the
    * documented trade — texts are fine, adversarial blobs want the
    * clamped sequential variant.
    *
    * Returns one row per chunk: (idCol, pos, len, chunk_md5). Map-only
    * fan-out: no shuffle, no state; at 100 TB the chunk table is the
    * thing you aggregate/join, text never moves past this projection.
    *
    * Cut computation runs as the native one-pass expression
    * ([[graft.plans.GearCdc]]) — value-identical to the Column
    * composition it replaced (per-character gear md5s, per-position
    * windowed Horner fold; GearCdcSpec keeps that composition as the
    * property witness, and the q_cdc_dedup oracle replays it in SQL),
    * but with one md5 per DISTINCT character (cached) instead of one
    * per position, and the window fold updated incrementally instead
    * of re-folded per position (measured ~30× at sf10 — SCALE.md).
    * Still heavy relative to a plain scan, so run it once at ingest
    * and persist the chunk table (the band-index discipline).
    */
  def contentDefinedChunks(df: DataFrame, textCol: String, idCol: String,
                           maskBits: Int = 8, windowChars: Int = 16): DataFrame = {
    require(maskBits >= 1 && maskBits <= 30,
      s"contentDefinedChunks: maskBits must be in [1, 30], got $maskBits")
    require(windowChars >= 2 && windowChars <= 64,
      s"contentDefinedChunks: windowChars must be in [2, 64], got $windowChars")
    val t = col(textCol)
    df.filter(length(t) >= 1)
      .select(col(idCol), t.as("_t"),
        explode(graft.plans.GearCdc.chunks(t, maskBits, windowChars)).as("_c"))
      .select(col(idCol),
        col("_c.pos").as("pos"),
        col("_c.len").as("len"),
        md5(col("_t").substr(col("_c.pos"), col("_c.len"))).as("chunk_md5"))
  }
}
