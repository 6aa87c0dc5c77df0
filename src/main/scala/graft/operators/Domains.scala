package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL/domain-aware curation — the standard pretraining-corpus moves
  * (C4, RefinedWeb, Dolma) a web-scale pipeline runs before any
  * per-document quality gate can be trusted: canonicalize URLs so the
  * same page has ONE identity, reduce hosts to their registrable
  * domain, cap documents per domain (one mirror-heavy domain must not
  * dominate the corpus), and roll quality up per domain so domain-level
  * priors can feed sampling weights.
  *
  * Everything here is pure `Column` composition over built-in string
  * functions — no UDF, no explode in the canonical path — and every
  * rule is replayable in ANSI-ish SQL, so the DuckDB oracle verifies
  * each operator bit-exactly (q_url_canon / q_domain_cap /
  * q_domain_quality). [[urlCanonicalize]]'s query-param sort was the
  * one split+HOF holdout (per-row Pattern.compile plus three
  * CodegenFallback nodes, ~2 s per 500k sf10 docs — the documented
  * round-12 ingest-time trade); it is now the native one-pass
  * [[graft.plans.SortSegments]], so the whole canonical path, like
  * [[registeredDomain]], is regex-cached/HOF-free codegen'd work.
  *
  * Scale shape at 100 TB: canonicalize/registeredDomain are map-only.
  * The cap is a per-domain top-k — shuffle ON DOMAIN, never a global
  * sort; a hot domain (a crawl is usually ~zipfian over domains) goes
  * through the salted two-phase form, which is EXACT for top-k (the
  * global k smallest of a set are always among the per-bucket k
  * smallest), so the skew escape costs no correctness.
  */
object Domains {

  /** Two-label public-suffix snapshot for [[registeredDomain]]'s
    * heuristic: if a host's last two labels are one of these, the
    * registrable domain keeps three labels (bbc.co.uk), else two
    * (example.com). A documented approximation of the public-suffix
    * list covering the high-traffic ccTLD second levels; swap in a
    * fuller snapshot by passing `extraSuffixes`.
    */
  val multiPartSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk", "me.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in", "gov.in",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.mx", "com.ar", "com.tr", "com.sg", "com.hk", "com.tw",
    "com.my", "co.kr", "or.kr", "co.za", "org.za", "co.id", "co.th",
    "com.vn")

  private val schemeRe = "^([A-Za-z][A-Za-z0-9+.\\-]*)://"

  /** Canonical URL form. Rules (each chosen to be expressible with the
    * same built-ins in any SQL engine, so the oracle replays them):
    *   1. trim; strip the fragment (`#` to end);
    *   2. no `scheme://` → lowercase the remainder as-is (opaque id);
    *   3. scheme and host lowercase; userinfo (`user@`) dropped;
    *   4. default ports dropped (`:80` for http, `:443` for https),
    *      others kept;
    *   5. path: trailing slashes stripped, empty path → `/`;
    *   6. query: params split on `&`, empties dropped, sorted
    *      bytewise, rejoined; an empty query drops its `?`.
    * All regexes are single-branch character classes — deliberately
    * inside the proven-to-thread-scale java.util.regex subset (see
    * SCALE.md "The regex that would not parallelize").
    */
  def urlCanonicalize(u: Column): Column = {
    val noFrag = regexp_replace(trim(u), "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, schemeRe, 1))
    val rest = regexp_replace(noFrag, schemeRe, "")
    val auth = lower(regexp_replace(
      regexp_extract(rest, "^([^/?]*)", 1), "^[^@/]*@", ""))
    val port = regexp_extract(auth, ":([0-9]+)$", 1)
    val host = regexp_replace(auth, ":[0-9]+$", "")
    val defaultPort = (scheme === "http" && port === "80") ||
      (scheme === "https" && port === "443")
    val portPart = when(port === "" || defaultPort, lit(""))
      .otherwise(concat(lit(":"), port))
    val pathQ = regexp_replace(rest, "^[^/?]*", "")
    val rawPath = regexp_extract(pathQ, "^([^?]*)", 1)
    val strippedPath = regexp_replace(rawPath, "/+$", "")
    val path = when(strippedPath === "", lit("/")).otherwise(strippedPath)
    val query = when(pathQ.contains("?"),
      regexp_replace(pathQ, "^[^?]*\\?", "")).otherwise(lit(""))
    // native one-pass param sort — value-identical to the HOF chain
    // when(s === "", "").otherwise(concat("?", s)) for
    // s = array_join(array_sort(filter(split(q, "&"), x =!= "")), "&")
    // (SortSegmentsSpec pins the equivalence incl. a random-soup law)
    // without split's per-row Pattern.compile or the three
    // CodegenFallback HOF nodes. prefix = "?" matters beyond style:
    // it makes the "? only when params survive" conditional ONE
    // occurrence of the expression — the when/otherwise form names
    // `params` twice, and conditional branches get no cross-branch
    // subexpression elimination, so the ENTIRE regex chain feeding
    // `query` evaluated twice (full-tree A/B recorded in SCALE.md,
    // "The codegen that would not JIT").
    val queryPart = graft.plans.SortSegments.sorted(query, "&",
      dropEmpty = true, prefix = "?")
    when(scheme === "", lower(noFrag))
      .otherwise(concat(scheme, lit("://"), host, portPart, path, queryPart))
  }

  /** Canonical host of a URL: lowercased, userinfo and port stripped.
    * Accepts raw or canonicalized input (the rules are idempotent).
    */
  def hostOf(u: Column): Column = {
    val noFrag = regexp_replace(trim(u), "#.*$", "")
    val rest = regexp_replace(noFrag, schemeRe, "")
    val auth = lower(regexp_replace(
      regexp_extract(rest, "^([^/?]*)", 1), "^[^@/]*@", ""))
    regexp_replace(auth, ":[0-9]+$", "")
  }

  /** Host → registrable domain, by the [[multiPartSuffixes]] snapshot
    * heuristic: `news.bbc.co.uk` → `bbc.co.uk`, `a.b.example.com` →
    * `example.com`, a bare label passes through. Map-only at any scale,
    * and REGEX-FREE: the first form used `split(host, "\\.")`, and
    * Spark's StringSplit recompiles its Pattern on EVERY row
    * (regexp_replace/extract cache foldable patterns; split does not).
    * `substring_index` + a `translate` label count compute the same
    * values (including trailing-dot and empty-label hosts — the
    * `split(limit = -1)` semantics DomainsSpec pins) with plain byte
    * scans — measured 0.27 → 0.23 s over the 500k-doc sf10 corpus on a
    * cached host column, a modest win here but the honest general rule:
    * keep `split` off hot per-row paths (SCALE.md round-11/12 regex
    * findings).
    */
  def registeredDomain(host: Column,
                       extraSuffixes: Seq[String] = Nil): Column = {
    // #labels under split(limit=-1) = #dots + 1 (trailing empties kept)
    val n = length(host) - length(translate(host, ".", "")) + 1
    val last2 = substring_index(host, ".", -2)
    val last3 = substring_index(host, ".", -3)
    val suffixes = (multiPartSuffixes ++ extraSuffixes).map(lit(_))
    when(n <= 2, host)
      .otherwise(when(array_contains(array(suffixes: _*), last2), last3)
        .otherwise(last2))
  }

  /** Per-domain document cap — keep at most `k` documents per
    * registrable domain, chosen by DETERMINISTIC md5 order over the id
    * (so the kept set is a function of the data alone: any engine, any
    * partitioning, any run picks the same survivors — the same
    * portability convention as every md5 twin in this repo, and what
    * makes the cap DuckDB-oracle-replayable).
    *
    * `salt > 1` engages the exact two-phase form for zipfian domain
    * skew: phase 1 windows over (domain, md5-derived bucket) and keeps
    * k per bucket — the hot domain's rows spread over `salt` reducers —
    * phase 2 windows over domain on the ≤ salt·k survivors. Top-k by a
    * total order commutes over any partition of the rows, so the
    * result is IDENTICAL to the unsalted window (PropertySpec law);
    * both phases shuffle, so leave salt = 1 unless a domain is hot
    * enough to stall a reducer (the SKEW_CROSSOVER.json break-even
    * applies).
    *
    * Output: the input rows that survive, plus the derived `domain`
    * column. Never a SinglePartition window (PlanAuditSpec pin).
    */
  /** First name from `base`, `base_1`, … absent from `df` — helper
    * columns must never shadow (and then destroy) a user data column,
    * the same guard class `Joins.upsert` carries.
    */
  private def fresh(df: DataFrame, base: String): String = {
    var n = base
    var i = 0
    while (df.columns.contains(n)) { i += 1; n = s"${base}_$i" }
    n
  }

  def domainCap(df: DataFrame, urlCol: String, idCol: String, k: Int,
                salt: Int = 1, domainOut: String = "domain"): DataFrame = {
    require(k > 0, "domainCap: k must be positive")
    require(salt > 0, "domainCap: salt must be positive")
    require(!df.columns.contains(domainOut),
      s"domainCap: output column '$domainOut' already exists on the input — " +
        "pass a different domainOut")
    val ordName = fresh(df, "_dc_ord")
    val rn1Name = fresh(df, "_dc_rn1")
    val rnName = fresh(df, "_dc_rn")
    val withDom = df
      .withColumn(domainOut, registeredDomain(hostOf(col(urlCol))))
      .withColumn(ordName, md5(col(idCol).cast("string")))
    val phase1 =
      if (salt <= 1) withDom
      else {
        // bucket from the SAME md5 the order uses: deterministic, and
        // uniform over the hot domain's rows by construction
        val bucket = pmod(
          conv(substring(col(ordName), 1, 4), 16, 10).cast("long"), lit(salt))
        val w1 = Window.partitionBy(col(domainOut), bucket)
          .orderBy(col(ordName), col(idCol))
        withDom.withColumn(rn1Name, row_number().over(w1))
          .filter(col(rn1Name) <= k).drop(rn1Name)
      }
    val w = Window.partitionBy(col(domainOut))
      .orderBy(col(ordName), col(idCol))
    phase1.withColumn(rnName, row_number().over(w))
      .filter(col(rnName) <= k)
      .drop(rnName, ordName)
  }

  /** [[domainCap]] with a PER-DOMAIN budget — the authority-tiered
    * form of the cap: reputable domains keep more documents than
    * anonymous ones (RefinedWeb-style curation sets the budget from a
    * domain prior; the natural feed here is a [[Graph.pageRank]] tier
    * over [[Html.domainLinkGraph]], or [[domainQualityRollup]] means).
    *
    * `caps` is a (capDomainCol, kCol: int) table — one row per domain,
    * duplicates refused loudly (lazy in-plan assert, the
    * [[Joins.upsert]] discipline); domains absent from `caps` fall to
    * `defaultK`. Keep rule per domain is [[domainCap]]'s exactly: the
    * k(domain) md5-smallest ids, so the kept set replays in any
    * engine. The salted two-phase form stays correct with a per-domain
    * k because k is constant WITHIN each window partition — each salt
    * bucket over-keeps its own top-k(domain), and the final window
    * takes the true top-k(domain) of the union.
    *
    * Scale shape: one corpus shuffle on domain (the window the fixed-k
    * cap already pays); the caps table joins on the same key — at
    * domain-table size it broadcasts, and even shuffled it
    * co-partitions with the window exchange.
    */
  def domainCapTiered(df: DataFrame, urlCol: String, idCol: String,
                      caps: DataFrame, capDomainCol: String, kCol: String,
                      defaultK: Int, salt: Int = 1,
                      domainOut: String = "domain"): DataFrame = {
    require(defaultK > 0, "domainCapTiered: defaultK must be positive")
    require(salt > 0, "domainCapTiered: salt must be positive")
    require(!df.columns.contains(domainOut),
      s"domainCapTiered: output column '$domainOut' already exists on " +
        "the input — pass a different domainOut")
    val ordName = fresh(df, "_dc_ord")
    val rn1Name = fresh(df, "_dc_rn1")
    val rnName = fresh(df, "_dc_rn")
    val kName = fresh(df, "_dc_k")
    val chkName = fresh(df, "_dc_chk")
    val capW = Window.partitionBy(col(domainOut))
    // a caps row with a NULL or non-positive k is a data bug, not a
    // policy: NULL would silently alias defaultK (masking the broken
    // upstream join) and k <= 0 would silently delete the whole
    // domain — refuse both loudly, like domainCap's require(k > 0)
    val capsOne = caps
      .select(col(capDomainCol).as(domainOut), col(kCol).cast("int").as(kName))
      .withColumn(chkName, assert_true(
        count(lit(1)).over(capW) === 1 &&
          col(kName).isNotNull && col(kName) > 0,
        lit("domainCapTiered: caps table must have one row per domain " +
          "with k > 0 — found a duplicate domain, a null k, or k <= 0")))
      .filter(col(chkName).isNull).drop(chkName)
    val withDom = df
      .withColumn(domainOut, registeredDomain(hostOf(col(urlCol))))
      .withColumn(ordName, md5(col(idCol).cast("string")))
      .join(capsOne, Seq(domainOut), "left")
      .withColumn(kName, coalesce(col(kName), lit(defaultK)))
    val phase1 =
      if (salt <= 1) withDom
      else {
        val bucket = pmod(
          conv(substring(col(ordName), 1, 4), 16, 10).cast("long"), lit(salt))
        val w1 = Window.partitionBy(col(domainOut), bucket)
          .orderBy(col(ordName), col(idCol))
        withDom.withColumn(rn1Name, row_number().over(w1))
          .filter(col(rn1Name) <= col(kName)).drop(rn1Name)
      }
    val w = Window.partitionBy(col(domainOut))
      .orderBy(col(ordName), col(idCol))
    phase1.withColumn(rnName, row_number().over(w))
      .filter(col(rnName) <= col(kName))
      .drop(rnName, ordName, kName)
  }

  /** Per-domain quality rollup — the aggregate that turns the
    * document-level [[TextQuality.hashedLinearScore]] gate into
    * domain-level PRIORS (docs per domain, keep rate, mean score):
    * the input a per-domain sampling-weight or blocklist policy needs.
    * Domain derivation and scoring ride the SAME corpus scan (the
    * score is one codegen'd fold, [[graft.plans.HashedFeatScore]]);
    * the only shuffle is the partial-aggregated groupBy on domain.
    * Mean score is summed as DECIMAL from 9-dp-rounded per-doc scores
    * (the repo's cross-engine float determinism convention).
    */
  def domainQualityRollup(df: DataFrame, urlCol: String, textCol: String,
                          buckets: Int = 4096, cutoff: Double = 0.0)
      : DataFrame =
    finishDomainQuality(domainQualityState(df, urlCol, textCol, buckets, cutoff))

  /** The ADDITIVE half of [[domainQualityRollup]]: per-domain counts and
    * the DECIMAL score sum, no derived ratios. Every column is a sum or
    * count, so states MERGE by plain re-aggregation — the incremental
    * maintenance primitive: persist the state, and a daily refresh is
    * `finishDomainQuality(mergeDomainQuality(persisted, state(delta)))`
    * at cost ∝ |delta| (+ the domain-sized state), never a corpus
    * rescan. The q_domain_refresh oracle proves the algebra
    * cross-engine: merge(state(base), state(delta)) hash-matches DuckDB
    * computing the rollup DIRECTLY over base ∪ delta.
    */
  def domainQualityState(df: DataFrame, urlCol: String, textCol: String,
                         buckets: Int = 4096, cutoff: Double = 0.0)
      : DataFrame = {
    val sc = graft.plans.HashedFeatScore.featScore(col(textCol), buckets)
    val score = when(sc.getItem(0) > 0,
      sc.getItem(1).cast("double") / (sc.getItem(0) * 1000.0))
    df.select(
        registeredDomain(hostOf(col(urlCol))).as("domain"),
        score.as("_score"))
      .groupBy("domain")
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("_score")).as("n_scored"),
        sum(when(col("_score") > cutoff, 1L).otherwise(0L)).as("n_keep"),
        sum(round(col("_score"), 9).cast("decimal(38,9)")).as("score_sum"))
  }

  /** Merge [[domainQualityState]] frames by re-aggregation. Associative
    * and commutative (sums of sums), so any merge tree — daily deltas,
    * per-partition states, a year of increments — lands on the same
    * state as one direct pass.
    */
  def mergeDomainQuality(states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "mergeDomainQuality: no states")
    states.reduce(_ unionByName _)
      .groupBy("domain")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_scored")).as("n_scored"),
        sum(col("n_keep")).as("n_keep"),
        sum(col("score_sum")).as("score_sum"))
  }

  /** Derive the ratio columns from a (possibly merged) state — the
    * non-additive finishing step of [[domainQualityRollup]].
    */
  def finishDomainQuality(state: DataFrame): DataFrame =
    state
      .withColumn("keep_rate",
        col("n_keep").cast("double") / col("n_docs"))
      .withColumn("mean_score",
        // DECIMAL sum cast to double, THEN the double division — never
        // decimal/decimal division, whose result scale is engine-defined
        when(col("n_scored") > 0,
          col("score_sum").cast("double") / col("n_scored")))
      .drop("score_sum")

  /** Deterministic domain-prior sampling — the policy loop
    * [[domainQualityRollup]] exists to feed: each domain's keep rate
    * becomes a sampling probability (temperature-flattened via sqrt,
    * IEEE-exact in every engine, so low-quality domains are thinned
    * rather than zeroed and the weights replay bit-for-bit), each doc
    * keeps iff its md5 fraction clears the domain's threshold. The
    * comparison is INTEGER-exact cross-engine: both sides floor
    * weight·2⁶⁰ with one IEEE multiply, and the doc's 60-bit md5 prefix
    * compares as a plain BIGINT — no float boundary ambiguity.
    *
    * Scale shape: the rollup is domain-sized — the weight join
    * broadcasts; the verdict is then map-only on the corpus scan
    * (deterministic in doc_id + domain alone, any partitioning).
    * `floor` bounds every domain's weight away from 0 so rare-domain
    * coverage survives (the C4-family "don't let priors starve the
    * tail" move).
    */
  def domainPriorSample(df: DataFrame, urlCol: String, idCol: String,
                        textCol: String, buckets: Int = 4096,
                        cutoff: Double = 0.0, floor: Double = 0.05,
                        seed: String = "s1"): DataFrame = {
    require(!df.columns.contains("domain") && !df.columns.contains("weight"),
      "domainPriorSample: input must not already carry 'domain'/'weight' " +
        "output columns")
    val weights = finishDomainQuality(
        domainQualityState(df, urlCol, textCol, buckets, cutoff))
      // a null urlCol derives a null domain on BOTH sides, and the
      // null-safe join below would match them (null <=> null) — drop
      // the null-domain weight row so null-URL docs are excluded,
      // exactly as the equi-join semantics this operator documents
      // (the filter runs on the domain-sized build side: the corpus
      // scan stays single-evaluation)
      .filter(col("domain").isNotNull)
      .select(col("domain"),
        least(lit(1.0), greatest(sqrt(col("keep_rate")), lit(floor)))
          .as("weight"))
    val dom = df.withColumn("domain", registeredDomain(hostOf(col(urlCol))))
    val wDomain = fresh(df, "_w_domain")
    val hName = fresh(df, "_h")
    // null-SAFE join key on purpose: an equi-join would infer
    // isnotnull(domain) and push it through the projection, so the
    // whole url→host→domain chain would evaluate a second time inside
    // the scan filter (cross-operator subexpression elimination does
    // not span Filter/Project). <=> adds no such constraint — the
    // chain runs once — and is value-identical because the broadcast
    // side filtered its null-domain row above
    dom.join(broadcast(weights.withColumnRenamed("domain", wDomain)),
        col("domain") <=> col(wDomain))
      .drop(wDomain)
      .withColumn(hName, conv(substring(
          md5(concat(col(idCol).cast("string"), lit(seed))), 1, 15), 16, 10)
        .cast("long"))
      // 2^60 = 1152921504606846976; weight·2^60 floors identically in
      // any IEEE engine, so the keep set is a function of the data
      // alone. floor(), not a cast: double→long CASTS round in some
      // engines (DuckDB) and truncate in others (Spark)
      .filter(col(hName) < org.apache.spark.sql.functions
        .floor(col("weight") * lit(1152921504606846976L)).cast("long"))
      .drop(hName)
  }

  /** All dot-suffixes of a host, most-specific first:
    * "a.b.c" → ["a.b.c", "b.c", "c"]. Built from character positions
    * with codegen'd HOFs — deliberately NO `split`, which recompiles
    * its Pattern per row (the round-12 registeredDomain finding), and
    * no regex at all in this per-row path.
    */
  def hostSuffixes(host: Column): Column = {
    val dots = filter(sequence(lit(1), length(host)),
      i => host.substr(i, lit(1)) === ".")
    concat(array(host),
      transform(dots, p => host.substr(p + 1, length(host))))
  }

  /** URL blocklist screen — the UT1/"block these domains" move every
    * web-corpus pipeline runs before quality gates. Matching is
    * suffix-at-label-boundary: entry `site3.com` blocks host
    * `site3.com` AND `www.site3.com`, never `notsite3.com`. Each host
    * is charged to its MOST SPECIFIC (longest) matching entry — the
    * standard allow/deny-list precedence — or '' when no entry
    * matches.
    *
    * Returns `df` plus a `blocked_by` column (the matched entry, ''
    * if kept); filter `blocked_by === ""` for the kept corpus.
    *
    * Scale shape: the host explodes to its ≤ label-count suffixes
    * (bounded, tiny strings), the blocklist joins BROADCAST on suffix
    * equality (a 500k-entry list is a few MB — never shuffle the
    * corpus against it), hits aggregate map-combinably per row id,
    * and only HITS come back through the final join. The corpus
    * itself never shuffles when the optimizer broadcasts the hit side
    * (hits ≪ corpus); worst case it shuffles once on `idCol`.
    */
  /** The PER-ROW form of the blocklist verdict — a pure Column over a
    * literal entry list: the most specific (longest) entry matching the
    * host at a label boundary, '' if none. Same semantics as
    * [[blocklistScreen]] (DomainsSpec pins row-for-row equality), but
    * with no explode/join/aggregate it is usable ANYWHERE a map fits:
    * Structured Streaming screens (stateless — no watermark, no state
    * store), filter pushup positions, generated columns. The trade is
    * list size: cost is O(|entries|) comparisons per row against an
    * in-plan literal array, right for the usual 10²-10⁴-entry curated
    * lists; corpus-scale million-entry lists stay on the
    * explode+broadcast-join form.
    */
  def blocklistVerdict(host: Column, entries: Seq[String]): Column = {
    val arr = array(entries.map(e => lit(e.toLowerCase)): _*)
    val h = lower(host)
    val matches = filter(arr,
      b => h === b || endswith(h, concat(lit("."), b)))
    // longest match wins — fold instead of sort: one pass, no array copy
    aggregate(matches, lit(""),
      (acc, x) => when(length(x) > length(acc), x).otherwise(acc))
  }

  def blocklistScreen(df: DataFrame, idCol: String, hostCol: String,
                      blocklist: DataFrame, entryCol: String): DataFrame = {
    require(!df.columns.contains("blocked_by"),
      "blocklistScreen: input already has a 'blocked_by' column — " +
        "drop or rename it before re-screening (the verdict column " +
        "must never shadow existing data)")
    val sufName = fresh(df, "_suf")
    val hits = df
      .select(col(idCol),
        explode(hostSuffixes(lower(col(hostCol)))).as(sufName))
      .join(broadcast(blocklist.select(lower(col(entryCol)).as(sufName))),
        sufName)
      // a host's suffixes have strictly decreasing lengths, so the
      // struct-max is unique — longest match wins, no tie possible
      .groupBy(idCol)
      .agg(max(struct(length(col(sufName)).as("l"), col(sufName).as("e")))
        .as("_m"))
      .select(col(idCol), col("_m.e").as("blocked_by"))
    df.join(hits, Seq(idCol), "left")
      .withColumn("blocked_by", coalesce(col("blocked_by"), lit("")))
  }
}
