package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML handling for web-corpus curation: text extraction (the step
  * every pretraining pipeline runs before quality gates — C4,
  * RefinedWeb, Dolma) and outlink extraction (the edge list a URL
  * frontier / domain-graph analysis feeds on).
  *
  * Extraction semantics are DECLARED as the ordered regex/replace
  * chain in [[htmlToTextChain]] — eleven regex passes + six literal
  * replaces, all expressible in Spark and DuckDB alike, so the oracle
  * replays the operator bit-exactly. Production uses
  * [[graft.plans.HtmlToText]], the native three-scan expression
  * computing the identical value (equivalence pinned by HtmlSpec on
  * synthesized corpora, hand edges, and random tag soups); the chain
  * stays as the executable specification and the A/B baseline.
  *
  * Scale shape at 100 TB: both extractors are map-only scalar work —
  * no shuffle, no state. Link extraction explodes to one row per
  * href, then aggregates on (src_domain, dst_domain): the shuffle
  * carries domain pairs (bounded by the domain graph, not the crawl),
  * never page bodies.
  */
object Html {

  /** The executable specification: chain passes 1-7 (see
    * [[graft.plans.HtmlToText]] scaladoc for the rule list). Eleven
    * java.util.regex passes per document — correct but ~8× slower than
    * the native expression at sf10 (SCALE.md "HTML→text extraction,
    * native"); use
    * [[graft.plans.HtmlToText.of]] in production.
    */
  def htmlToTextChain(c: Column): Column = {
    val noComment = regexp_replace(c, "(?s)<!--.*?-->", "")
    val noScript = regexp_replace(noComment,
      "(?is)<script\\b[^>]*>.*?</script>", "")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?</style>", "")
    val blocksAsNl = regexp_replace(noStyle,
      "(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|blockquote)\\b[^>]*>",
      "\n")
    val noTags = regexp_replace(blocksAsNl, "(?s)<[^>]*>", "")
    val entities = replaceEntities(noTags)
    val ws1 = regexp_replace(entities, "[ \\t\\r\\f]+", " ")
    val ws2 = regexp_replace(ws1, " *\\n *", "\n")
    val ws3 = regexp_replace(ws2, "\\n+", "\n")
    trim(ws3, " \n")
  }

  /** Chain pass 6 alone: the six literal entity replaces, in the
    * declared order (`&amp;` LAST — an already-decoded `&amp;lt;`
    * becomes `&lt;` and stays, never double-decodes).
    */
  def replaceEntities(c: Column): Column = {
    val e1 = replace(c, lit("&lt;"), lit("<"))
    val e2 = replace(e1, lit("&gt;"), lit(">"))
    val e3 = replace(e2, lit("&quot;"), lit("\""))
    val e4 = replace(e3, lit("&#39;"), lit("'"))
    val e5 = replace(e4, lit("&nbsp;"), lit(" "))
    replace(e5, lit("&amp;"), lit("&"))
  }

  /** Native HTML → text (production path). */
  def htmlToText(c: Column): Column = graft.plans.HtmlToText.of(c)

  /** All double-quoted `href` targets of a document, in order —
    * `regexp_extract_all` with ONE cached pattern (no per-row compile;
    * `[^"]*` is in the proven thread-scaling regex subset). Relative
    * links and javascript: pseudo-URLs come out as written; filter or
    * canonicalize downstream.
    */
  def hrefTargets(html: Column): Column =
    regexp_extract_all(html, lit("href=\"([^\"]*)\""), lit(1))

  /** Simple-anchor (href, text) pairs of a document, in order — the
    * anchor-text signal web curation aggregates per TARGET domain (a
    * domain described by many independent pages as "official docs" vs
    * "cheap pills" is the classic off-page quality prior; search
    * stacks have used it since anchor-file BM25F).
    *
    * "Simple" is the contract: anchors whose text contains markup
    * (`<a ...><b>bold</b></a>`) do NOT match `([^<]*)` and are
    * excluded — by design, not accident (their text needs the full
    * extractor; callers wanting it compose [[htmlToText]] over the
    * anchor body). One cached two-group pattern, evaluated twice
    * (group 1, group 2) and zipped positionally — both
    * `regexp_extract_all` calls see the same match sequence, so the
    * zip is exact. Map-only scalar work.
    */
  def anchorPairs(html: Column): Column = {
    val re = lit("<a [^>]*href=\"([^\"]*)\"[^>]*>([^<]*)</a>")
    arrays_zip(
      regexp_extract_all(html, re, lit(1)).as("href"),
      regexp_extract_all(html, re, lit(2)).as("anchor"))
  }

  /** Anchor-text rollup per target domain: for every domain linked by
    * the corpus, the total anchor count, distinct linking pages, and
    * the most frequent anchor text (ties → lexicographically first).
    * Relative/markup/empty anchors drop ([[anchorPairs]] contract).
    *
    * Scale shape: explode per anchor, then two aggregations keyed by
    * (domain, anchor) / domain — the shuffle carries anchor STRINGS
    * and domains, never page bodies; the top-anchor pick is a
    * map-combinable struct-min (no window, no per-group lists).
    */
  def domainAnchorText(df: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    // the exploded anchor frame feeds TWO aggregations (per-anchor and
    // per-domain) keyed on different columns — no exchange reuse, so
    // without materialization the per-page regex extraction (the
    // expensive stage) would run once per consumer. The ccnetBuckets
    // rule: an operator consuming its input N times materializes it.
    val reliable = df.sparkSession.sparkContext.getCheckpointDir.isDefined
    val ex0 = df
      .select(col(urlCol).as("src_url"),
        explode(anchorPairs(col(htmlCol))).as("a"))
      .select(col("src_url"),
        Domains.registeredDomain(Domains.hostOf(col("a.href"))).as("dst_domain"),
        col("a.anchor").as("anchor"))
      .where(col("dst_domain") =!= "" && col("anchor") =!= "")
    val ex = if (reliable) ex0.checkpoint(eager = true)
             else ex0.localCheckpoint(eager = true)
    val byAnchor = ex.groupBy("dst_domain", "anchor")
      .agg(count(lit(1)).as("n"))
    val top = byAnchor.groupBy("dst_domain")
      .agg(min(struct((-col("n")).as("nn"), col("anchor"))).as("m"))
      .select(col("dst_domain"),
        col("m.anchor").as("top_anchor"), (-col("m.nn")).as("top_anchor_n"))
    ex.groupBy("dst_domain")
      .agg(count(lit(1)).as("n_anchors"),
        countDistinct(col("src_url")).as("n_pages"))
      .join(top, "dst_domain")
  }

  /** Domain-level link graph: one row per (src_domain, dst_domain)
    * with the link count and distinct linking pages — the edge list a
    * crawl frontier or a domain-PageRank prior feeds on. `df` carries
    * one page per row with its own URL (`urlCol`) and raw HTML
    * (`htmlCol`). The explode is per-href; aggregation shuffles domain
    * PAIRS only.
    */
  def domainLinkGraph(df: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    val src = Domains.registeredDomain(Domains.hostOf(col(urlCol)))
    df.select(col(urlCol).as("src_url"), src.as("src_domain"),
        explode(hrefTargets(col(htmlCol))).as("href"))
      .select(col("src_url"), col("src_domain"),
        Domains.registeredDomain(Domains.hostOf(col("href"))).as("dst_domain"))
      .where(col("dst_domain") =!= "")
      .groupBy("src_domain", "dst_domain")
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("src_url")).as("n_pages"))
  }
}
