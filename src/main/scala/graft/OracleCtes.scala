package graft

import graft.operators._

/** Shared DuckDB SQL fragments for the oracle registry — every CTE
  * chain used by more than one oracle entry (or too large to inline):
  * the synthetic-URL/domain replay, link graph + PageRank recursion,
  * DSIR fit, curation compositions, LSH/IVF/PQ ANN replays. Moved
  * out of SparkEntry with [[OracleSqlText]]/[[OracleSqlCore]] (round
  * 14 layout split). Pure SQL strings — no Spark dependencies beyond
  * the constants they replay ([[graft.operators.Domains]] suffixes,
  * [[graft.functions.TextFunctions]] sample thresholds).
  */
private[graft] object OracleCtes {

  /** The full curation composition: cluster dedup (recursive
    * reachability over exact-Jaccard pairs) + repetition gates,
    * assembled from the q_dedup_clusters and q_repetition oracle
    * pieces. Shared between q_curate_full (row-for-row) and
    * q_curate_lsh (kept count inside its agreement verdict).
    */
  /** Fixed-budget md5 document panel — the SQL replay of
    * [[graft.operators.TextDedup.md5Panel]] (SF-invariant truth cost;
    * the fractional form keeps a constant SHARE of N², still quadratic).
    */
  def panelDocsSrc(budget: Int, tag: String): String =
    s"(SELECT doc_id, text FROM documents ORDER BY md5(CAST(doc_id AS VARCHAR) || ':$tag'), doc_id LIMIT $budget)"

  /** DuckDB replay of [[TextQuality.dsirFitFx]] + [[TextQuality.dsirWeights]]:
    * refits the 4096-bucket add-0.5-smoothed log-ratio table from the
    * same `doc_id % 13` target split (same md5-leading-8-hex buckets as
    * the classifier oracles), quantizes with the same HALF_UP
    * `round(lr·1e6)`, and scores by join+SUM where Spark runs the
    * native zero-shuffle fold — the engines can only agree by landing
    * on identical fixed-point tables AND identical integer sums. Ends
    * in `sc(doc_id, n_feats, w_sum, logw)`.
    */
  lazy val dsirCtes: String =
    """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
      |f AS (SELECT doc_id, ws || [ws[i]||'_'||ws[i+1] for i in range(1, len(ws))] AS fs FROM t),
      |e AS (SELECT doc_id, unnest(fs) AS feat FROM f),
      |b AS (SELECT doc_id, ('0x' || substr(md5(feat), 1, 8))::BIGINT % 4096 AS bkt FROM e),
      |cnt AS (SELECT bkt,
      |   SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS ct,
      |   SUM(CASE WHEN doc_id % 13 <> 0 THEN 1 ELSE 0 END) AS cr
      |  FROM b GROUP BY bkt),
      |tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM cnt),
      |tab AS (SELECT bkt,
      |   CAST(round((ln((ct + 0.5)/(tt + 0.5*4096)) - ln((cr + 0.5)/(tr + 0.5*4096)))*1000000.0) AS BIGINT) AS fx
      |  FROM cnt, tot),
      |w AS (SELECT b.doc_id, SUM(tab.fx) AS w_sum FROM b JOIN tab USING (bkt) GROUP BY b.doc_id),
      |sc AS (SELECT f.doc_id, CAST(len(fs) AS BIGINT) AS n_feats,
      |   CAST(coalesce(w.w_sum, 0) AS BIGINT) AS w_sum,
      |   CASE WHEN len(fs) > 0 THEN CAST(coalesce(w.w_sum, 0) AS DOUBLE)/1000000.0 END AS logw
      |  FROM f LEFT JOIN w USING (doc_id))""".stripMargin

  /** DuckDB replay of [[synthUrl]] + [[Domains.urlCanonicalize]] +
    * [[Domains.registeredDomain]]: a WITH prefix ending in
    * `dom(doc_id, url, url_canon, host, domain)`. The suffix list is
    * the verbatim [[Domains.multiPartSuffixes]] snapshot.
    */
  /** [[Domains.multiPartSuffixes]] as a DuckDB list literal — shared by
    * every oracle that replays [[Domains.registeredDomain]].
    */
  lazy val suffixListSql: String =
    Domains.multiPartSuffixes.map("'" + _ + "'").mkString("[", ",", "]")

  lazy val urlDomainCtes: String = {
    val suffixes = suffixListSql
    s"""WITH hx AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
      |u AS (SELECT doc_id,
      |  ['http','HTTPS','Http','https'][(('0x'||substr(h,1,1))::BIGINT % 4)+1] || '://' ||
      |  ['','www.','News.','api.'][(('0x'||substr(h,2,1))::BIGINT % 4)+1] ||
      |  'site' || CAST(('0x'||substr(h,3,2))::BIGINT % 12 AS VARCHAR) || '.' ||
      |  ['com','org','co.uk','io','ac.jp'][(('0x'||substr(h,5,1))::BIGINT % 5)+1] ||
      |  ['',':80',':8080',':443'][(('0x'||substr(h,6,1))::BIGINT % 4)+1] ||
      |  ['','/','/a/b','/a/b/','/Index'][(('0x'||substr(h,7,1))::BIGINT % 5)+1] ||
      |  ['','?b=2&a=1','?a=1','?z=9&y=8&z=1&'][(('0x'||substr(h,8,1))::BIGINT % 4)+1] ||
      |  ['','#Frag'][(('0x'||substr(h,9,1))::BIGINT % 2)+1] AS url
      | FROM hx),
      |c1 AS (SELECT doc_id, url, regexp_replace(trim(url), '#.*$$', '') AS nf FROM u),
      |c2 AS (SELECT *, lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
      |        regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS rest FROM c1),
      |c3 AS (SELECT *, lower(regexp_replace(regexp_extract(rest, '^([^/?]*)', 1), '^[^@/]*@', '')) AS auth FROM c2),
      |c4 AS (SELECT *, regexp_extract(auth, ':([0-9]+)$$', 1) AS port,
      |        regexp_replace(auth, ':[0-9]+$$', '') AS host FROM c3),
      |c5 AS (SELECT *, CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
      |                        OR (scheme = 'https' AND port = '443') THEN ''
      |                 ELSE ':' || port END AS portpart,
      |        regexp_replace(rest, '^[^/?]*', '') AS pathq FROM c4),
      |c6 AS (SELECT *, regexp_extract(pathq, '^([^?]*)', 1) AS rawpath,
      |        CASE WHEN contains(pathq, '?') THEN regexp_replace(pathq, '^[^?]*\\?', '') ELSE '' END AS qry FROM c5),
      |c7 AS (SELECT *, CASE WHEN regexp_replace(rawpath, '/+$$', '') = '' THEN '/'
      |                 ELSE regexp_replace(rawpath, '/+$$', '') END AS pth,
      |        coalesce(array_to_string(list_sort(list_filter(string_split(qry, '&'), x -> x <> '')), '&'), '') AS params FROM c6),
      |canon AS (SELECT doc_id, url, host,
      |   CASE WHEN scheme = '' THEN lower(nf)
      |        ELSE scheme || '://' || host || portpart || pth ||
      |             CASE WHEN params = '' THEN '' ELSE '?' || params END END AS url_canon
      | FROM c7),
      |d1 AS (SELECT *, string_split(host, '.') AS ls, len(string_split(host, '.')) AS n FROM canon),
      |dom AS (SELECT doc_id, url, url_canon, host,
      |   CASE WHEN n <= 2 THEN host
      |        WHEN list_contains($suffixes, ls[n-1] || '.' || ls[n])
      |          THEN ls[n-2] || '.' || ls[n-1] || '.' || ls[n]
      |        ELSE ls[n-1] || '.' || ls[n] END AS domain
      | FROM d1)""".stripMargin
  }

  /** The q_cdc_dedup planted suffix, shared verbatim by the Spark query
    * (as a lit) and the oracle (as a SQL literal — no quotes in the
    * content by construction).
    */
  lazy val cdcPromoSql: String = (1 to 9).map(k =>
    s" CDCPROMO section $k rights reserved contact admin example com item $k end").mkString

  /** [[urlDomainCtes]] extended with the outlink replay: [[linkHtml]]
    * rebuilt arithmetically, hrefs re-extracted with the same regex,
    * hostOf + registeredDomain replayed per target. Ends in
    * `dstd(doc_id, dst_domain)` (relative links → domain ''); `dom`
    * from the prefix carries the src side. Shared by the q_link_graph
    * and q_pagerank oracles.
    */
  lazy val linkGraphCtes: String =
    s"""$urlDomainCtes,
      |lh AS (SELECT doc_id,
      |  '<p><a href="https://WWW.Site' || CAST((doc_id*7+3)%12 AS VARCHAR) || '.' ||
      |   ['com','org','co.uk','io','ac.jp'][CAST((doc_id*13+5)%5 AS INT)+1] ||
      |  '/a">x</a> <a href="http://media.site' || CAST((doc_id*11+1)%12 AS VARCHAR) || '.' ||
      |   ['com','net','org.uk','io','ne.jp'][CAST((doc_id*3+2)%5 AS INT)+1] ||
      |  '">y</a> <a href="/local">r</a></p>' AS html FROM documents),
      |lk AS (SELECT doc_id, unnest(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS href FROM lh),
      |dh AS (SELECT doc_id, lower(regexp_replace(regexp_extract(regexp_replace(
      |    regexp_replace(trim(href), '#.*$$', ''),
      |    '^[A-Za-z][A-Za-z0-9+.\\-]*://', ''), '^([^/?]*)', 1), '^[^@/]*@', '')) AS auth FROM lk),
      |dh2 AS (SELECT doc_id, regexp_replace(auth, ':[0-9]+$$', '') AS host FROM dh),
      |dd AS (SELECT doc_id, host, string_split(host, '.') AS ls, len(string_split(host, '.')) AS n FROM dh2),
      |dstd AS (SELECT doc_id,
      |   CASE WHEN n <= 2 THEN host
      |        WHEN list_contains($suffixListSql, ls[n-1] || '.' || ls[n]) THEN ls[n-2] || '.' || ls[n-1] || '.' || ls[n]
      |        ELSE ls[n-1] || '.' || ls[n] END AS dst_domain FROM dd)""".stripMargin

  /** The full q_pagerank/q_pagerank_resume oracle: distinct domain
    * edges from the link-graph CTEs, then the 8-round unrolled
    * recursion. The resume query shares it verbatim — warm start over
    * unchanged edges IS the continued recursion.
    */
  lazy val pageRankOracleSql: String =
    s"""$linkGraphCtes,
      |edges AS (SELECT DISTINCT d.domain AS src, t.dst_domain AS dst
      |  FROM dom d JOIN dstd t USING (doc_id) WHERE t.dst_domain <> ''),
      |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |outd AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
      |prr0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
      |$pageRankIterSql
      |SELECT node AS domain, r AS rank_fp FROM prr8
      |ORDER BY rank_fp DESC, domain""".stripMargin

  /** The q_pagerank oracle's 8 unrolled fixed-point iterations (CTEs
    * prc1/prr1 … prc8/prr8 over `edges`/`nodes`/`outd`/`r0`) — the same
    * recursion [[graft.operators.Graph.pageRank]] runs, scale 10⁹,
    * teleport 150000000 = 0.15·scale.
    */
  lazy val pageRankIterSql: String = (1 to 8).map { i =>
    s"""prc$i AS (SELECT e.dst AS node, sum((r.r * 85) // (100 * o.od)) AS c
       |  FROM edges e JOIN prr${i - 1} r ON r.node = e.src
       |  JOIN outd o ON o.src = e.src GROUP BY e.dst),
       |prr$i AS (SELECT n.node, CAST(150000000 + COALESCE(c.c, 0) AS BIGINT) AS r
       |  FROM nodes n LEFT JOIN prc$i c USING (node))""".stripMargin
  }.mkString(",\n")

  /** [[urlDomainCtes]] extended with the classifier replay and the
    * per-domain ADDITIVE aggregate `agg(domain, n_docs, n_scored,
    * n_keep, score_sum)` — shared by the q_domain_quality /
    * q_domain_refresh / q_domain_sample oracles.
    */
  lazy val domainAggCtes: String =
    s"""$urlDomainCtes,
      |t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
      |f AS (SELECT doc_id, ws || [ws[i]||'_'||ws[i+1] for i in range(1, len(ws))] AS fs FROM t),
      |sc AS (SELECT doc_id, CAST(len(fs) AS BIGINT) AS n_feats,
      |  CAST(coalesce(list_aggregate(list_transform(fs,
      |    x -> (('0x' || substr(md5(x), 1, 8))::BIGINT % 4096) % 2001 - 1000), 'sum'), 0) AS BIGINT) AS w_sum
      | FROM f),
      |scored AS (SELECT doc_id,
      |  CASE WHEN n_feats > 0 THEN CAST(w_sum AS DOUBLE)/(n_feats * 1000.0) END AS score
      | FROM sc),
      |agg AS (SELECT d.domain,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(s.score) AS BIGINT) AS n_scored,
      |  CAST(coalesce(sum(CASE WHEN s.score > 0.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_keep,
      |  CAST(sum(CAST(round(s.score, 9) AS DECIMAL(38,9))) AS DOUBLE) AS score_sum
      | FROM dom d JOIN scored s ON d.doc_id = s.doc_id GROUP BY d.domain)""".stripMargin

  lazy val domainQualitySql: String =
    s"""$domainAggCtes
      |SELECT domain, n_docs, n_scored, n_keep,
      |  CAST(n_keep AS DOUBLE)/n_docs AS keep_rate,
      |  CASE WHEN n_scored > 0 THEN score_sum/n_scored END AS mean_score
      |FROM agg ORDER BY domain""".stripMargin

  def curateFullSqlOver(src: String): String =
    s"""WITH RECURSIVE w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM $src),
      |sh AS (SELECT doc_id, unnest(list_distinct([ws[i]||'_'||ws[i+1]||'_'||ws[i+2] for i in range(1, len(ws)-1)])) AS s FROM w),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      | FROM sh a JOIN sh b ON a.s=b.s AND a.doc_id<b.doc_id GROUP BY 1, 2),
      |prs AS (SELECT doc_a, doc_b FROM cand
      | JOIN sizes sa ON doc_a=sa.doc_id JOIN sizes sb ON doc_b=sb.doc_id
      | WHERE CAST(common AS DOUBLE)/(sa.sz+sb.sz-common) >= 0.8),
      |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs UNION SELECT doc_b, doc_a FROM prs),
      |reach(node, comp) AS (SELECT u, u FROM edges
      | UNION SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v=r.node),
      |comps AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node),
      |grams AS (SELECT doc_id, unnest([ws[i]||'_'||ws[i+1] for i in range(1, len(ws))]) AS gram FROM w),
      |gcnt AS (SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2),
      |tp AS (SELECT doc_id, max(cnt) AS topcnt, sum(cnt) AS total FROM gcnt GROUP BY doc_id),
      |rep AS (SELECT w.doc_id,
      |  CAST(len(ws) AS BIGINT) AS n_tokens,
      |  CAST(len(ws)-len(list_distinct(ws)) AS DOUBLE)/greatest(len(ws), 1) AS dup_token_frac,
      |  COALESCE(CAST(t.topcnt AS DOUBLE)/t.total, 0.0) AS top_ngram_frac
      | FROM w LEFT JOIN tp t USING (doc_id))
      |SELECT r.doc_id, r.n_tokens, r.dup_token_frac, r.top_ngram_frac
      |FROM rep r LEFT JOIN comps c ON r.doc_id = c.node
      |WHERE COALESCE(c.comp, r.doc_id) = r.doc_id
      | AND r.n_tokens >= 25 AND r.dup_token_frac <= 0.65 AND r.top_ngram_frac <= 0.15
      |ORDER BY doc_id""".stripMargin

  val curateFullSql: String = curateFullSqlOver("documents")

  /** q_curate_full's CC + repetition-gate oracle with the pair stage
    * swapped for the portable-LSH CTEs of q_minhash_pairs_md5 —
    * est_jaccard >= 0.8 means >= 13 of 16 positions agree. Shared
    * between q_curate_lsh_md5 (row-for-row) and q_curate_lsh (kept
    * count inside its agreement verdict).
    */
  val curateLshMd5Sql: String =
    s"""WITH RECURSIVE w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct([ws[i]||'_'||ws[i+1]||'_'||ws[i+2] for i in range(1, len(ws)-1)])) AS s FROM w),
       |ab AS (SELECT doc_id,
       |  ('0x' || substr(md5(s), 1, 12))::BIGINT AS a,
       |  ('0x' || substr(md5(s), 13, 12))::BIGINT AS b FROM sh),
       |sig AS (SELECT doc_id,
       |  [${(0 until 16).map(i => s"min(a + $i*b)").mkString(", ")}] AS sig
       | FROM ab GROUP BY doc_id),
       |bd AS (SELECT doc_id, sig, band,
       |  md5(array_to_string(list_slice(sig, band*4+1, band*4+4), '|')) AS bucket
       | FROM sig, (SELECT unnest(range(0, 4)) AS band) bands),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  a.sig AS sig_a, b.sig AS sig_b
       | FROM bd a JOIN bd b ON a.band = b.band AND a.bucket = b.bucket
       |  AND a.doc_id < b.doc_id),
       |prs AS (SELECT doc_a, doc_b FROM cand
       | WHERE CAST(len(list_filter(list_zip(sig_a, sig_b), x -> x[1] = x[2])) AS DOUBLE) / 16 >= 0.8),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs UNION SELECT doc_b, doc_a FROM prs),
       |reach(node, comp) AS (SELECT u, u FROM edges
       | UNION SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v=r.node),
       |comps AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node),
       |grams AS (SELECT doc_id, unnest([ws[i]||'_'||ws[i+1] for i in range(1, len(ws))]) AS gram FROM w),
       |gcnt AS (SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2),
       |tp AS (SELECT doc_id, max(cnt) AS topcnt, sum(cnt) AS total FROM gcnt GROUP BY doc_id),
       |rep AS (SELECT w.doc_id,
       |  CAST(len(ws) AS BIGINT) AS n_tokens,
       |  CAST(len(ws)-len(list_distinct(ws)) AS DOUBLE)/greatest(len(ws), 1) AS dup_token_frac,
       |  COALESCE(CAST(t.topcnt AS DOUBLE)/t.total, 0.0) AS top_ngram_frac
       | FROM w LEFT JOIN tp t USING (doc_id))
       |SELECT r.doc_id, r.n_tokens, r.dup_token_frac, r.top_ngram_frac
       |FROM rep r LEFT JOIN comps c ON r.doc_id = c.node
       |WHERE COALESCE(c.comp, r.doc_id) = r.doc_id
       | AND r.n_tokens >= 25 AND r.dup_token_frac <= 0.65 AND r.top_ngram_frac <= 0.15
       |ORDER BY doc_id""".stripMargin

  /** DuckDB oracle for the verified multi-table LSH near-dup path:
    * regenerates the SAME plan-time hyperplane constants as
    * [[Similarity.lshBucketsBanded]] via [[Similarity.planeComponent]]
    * (Double.toString is round-trip exact, so DuckDB parses the
    * identical doubles), plants the same perturbed near-dup copies
    * (DuckDB lambda index is 1-based → i-1), computes each table's
    * sign bucket, unions candidates across tables, and verifies with
    * the same sequential-fold cosine. Bit-exact cross-engine.
    *
    * DYNAMIC nbits (r16 verdict item 2): the Spark side auto-sizes
    * nbits = ⌈log₂N⌉ + 3, floor 8, refusal past 30 ([[Similarity.autoNbits]])
    * from the planted-union count, so the replay derives the SAME
    * integer from `count(*) OVER e0` — as a MIN over shifted powers of
    * two, never a float log2 — and gates each bit term by `b < nbits`.
    * Plane literals are carried up to `maxBits` bits per table (planes
    * stride by the constant [[graft.plans.LshSig.PlaneStride]], so a
    * smaller nbits reads a bit-prefix of the same literals); a corpus
    * whose auto size exceeds maxBits fails LOUDLY via error() rather
    * than silently mismatching. maxBits 24 covers N ≤ 2^21 ≈ 2 M
    * vectors — two decades above the largest local SF.
    */
  def lshNearDupOracle(tables: Int, dim: Int, seed: Long,
                               threshold: Double, maxBits: Int = 24): String = {
    def bitTerms(t: Int): String = (0 until maxBits).map { b =>
      val plane = (0 until dim)
        .map(d => Similarity.planeComponent(
          seed, t * graft.plans.LshSig.PlaneStride + b, d))
        .mkString("[", ",", "]")
      s"(CASE WHEN $b < nbits AND list_reduce(list_transform(list_zip(v, $plane::DOUBLE[]), x->x[1]*x[2]),(p,q)->p+q) >= 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("\n  + ")
    val tableSelects = (0 until tables).map(t =>
      s"SELECT vec_id, $t AS t, ${bitTerms(t)} AS bucket FROM n, nb")
      .mkString("\nUNION ALL\n")
    s"""WITH eb AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
       |e0 AS (SELECT vec_id, e FROM eb
       | UNION ALL
       | SELECT vec_id + 1000000 AS vec_id,
       |  list_transform(e, (x, i) ->
       |    x * (1.0 + 0.02 * CAST((vec_id + (i - 1)) % 5 - 2 AS DOUBLE))) AS e
       | FROM eb WHERE vec_id % 10 = 0),
       |n0 AS (SELECT vec_id, e,
       |  sqrt(list_reduce(list_transform(e, y->y*y),(p,q)->p+q)) AS nrm FROM e0),
       |n AS (SELECT vec_id, list_transform(e,
       |  x -> CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END) AS v FROM n0),
       |nb AS (SELECT CASE WHEN nbits0 > $maxBits
       |    THEN CAST(error('lsh replay: auto nbits ' || nbits0 ||
       |      ' exceeds the $maxBits-bit plane-literal budget') AS INTEGER)
       |    ELSE nbits0 END AS nbits
       |  FROM (SELECT LEAST(30, GREATEST(8,
       |    (SELECT MIN(k) FROM range(0, 40) t(k)
       |     WHERE (1::BIGINT << k) >= (SELECT count(*) FROM e0)) + 3)) AS nbits0)),
       |bk AS ($tableSelects),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
       | FROM bk a JOIN bk b2 ON a.t = b2.t AND a.bucket = b2.bucket
       |  AND a.vec_id < b2.vec_id),
       |p AS (SELECT id_a, id_b,
       |  list_reduce(list_transform(list_zip(na.v, nb.v), x -> x[1]*x[2]), (p,q)->p+q) AS sim
       | FROM cand JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b)
       |SELECT id_a, id_b, sim FROM p WHERE sim >= $threshold ORDER BY id_a, id_b""".stripMargin
  }

  /** q_embed_recall oracle: the lshNearDupOracle CTEs (planting,
    * normalize, banding, verified pairs) plus the exact-cosine pair set
    * RESTRICTED to the fixed md5 truth panel (1024 base vectors + their
    * planted copies — mirror of the Spark side's fixed-budget truth),
    * full-outer joined into confusion counts — recall/precision as
    * bigint-over-bigint IEEE divisions. The LSH estimate stays
    * full-corpus; only truth and the compared subpopulation are
    * panel-bound.
    */
  def embedRecallOracle(tables: Int, dim: Int, seed: Long,
                                threshold: Double,
                                panelBudget: Int = 1024): String = {
    val base = lshNearDupOracle(tables, dim, seed, threshold)
    // cut the final projection off the base oracle and continue its CTE
    // list (the preceding `p AS (...)` needs the joining comma back)
    val upToP = base.substring(0, base.lastIndexOf("SELECT id_a, id_b, sim"))
      .stripTrailing + ",\n"
    s"""${upToP}pb AS (SELECT vec_id FROM embeddings
       |  ORDER BY md5(CAST(vec_id AS VARCHAR) || ':erp'), vec_id LIMIT $panelBudget),
       |pids AS (SELECT vec_id FROM pb
       | UNION ALL SELECT vec_id + 1000000 FROM pb WHERE vec_id % 10 = 0),
       |np AS (SELECT n.vec_id, n.v FROM n JOIN pids USING (vec_id)),
       |lshp AS (SELECT id_a, id_b FROM p
       | JOIN pids pa ON p.id_a = pa.vec_id
       | JOIN pids pb2 ON p.id_b = pb2.vec_id
       | WHERE sim >= $threshold),
       |ex AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       | FROM np a JOIN np b ON a.vec_id < b.vec_id
       | WHERE list_reduce(list_transform(list_zip(a.v, b.v), x -> x[1]*x[2]), (p,q)->p+q) >= $threshold),
       |j AS (SELECT e.id_a AS ea, l.id_a AS la FROM ex e
       | FULL OUTER JOIN lshp l ON e.id_a = l.id_a AND e.id_b = l.id_b),
       |c AS (SELECT count(ea) AS n_exact, count(la) AS n_lsh,
       |  count(CASE WHEN ea IS NOT NULL AND la IS NOT NULL THEN 1 END) AS n_hit FROM j)
       |SELECT n_exact, n_lsh, n_hit,
       | CASE WHEN n_exact > 0 THEN CAST(n_hit AS DOUBLE)/n_exact END AS recall,
       | CASE WHEN n_lsh > 0 THEN CAST(n_hit AS DOUBLE)/n_lsh END AS "precision"
       |FROM c""".stripMargin
  }

  /** Shared by q_ann_ivf and q_ann_ivf_capped: the capped variant's cap
    * equals the observed max occupancy, so its output is definitionally
    * the uncapped probe — one oracle pins both (the pin IS the point:
    * capping at max-cell must change nothing on a non-skewed corpus).
    */
  val annIvfOracle: String =
    """WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
      |n0 AS (SELECT vec_id, e,
      |  sqrt(list_reduce(list_transform(e, y->y*y),(p,q)->p+q)) AS nrm FROM e0),
      |n AS (SELECT vec_id, list_transform(e,
      |  x -> CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END) AS v FROM n0),
      |cents AS (SELECT vec_id AS cent_id, v AS cv FROM n
      |  WHERE vec_id % 25 = 0 AND vec_id < 2000),
      |ca AS (SELECT vec_id, cent_id, v FROM (
      |  SELECT nn.vec_id, c.cent_id, nn.v, row_number() OVER (
      |    PARTITION BY nn.vec_id ORDER BY
      |    list_reduce(list_transform(list_zip(nn.v, c.cv), x->x[1]*x[2]),(p,q)->p+q) DESC,
      |    c.cent_id) AS rn
      |  FROM n nn CROSS JOIN cents c) WHERE rn = 1),
      |qa AS (SELECT vec_id AS query_id, cent_id, v AS qv FROM (
      |  SELECT nn.vec_id, c.cent_id, nn.v, row_number() OVER (
      |    PARTITION BY nn.vec_id ORDER BY
      |    list_reduce(list_transform(list_zip(nn.v, c.cv), x->x[1]*x[2]),(p,q)->p+q) DESC,
      |    c.cent_id) AS rn
      |  FROM n nn CROSS JOIN cents c WHERE nn.vec_id < 10) WHERE rn <= 4),
      |s AS (SELECT qa.query_id, ca.vec_id AS neighbor_id,
      |  list_reduce(list_transform(list_zip(qa.qv, ca.v), x->x[1]*x[2]),(p,q)->p+q) AS sim
      | FROM qa JOIN ca USING (cent_id) WHERE qa.query_id <> ca.vec_id),
      |r AS (SELECT query_id, neighbor_id, sim,
      |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM s)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, sim
      |FROM r WHERE rank<=5 ORDER BY query_id, rank""".stripMargin

  /** PQ replay CTE prefix (PQ8×16, seed 7, 64-d, queries vec_id < 10,
    * k = 5): normalization, md5-ordered codebook with code indices,
    * exact sub-L2 encoding (argmin by (d2, code) — the struct-min
    * tie-break), per-query ADC lookup table, and the ranked top-k
    * `pqr(query_id, rank, neighbor_id, sim_pq)`. Scores are
    * 9dp-round → DECIMAL sums, so both engines rank identically.
    */
  val pqCtes: String =
    """WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
      |n0 AS (SELECT vec_id, e,
      |  sqrt(list_reduce(list_transform(e, y->y*y),(p,q)->p+q)) AS nrm FROM e0),
      |n AS (SELECT vec_id, list_transform(e,
      |  x -> CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END) AS v FROM n0),
      |cents0 AS (SELECT v, row_number() OVER (
      |    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':7'), vec_id) - 1 AS code FROM n),
      |cents AS (SELECT code, v FROM cents0 WHERE code < 16),
      |subs AS (SELECT CAST(range AS INTEGER) AS sub FROM range(8)),
      |cb AS (SELECT sub, code, list_slice(v, sub*8+1, sub*8+8) AS cv
      |  FROM cents CROSS JOIN subs),
      |xsub AS (SELECT vec_id, sub, list_slice(v, sub*8+1, sub*8+8) AS xs
      |  FROM n CROSS JOIN subs),
      |dists AS (SELECT vec_id, sub, code,
      |  list_reduce(list_transform(list_zip(xs, cv),
      |    z -> (z[1]-z[2])*(z[1]-z[2])), (p,q)->p+q) AS d2
      | FROM xsub JOIN cb USING (sub)),
      |codes AS (SELECT vec_id, sub, code FROM (
      |  SELECT vec_id, sub, code, row_number() OVER (
      |    PARTITION BY vec_id, sub ORDER BY d2, code) AS rn FROM dists)
      | WHERE rn = 1),
      |qsub AS (SELECT vec_id AS query_id, sub, list_slice(v, sub*8+1, sub*8+8) AS qs
      |  FROM n CROSS JOIN subs WHERE vec_id < 10),
      |lut AS (SELECT query_id, sub, code,
      |  list_reduce(list_transform(list_zip(qs, cv), z -> z[1]*z[2]),(p,q)->p+q) AS pdot
      | FROM qsub JOIN cb USING (sub)),
      |pqs AS (SELECT l.query_id, c.vec_id AS neighbor_id,
      |  CAST(sum(CAST(round(l.pdot, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sim_pq
      | FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
      | WHERE l.query_id <> c.vec_id GROUP BY 1, 2),
      |pqr AS (SELECT query_id, neighbor_id, sim_pq, row_number() OVER (
      |  PARTITION BY query_id ORDER BY sim_pq DESC, neighbor_id) AS rank FROM pqs)""".stripMargin

  /** [[pqCtes]] over the PLANTED corpus (q_pq_planted): every 50th
    * vector gets a near-identical copy (±4% componentwise — cosine
    * ≈ 0.999, ids +1 000 000). FIXED-BUDGET replay: the probe panel is
    * the 128 copies that sort first by `md5(vec_id || ':pqq')`, the
    * corpus is the 4096 base vectors that sort first by
    * `md5(vec_id || ':pqd')` plus the panel's originals (UNION dedups
    * the identical overlap rows) — so the gate's cost and difficulty
    * are scale-invariant. Codebooks/codes rebuild over that capped
    * corpus; the gate measures whether PQ8×16 retrieves REAL
    * structure, not hairline ties on i.i.d. noise (the
    * q_ann_pq_recall 0.24 lesson). The `(i - 1)` matches Spark's
    * 0-based transform index; the lambda's `vec_id` resolving to
    * either the source column or the +1 000 000 alias is immaterial
    * (10⁶ ≡ 0 mod 5 — same convention as q_cross_semantic's planted
    * CTE).
    */
  val pqPlantedCtes: String =
    """WITH eb AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
      |pl AS (SELECT vec_id + 1000000 AS vec_id, list_transform(e, (x, i) ->
      |  x * (1.0 + 0.02 * CAST((vec_id + (i - 1)) % 5 - 2 AS DOUBLE))) AS e
      | FROM eb WHERE vec_id % 50 = 0),
      |panel AS (SELECT vec_id, e FROM pl
      |  ORDER BY md5(CAST(vec_id AS VARCHAR) || ':pqq'), vec_id LIMIT 128),
      |orig AS (SELECT eb.vec_id, eb.e FROM eb
      |  JOIN panel p ON eb.vec_id = p.vec_id - 1000000),
      |dis AS (SELECT vec_id, e FROM eb
      |  ORDER BY md5(CAST(vec_id AS VARCHAR) || ':pqd'), vec_id LIMIT 4096),
      |e0 AS (SELECT vec_id, e FROM dis UNION SELECT vec_id, e FROM orig),
      |n0 AS (SELECT vec_id, e,
      |  sqrt(list_reduce(list_transform(e, y->y*y),(p,q)->p+q)) AS nrm FROM e0),
      |n AS (SELECT vec_id, list_transform(e,
      |  x -> CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END) AS v FROM n0),
      |qn0 AS (SELECT vec_id, e,
      |  sqrt(list_reduce(list_transform(e, y->y*y),(p,q)->p+q)) AS nrm FROM panel),
      |qn AS (SELECT vec_id, list_transform(e,
      |  x -> CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END) AS v FROM qn0),
      |cents0 AS (SELECT v, row_number() OVER (
      |    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':7'), vec_id) - 1 AS code FROM n),
      |cents AS (SELECT code, v FROM cents0 WHERE code < 16),
      |subs AS (SELECT CAST(range AS INTEGER) AS sub FROM range(8)),
      |cb AS (SELECT sub, code, list_slice(v, sub*8+1, sub*8+8) AS cv
      |  FROM cents CROSS JOIN subs),
      |xsub AS (SELECT vec_id, sub, list_slice(v, sub*8+1, sub*8+8) AS xs
      |  FROM n CROSS JOIN subs),
      |dists AS (SELECT vec_id, sub, code,
      |  list_reduce(list_transform(list_zip(xs, cv),
      |    z -> (z[1]-z[2])*(z[1]-z[2])), (p,q)->p+q) AS d2
      | FROM xsub JOIN cb USING (sub)),
      |codes AS (SELECT vec_id, sub, code FROM (
      |  SELECT vec_id, sub, code, row_number() OVER (
      |    PARTITION BY vec_id, sub ORDER BY d2, code) AS rn FROM dists)
      | WHERE rn = 1),
      |qsub AS (SELECT vec_id AS query_id, sub, list_slice(v, sub*8+1, sub*8+8) AS qs
      |  FROM qn CROSS JOIN subs),
      |lut AS (SELECT query_id, sub, code,
      |  list_reduce(list_transform(list_zip(qs, cv), z -> z[1]*z[2]),(p,q)->p+q) AS pdot
      | FROM qsub JOIN cb USING (sub)),
      |pqs AS (SELECT l.query_id, c.vec_id AS neighbor_id,
      |  CAST(sum(CAST(round(l.pdot, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sim_pq
      | FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
      | WHERE l.query_id <> c.vec_id GROUP BY 1, 2),
      |pqr AS (SELECT query_id, neighbor_id, sim_pq, row_number() OVER (
      |  PARTITION BY query_id ORDER BY sim_pq DESC, neighbor_id) AS rank FROM pqs)""".stripMargin
}
