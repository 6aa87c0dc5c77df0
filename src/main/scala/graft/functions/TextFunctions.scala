package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the training-data operators (dedup, language id,
  * quality scoring). Pure Catalyst built-ins — everything stays inside
  * whole-stage codegen; no UDFs.
  */
object TextFunctions {

  /** Whitespace tokenization, lowercased. Deliberately does NOT unicode-
    * normalize: canonicalization is an ingest-time cleaning stage (apply
    * [[nfc]] once upstream), not a per-operator cost — [[fingerprint]]
    * is the exception because it is a dedup KEY, where encoding variance
    * is silent wrong answers rather than a tokenization nuance.
    */
  def tokens(c: Column): Column = split(lower(trim(c)), "\\s+")

  /** Token-window document chunking — the standard context-length prep
    * for training/embedding pipelines: overlapping windows of
    * `chunkTokens` tokens at `strideTokens` steps (overlap =
    * chunk − stride), the final partial window included. One explode of
    * start offsets per doc (≤ ⌈n/stride⌉ rows), slicing the tokenized
    * array — no self-joins, no window functions; fan-out is bounded by
    * the doc's own length. Empty docs emit nothing.
    *
    * Output: (id, chunk_idx, chunk_text, n_tokens) where chunk_idx
    * counts from 0 in document order.
    */
  def chunkByTokens(df: org.apache.spark.sql.DataFrame, textCol: String,
                    idCol: String, chunkTokens: Int,
                    strideTokens: Int): org.apache.spark.sql.DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0,
      "chunk and stride must be positive")
    require(strideTokens <= chunkTokens,
      "stride > chunk would skip tokens between consecutive chunks")
    // stop at the FIRST window that reaches the document end: further
    // starts would emit chunks fully contained in the previous one —
    // systematically duplicated tail text in a dedup-focused pipeline
    val lastStart = greatest(lit(0),
      ceil((col("_n") - lit(chunkTokens)).cast("double") / lit(strideTokens))
        .cast("int") * lit(strideTokens))
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"), size(col("_toks")).as("_n"))
      .select(col(idCol), col("_toks"), col("_n"),
        posexplode(sequence(lit(0), lastStart, lit(strideTokens)))
          .as(Seq("chunk_idx", "_start")))
      .select(col(idCol), col("chunk_idx"),
        concat_ws(" ",
          slice(col("_toks"), col("_start") + 1, lit(chunkTokens))).as("chunk_text"),
        least(lit(chunkTokens), col("_n") - col("_start")).as("n_tokens"))
  }

  /** BPE-ish token count: words, numbers, and single non-space symbols
    * counted separately (an approximation of subword tokenizer behavior
    * good enough for budget estimation).
    */
  def tokenCountBpeIsh(c: Column): Column =
    graft.plans.BpeIshCount.bpeishCount(c)

  /** The regex formulation [[tokenCountBpeIsh]] replaced — kept ONLY as
    * the equivalence witness for BpeIshCountSpec's property check. Never
    * use in a pipeline: besides materializing every match into an array,
    * this exact three-branch alternation hits a measured java.util.regex
    * thread-scaling cliff (SCALE.md "The regex that would not
    * parallelize") that caps a whole executor at ~105k docs/s.
    */
  private[graft] def tokenCountBpeIshRegex(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Distinct word n-gram shingles joined with '_', first occurrence
    * kept, in document order — the set every exact near-dup screen
    * hashes. One native codegen'd loop over [[tokens]]
    * (`plans.WordNGrams` with `distinct`); documents shorter than `n`
    * words yield an empty array, null text a null one.
    */
  def shingles(c: Column, n: Int = 3): Column =
    graft.plans.WordNGrams.ngrams(tokens(c), n, distinct = true)

  /** Word n-grams in document order, duplicates kept — the multiset the
    * repetition-quality metrics count over ([[shingles]] is the distinct
    * form). Same native kernel, `plans.WordNGrams`.
    */
  def ngrams(c: Column, n: Int): Column =
    graft.plans.WordNGrams.ngrams(tokens(c), n, distinct = false)

  /** The composed-built-ins formulation [[ngrams]] / [[shingles]]
    * replaced — kept ONLY as the equivalence witness for
    * WordNGramsSpec (values and schema). Never use in a pipeline:
    * `zip_with` and `filter` are higher-order, hence CodegenFallback, so
    * every gram runs through an interpreted lambda.
    *
    * Built with `zip_with` over shifted slices, NOT `transform(sequence)`
    * + `element_at`: expressions referenced inside a lambda body are
    * re-evaluated per element, so the element_at formulation re-runs the
    * regex `split` O(len²) times per document — measured 5-10× slower on
    * real corpora. Here each slice is evaluated once per row.
    * `zip_with` pads the shorter (shifted) array with nulls; those
    * become null grams and are filtered, which also makes documents
    * shorter than `n` words yield an empty array with no special guard.
    * `distinct` applies `array_distinct` (the [[shingles]] form).
    */
  private[graft] def ngramsComposed(c: Column, n: Int,
                                    distinct: Boolean): Column = {
    val ws = tokens(c)
    val joined = (1 until n).foldLeft(ws: Column) { (acc, j) =>
      zip_with(acc, slice(ws, lit(j + 1), size(ws)),
        (a, b) => when(a.isNull || b.isNull, lit(null))
          .otherwise(concat(a, lit("_"), b)))
    }
    val grams = filter(joined, x => x.isNotNull)
    if (distinct) array_distinct(grams) else grams
  }

  /** Repetition-quality signals (the Gopher-rules family): duplicate
    * token fraction and the longest consecutive same-token run. Both are
    * single scalar expressions — a fold over the token array — so they
    * run map-side inside whole-stage codegen with no shuffle, unlike the
    * windowed gaps-and-islands formulation a SQL engine needs for the
    * run length. Top-n-gram dominance (needs a per-doc mode) lives in
    * [[graft.operators.TextQuality]] as an explode + two-stage agg.
    */
  def repetitionStruct(c: Column): Column = {
    val ws = tokens(c)
    val nTok = size(ws)
    struct(
      nTok.cast("long").as("n_tokens"),
      size(array_distinct(ws)).cast("long").as("n_distinct_tokens"),
      ((nTok - size(array_distinct(ws))).cast("double") /
        greatest(nTok, lit(1)).cast("double")).as("dup_token_frac"),
      graft.plans.MaxRun.maxRun(ws).as("max_token_run"))
  }

  /** Composed-built-ins form of the run-length signal, kept for
    * cross-checking the native expression (same pattern as
    * `Similarity.dotBuiltins`): an `aggregate` fold, which is
    * CodegenFallback — correct but interpreted per row.
    */
  def maxTokenRunBuiltins(c: Column): Column =
    aggregate(tokens(c),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(acc.getField("prev") <=> x, acc.getField("run") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Unicode NFC canonicalization (native codegen'd expression) —
    * "é" precomposed and e + combining acute are the same text but
    * different bytes; normalize before any byte-level comparison.
    */
  def nfc(c: Column): Column = graft.plans.UnicodeNorm.norm(c, "NFC")

  /** Accent folding: NFD decomposition, then strip combining marks —
    * café → cafe. The aggressive-matching variant of [[nfc]].
    */
  def stripAccents(c: Column): Column =
    regexp_replace(graft.plans.UnicodeNorm.norm(c, "NFD"), "\\p{Mn}+", "")

  /** Normalized-text fingerprint (exact-dup key): Unicode NFC,
    * whitespace collapsed, lowercased, md5. 128-bit → collision-free at
    * any realistic corpus size. NFC first: without it, combining-vs-
    * precomposed encodings of identical text fingerprint as distinct
    * documents (DuckDB parity via `nfc_normalize`).
    */
  def fingerprint(c: Column): Column =
    md5(lower(regexp_replace(trim(nfc(c)), "\\s+", " ")))

  /** Per-language stopword seed lists for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: they broadcast as literals inside the
    * expression tree.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "was"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "en", "un", "du", "une", "est"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有", "他", "这", "中"))

  /** Language-ID heuristic: score = fraction of tokens that are stopwords
    * of each candidate language; argmax wins, "und" (undetermined) when no
    * language scores above `minScore`. One native single-pass expression
    * (`plans.LangIdPick`) — the composed form below evaluates a
    * CodegenFallback `filter`+`isin` per language per row. coalesce:
    * null text scores "und" in the composed form (null fields fall
    * through the `when`), and the wrapper preserves that.
    */
  def langId(c: Column, minScore: Double = 0.05): Column =
    coalesce(
      graft.plans.LangIdPick.pick(tokens(c), stopwords, minScore),
      lit("und"))

  /** Composed-Column reference form of [[langId]] — kept as the
    * semantic spec the native expression is pinned against
    * (native ≡ composed parity test in LangIdSpec).
    */
  def langIdComposed(c: Column, minScore: Double = 0.05): Column = {
    val toks = tokens(c)
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val hits = size(filter(toks, t => t.isin(words: _*)))
      struct((hits.cast("double") / greatest(size(toks), lit(1))).as("score"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") >= minScore, best.getField("lang")).otherwise(lit("und"))
  }

  /** Compression-ratio quality signal (Gopher/Dolma family): DEFLATE
    * bytes over raw bytes. Template/machine-generated text compresses
    * far better (low ratio) than natural prose — a model-free
    * redundancy score catching long-range structure the n-gram
    * repetition metrics miss. NULL for empty text (no bytes to score),
    * never NaN. Engine-specific byte counts → golden-pinned, not
    * DuckDB-oracled.
    */
  def compressionRatio(c: Column): Column =
    when(octet_length(c) > 0,
      graft.plans.DeflateLen.len(c).cast("double") / octet_length(c))

  /** PII redaction: emails, US-style phone numbers, and long digit runs
    * (card/SSN-ish) replaced with typed tags. Patterns avoid lookaround
    * so they behave identically under Java regex and RE2.
    */
  def redactPii(c: Column): Column = {
    val email = regexp_replace(c,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val phone = regexp_replace(email,
      "(\\+?[0-9]{1,2}[-. ])?\\(?[0-9]{3}\\)?[-. ]?[0-9]{3}[-. ][0-9]{4}", "<PHONE>")
    regexp_replace(phone, "[0-9]{9,16}", "<NUM>")
  }

  /** Deterministic hash-based sampling: keep a row iff
    * `xxhash64(key, salt) mod 10000 < rate·10000`. Reproducible across
    * runs, engines, and cluster sizes — unlike `df.sample`, whose output
    * depends on partitioning. The basis of stratified corpus mixing.
    */
  def hashSampleFilter(key: Column, rate: Double, salt: Int = 0): Column =
    pmod(xxhash64(key, lit(salt)), lit(10000)) < (rate * 10000).toInt

  /** Engine-portable variant of [[hashSampleFilter]]: keep a row iff the
    * md5 hex of its key is lexicographically below the rate's 32-digit
    * hex expansion. md5 hashes identically in every engine (unlike
    * xxhash64), hex digits sort in numeric order, and both Spark and
    * DuckDB emit lowercase hex — so the kept set is bit-identical across
    * engines AND oracle-checkable in plain SQL:
    * `md5(CAST(key AS VARCHAR)) < '<threshold>'`. Same superset-stable
    * family as the xxhash64 form: lowering the rate shrinks the
    * threshold string, keeping a subset of the previous sample. The
    * xxhash64 form stays the hot-path default (one 8-byte hash vs a
    * 16-byte digest + hex encode); this is the verification-friendly
    * twin with identical semantics.
    */
  def md5SampleFilter(key: Column, rate: Double, salt: String = ""): Column = {
    require(rate >= 0.0 && rate <= 1.0, "rate must be in [0, 1]")
    if (rate >= 1.0) lit(true)
    else md5(concat(key.cast("string"), lit(salt))) < lit(md5SampleThreshold(rate))
  }

  /** The 32-hex-digit threshold `floor(rate · 16^32)` used by
    * [[md5SampleFilter]] — exposed so oracle SQL can embed the exact
    * same literal.
    */
  def md5SampleThreshold(rate: Double): String = {
    val scaled = (BigDecimal(rate) * BigDecimal(BigInt(16).pow(32))).toBigInt
    val hex = scaled.toString(16)
    "0" * (32 - hex.length) + hex
  }

  /** Quality signals: length, token stats, punctuation/digit ratios,
    * English stopword ratio — the standard cheap pre-filters for a
    * training-data pipeline.
    *
    * The class counts are `length − length(translate(...))` — counting
    * by REMOVAL with codegen'd builtins, identical to
    * `regexp_count("[class]")` for literal ASCII classes but with no
    * regex machinery in the per-row path at all (and `translate` scans
    * bytes once; see SCALE.md "The regex that would not parallelize"
    * for why regex stays out of hot scans on principle now).
    */
  def qualityStruct(c: Column): Column = {
    val toks = tokens(c)
    val nChars = length(c).cast("double")
    val nTok = size(toks).cast("double")
    def classCount(cls: String) =
      (length(c) - length(translate(c, cls, ""))).cast("double")
    val punct = classCount(".,;:!?")
    val digits = classCount("0123456789")
    val stopHits = size(filter(toks, t => t.isin(stopwords("en"): _*)))
    struct(
      nChars.as("n_chars"),
      nTok.as("n_tokens"),
      (nChars / greatest(nTok, lit(1.0))).as("avg_token_len"),
      (punct / greatest(nChars, lit(1.0))).as("punct_ratio"),
      (digits / greatest(nChars, lit(1.0))).as("digit_ratio"),
      (stopHits.cast("double") / greatest(nTok, lit(1.0))).as("stopword_ratio"))
  }

  /** Parse a section out of a model's raw generated output — the
    * LLM-output answer/thinking extraction the reference does per
    * response with `re.search(..., re.DOTALL)` + `.strip()` and an
    * "N/A" fallback (LLM Testing.ipynb cell 54defb73: the
    * analysis/final channel split of a chat-template decode). `pattern`
    * must carry ONE capture group; matching is DOTALL (sections span
    * lines). No-match (or null input) yields `default` — distinct from
    * a matched-but-empty section, which yields "" exactly as the
    * reference's `.strip()` does. Whitespace-trim of the capture is
    * regexp-based so Spark and the oracle agree on newlines, not just
    * spaces. Pure codegen'd built-ins, row-parallel at any scale.
    */
  def extractAnswer(c: Column, pattern: String, default: String = "N/A"): Column = {
    val p = "(?s)" + pattern
    when(c.isNotNull && c.rlike(p),
      regexp_replace(regexp_extract(c, p, 1), "^\\s+|\\s+$", ""))
      .otherwise(lit(default))
  }

  /** The reference's two section patterns (LLM Testing.ipynb 54defb73). */
  val thinkingPattern: String =
    """<\|end\|><\|start\|>assistant<\|channel\|>analysis<\|message\|>(.*?)<\|end\|>"""
  val finalPattern: String =
    """<\|start\|>assistant<\|channel\|>final<\|message\|>(.*?)<\|return\|>"""
}
