package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pandas-compat expression library (SURVEY.md §2.5).
  *
  * Every helper is a pure `Column => Column` composition of Catalyst
  * built-ins — codegen'd, no UDFs — encoding the null/coercion semantics
  * the reference gets from pandas:
  *   - `pd.to_datetime(c, errors="coerce")` → null-on-failure parse
  *     (reference: DOP VP Compare.py:76,113; json_cleaning.ipynb:70-73)
  *   - multi-format parse cascade (Study Startup TRAC Data Merge.ipynb:46-51)
  *   - `pd.to_numeric(errors="coerce").fillna(0)` (DOP VP Compare.py:85,118)
  *   - null-token vocabulary `["", "0", 0] → NA` (Saoirse Automation.ipynb:432-436)
  *   - whitespace-blind lowercase id normalization
  *     (Financial Snapshot Preprocess.ipynb:120-124)
  *   - composite row keys with pandas' `"nan"` rendering
  *     (Transaction Duplicates.ipynb:36-38)
  */
object Compat {

  /** C1: coercing timestamp parse — unparseable → NULL (pandas errors="coerce"). */
  def coerceTimestamp(c: Column): Column = try_to_timestamp(c)

  /** C2: multi-format timestamp cascade — try each format, first hit wins,
    * then a free-form parse; all failures → NULL.
    */
  def timestampCascade(c: Column, formats: String*): Column = {
    val attempts = formats.map(f => try_to_timestamp(c, lit(f))) :+ try_to_timestamp(c)
    coalesce(attempts: _*)
  }

  /** C3: strict fail-fast date parse — `pd.to_datetime(..., errors="raise")`
    * on the filename month token (CTP Data Compare.ipynb:58,
    * Financial Snapshot Preprocess.ipynb:82). A non-null input that does
    * not parse raises with the offending value in the message; null
    * passes through as null (pandas returns NaT without raising).
    */
  def strictDate(c: Column, fmt: String): Column = {
    val parsed = try_to_timestamp(c, lit(fmt))
    when(c.isNull, lit(null).cast(TimestampType))
      .otherwise(when(
        assert_true(parsed.isNotNull,
          concat(lit("strictDate: unparseable value '"), c.cast(StringType),
            lit(s"' for format '$fmt'"))).isNull,
        parsed))
  }

  /** C4: coercing numeric cast (`pd.to_numeric(errors="coerce")`). */
  def coerceNumeric(c: Column): Column = c.try_cast(DoubleType)

  /** C4+C8: coerce then constant-fill (`.fillna(fill)`). */
  def coerceNumericFill(c: Column, fill: Double = 0.0): Column =
    coalesce(coerceNumeric(c), lit(fill))

  /** C7: null-token replacement — members of the junk vocabulary → NULL. */
  def nullTokens(c: Column, tokens: Seq[String] = Seq("", "0")): Column =
    when(trim(c.cast(StringType)).isin(tokens: _*), lit(null)).otherwise(c)

  /** C13: whitespace-blind lowercase normalize — join(s.split()).lower().
    * `translate` (per-char table lookup) instead of `regexp_replace`:
    * deleting every char of the Java-regex `\s` class [ \t\n\x0B\f\r]
    * is the same result, without the regex engine per row — measured
    * ~2× cheaper on the id-normalization hot path.
    */
  def normalizeId(c: Column): Column =
    lower(translate(c.cast(StringType), " \t\n\u000B\f\r", ""))

  /** C14: strip an " ... Total" suffix keeping the captured id (RNG codes). */
  def stripTotalSuffix(c: Column, idPattern: String = "RNG\\d+"): Column =
    regexp_replace(c, s"^($idPattern)\\s+[Tt]otal$$", "$1")

  /** C15: regex extract of an id out of free text; no match → NULL
    * (pandas str.extract yields NaN; Spark regexp_extract yields "" — map to NULL).
    */
  def extractId(c: Column, pattern: String = "(RNG\\d{6})"): Column = {
    val e = regexp_extract(c, pattern, 1)
    when(e === "", lit(null)).otherwise(e)
  }

  /** C16: control-character scrub (pre-Excel-export hygiene). */
  def scrubControlChars(c: Column): Column =
    regexp_replace(c, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", "")

  /** C21: month-end from a "MMyy" filename token. */
  def monthEndFromMMyy(c: Column): Column = last_day(to_date(c, "MMyy"))

  /** C22: composite row key over all columns, pandas-compatible: every cell
    * rendered as string with nulls as "nan" (pandas str(NaN)), joined by "|".
    * Used as the dedup key in Transaction Duplicates.ipynb:36-38.
    */
  def rowKey(cols: Seq[Column], sep: String = "|"): Column =
    concat_ws(sep, cols.map(c => coalesce(c.cast(StringType), lit("nan"))): _*)

  /** Same trick for derived per-row double expressions (e.g. price*(1-disc)):
    * the per-row double arithmetic is IEEE-deterministic, the cast to
    * DECIMAL(18,scale) rounds identically everywhere, the decimal sum is exact.
    */
  def exactSum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(27, scale))).cast(DoubleType)

  /** Pandas `Series.sum()` skips NaN (≡ SQL sum). Python `sum(series)`
    * propagates NaN — the reference uses both (SURVEY §2.8 A3). This is the
    * NaN/null-propagating variant, as a compat flag.
    */
  def pandasBuiltinSum(c: Column): Column =
    when(count(when(c.isNull, 1)) > 0, lit(null)).otherwise(sum(c))

  /** A2/A9: sorted-distinct string aggregation — "; ".join(sorted(set(str(x)))).
    * Exact semantic match with array_join∘sort_array∘collect_set; no UDAF.
    */
  def sortedSetJoin(c: Column, sep: String = "; "): Column =
    array_join(sort_array(collect_set(c.cast(StringType))), sep)
}
