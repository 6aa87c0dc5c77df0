package graft

import graft.functions.TextFunctions
import graft.plans.WordNGrams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordNGrams native ≡ the composed `zip_with`/`filter` (+
  * `array_distinct`) formulation it replaced, in values AND schema:
  * adversarial strings, random token soups and the sf0.001 documents,
  * for n ∈ {1, 2, 3, 5}, distinct and not, under codegen and under the
  * interpreted `nullSafeEval`.
  */
class WordNGramsSpec extends SparkSpec {
  import spark.implicits._

  private val widths = Seq(1, 2, 3, 5)

  private val adversarial: Seq[String] = Seq(
    null, "", " ", "   ", "\t", "\n", " \t\n ", "a", "a b", "a b c",
    "\ta b", "a\tb\nc", " a  b ", "\n\nx y z", "a_b c_d a_b c_d",
    "_ _ _", "a a a a a a", "x y x y x y x", "Ab AB ab aB",
    "naïve café naïve café", "日本 語 日本 語", "emoji 😀 😀 pair",
    "one two three four five six seven", "w x y")

  private def compare(df: DataFrame, label: String): Unit =
    for (n <- widths; distinct <- Seq(false, true)) {
      val out = df.select(col("text"),
        WordNGrams.ngrams(TextFunctions.tokens(col("text")), n, distinct).as("g"),
        TextFunctions.ngramsComposed(col("text"), n, distinct).as("g"))
      assert(out.schema(1) == out.schema(2),
        s"$label n=$n distinct=$distinct: schema ${out.schema(1)} vs ${out.schema(2)}")
      val bad = out.collect().filter(r => r.get(1) != r.get(2))
      assert(bad.isEmpty, s"$label n=$n distinct=$distinct: ${bad.length} " +
        s"mismatches, first ${bad.headOption.map(r => (r.get(0), r.get(1), r.get(2)))}")
    }

  private def randomTexts(seed: Long, count: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val pieces = Vector("a", "b", "ab", "_", "x_y", "The", "the", "é", "中",
      "😀", " ", "  ", "\t", "\n", " ", "")
    (1 to count).map { _ =>
      (0 until rnd.nextInt(24)).map(_ => pieces(rnd.nextInt(pieces.size))).mkString
    }
  }

  private def withFactory[T](mode: String)(body: => T): T = {
    val savedMode = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val savedWs = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.factoryMode", mode)
    spark.conf.set("spark.sql.codegen.wholeStage", (mode != "NO_CODEGEN").toString)
    try body
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", savedWs)
      savedMode match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("native ≡ composed on adversarial strings (values and schema)") {
    compare(adversarial.toDF("text"), "adversarial")
  }

  test("property: native ≡ composed on 400 random token soups") {
    compare(randomTexts(20261019L, 400).toDF("text"), "random")
  }

  test("native ≡ composed on the sf0.001 documents") {
    compare(Tables.documents(spark, sf).select(col("text")), "sf0.001")
  }

  test("nullSafeEval ≡ codegen, and both ≡ composed") {
    val df = (adversarial ++ randomTexts(7L, 100)).toDF("text")
    def run(): Seq[Seq[Any]] = {
      val cols = for (n <- widths; d <- Seq(false, true))
        yield WordNGrams.ngrams(TextFunctions.tokens(col("text")), n, d)
      df.select(cols: _*).collect().map(_.toSeq).toSeq
    }
    val interpreted = withFactory("NO_CODEGEN")(run())
    val generated = withFactory("CODEGEN_ONLY")(run())
    assert(interpreted == generated)
    withFactory("NO_CODEGEN")(compare(df, "interpreted"))
  }

  test("null tokens drop their windows; a null array is null") {
    val arrs = Seq(
      (1L, Seq[String]("a", null, "b", "c", "b", "c")),
      (2L, Seq.empty[String]),
      (3L, null)
    ).toDF("id", "arr")
    def grams(n: Int, distinct: Boolean) = arrs.orderBy("id")
      .select(WordNGrams.ngrams(col("arr"), n, distinct)).collect()
      .map(r => Option(r.getSeq[String](0))).toSeq
    for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) withFactory(mode) {
      assert(grams(1, distinct = false) ==
        Seq(Some(Seq("a", "b", "c", "b", "c")), Some(Nil), None), mode)
      assert(grams(2, distinct = false) ==
        Seq(Some(Seq("b_c", "c_b", "b_c")), Some(Nil), None), mode)
      assert(grams(2, distinct = true) ==
        Seq(Some(Seq("b_c", "c_b")), Some(Nil), None), mode)
      assert(grams(5, distinct = true) == Seq(Some(Nil), Some(Nil), None), mode)
    }
  }

  test("the kernel is codegen'd: no higher-order function in the shingle plan") {
    val plan = Tables.documents(spark, sf)
      .select(TextFunctions.shingles(col("text"), 3).as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("word_ngrams"), plan)
    assert(!plan.contains("zip_with") && !plan.contains("filter("), plan)
  }
}
