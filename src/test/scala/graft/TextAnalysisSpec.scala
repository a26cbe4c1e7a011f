package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import TextAnalysisSpec.langIdHof

/** Language-ID and quality-metric behavior on crafted fixtures (the
  * synthetic corpus is language-less, so semantics are proven here).
  */
class TextAnalysisSpec extends SparkTestBase {

  private def detect(text: String): String = {
    import spark.implicits._
    Seq(text).toDF("t").select(langId(col("t"))).collect()(0).getString(0)
  }

  test("langId detects marker-heavy samples") {
    assert(detect("the cat and the dog of it was in that house") === "en")
    assert(detect("el perro y la casa de los árboles en que vivo") === "es")
    assert(detect("le chat et la maison des arbres est un lieu du monde") === "fr")
    assert(detect("der Hund und die Katze ist von den Bäumen im Garten") === "de")
    assert(detect("我 是 他 的 人 这 不 了") === "zh")
  }

  test("langId yields 'und' for no overlap") {
    assert(detect("zzz qqq xxx yyy") === "und")
  }

  test("LangIdExpr equals its HOF reference form, incl. shared markers") {
    import spark.implicits._
    val samples = Seq(
      "the cat and the dog of it was in that house",
      "el perro y la casa de los árboles en que vivo",
      "le chat et la maison des arbres est un lieu du monde",
      "der Hund und die Katze ist von den Bäumen im Garten",
      "我 是 他 的 人 这 不 了",
      "zzz qqq xxx yyy",
      "la de", // markers shared by es AND fr: tie → alphabetical (es)
      "LA DE la de THE the", // case-folding + duplicate tokens
      "", // empty text
      "the la de und le et les" // cross-language mixture
    )
    val rows = samples.toDF("t")
      .select(langId(col("t")).as("fast"), langIdHof(col("t")).as("ref"))
      .collect()
    rows.zip(samples).foreach { case (r, s) =>
      assert(r.getString(0) === r.getString(1), s"mismatch on: '$s'")
    }
    // the shared-marker tie goes to the alphabetically-first language
    assert(rows(6).getString(0) === "es")
  }

  test("BPE-ish tokenizer: contractions split, digits fan out, punct separates") {
    import spark.implicits._
    val q60 = graft.queries.TextAnalysis.defs.find(_.name == "q60_bpe_tokens").get
    val dir = java.nio.file.Files.createTempDirectory("textspec").toString
    Seq(
      (0L, "don't stop", "en", "s", 10L), // don | 't | stop → 3
      (1L, "room 404!", "en", "s", 9L), // room | 4 | 0 | 4 | ! → 5
      (2L, "a-b", "en", "s", 3L) // a | - | b → 3 (1 ws token)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = q60.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(rows(0L) === ((3L, 2L)))
    assert(rows(1L) === ((5L, 2L)))
    assert(rows(2L) === ((3L, 1L)))
  }

  test("quality metrics on a known string") {
    import spark.implicits._
    val row = Seq("the cat sat")
      .toDF("t").select(qualityMetrics(col("t")).as("q"))
      .select("q.*").collect()(0)
    assert(row.getAs[Long]("n_tokens") === 3L)
    assert(math.abs(row.getAs[Double]("chars_per_token") - 11.0 / 3) < 1e-12)
    // "thecatsat" = 9 alpha of 11 chars
    assert(math.abs(row.getAs[Double]("alpha_ratio") - 9.0 / 11) < 1e-12)
    assert(math.abs(row.getAs[Double]("space_ratio") - 2.0 / 11) < 1e-12)
    // stopwords among {the,cat,sat}: "the"
    assert(math.abs(row.getAs[Double]("stopword_ratio") - 1.0 / 3) < 1e-12)
  }

  test("normText canonicalizes case and whitespace") {
    import spark.implicits._
    val out = Seq("  A  B\t c ", "a b c")
      .toDF("t").select(normText(col("t"))).collect().map(_.getString(0))
    assert(out(0) === out(1))
  }

  test("wordShingles produce n-grams in order") {
    import spark.implicits._
    val sh = Seq("a b c d").toDF("t")
      .select(wordShingles(col("t"), 3)).collect()(0).getSeq[String](0)
    assert(sh.toSet === Set("a b c", "b c d"))
  }
}

object TextAnalysisSpec {

  /** Reference HOF form of [[graft.functions.TextFunctions.langId]] — kept for equivalence testing. */
  def langIdHof(c: Column): Column = {
    // let-binding via singleton-array transform: a naive expression tree
    // here re-embeds the tokenizer in every when-branch (each branch
    // references `best`, which references all five intersects, which each
    // reference the token set — ~30 tokenizer copies that CaseWhen keeps
    // out of subexpression elimination). Binding the token set, then the
    // score struct, as single-element transform scopes evaluates the
    // tokenize once and each marker intersect once per row.
    val marks = langMarkers.toSeq.sortBy(_._1)
    val toksOnce = array(array_distinct(tokens(lower(c))))
    val scoresOnce = transform(toksOnce, tk =>
      struct(marks.map { case (lang, words) =>
        size(array_intersect(tk, array(words.map(lit): _*))).as(s"s_$lang")
      }: _*))
    element_at(
      transform(scoresOnce, sc => {
        val scores = marks.map { case (lang, _) => lang -> sc.getField(s"s_$lang") }
        val best = greatest(scores.map(_._2): _*)
        scores.foldRight(lit("und")) { case ((lang, s), el) =>
          when(s === best && best > 0, lit(lang)).otherwise(el)
        }
      }),
      1)
  }
}
