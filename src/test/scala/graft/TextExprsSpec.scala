package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextExprs
import graft.operators.TextOps

/** The native single-pass text expressions (PredictLang, BigramPairs)
  * must agree ROW-FOR-ROW with the higher-order-function Column formulas
  * they replaced (TextOps.predictedLang / predictedLangNgram / the
  * zip_with bigram form) — those formulas are the executable contract the
  * DuckDB oracle SQL was written against. Random inputs cover: marker
  * words and profile trigrams embedded mid-text, empty tokens (leading /
  * trailing / double spaces), strings shorter than 3 chars (the substr
  * clamp), ties between languages (first-profile-wins), zero-score rows
  * ("und"), NULL text, and non-ASCII characters (the general code-point
  * path).
  */
class TextExprsSpec extends SparkSuite {
  import spark.implicits._

  private val markerish: Gen[String] = Gen.oneOf(
    TextOps.LangProfiles.flatMap(_._2) ++
      TextOps.TrigramProfiles.flatMap(_._2) ++
      Seq("xyz", "qq", "", "é", "データ", "the table", "a", "of of"))

  private val textGen: Gen[String] =
    Gen.chooseNum(0, 8).flatMap(n =>
      Gen.listOfN(n, markerish).map(_.mkString(" ")))

  private def sample(seed: Long, n: Int): List[Option[String]] = {
    val g = Gen.listOfN(n, Gen.frequency(9 -> textGen.map(Some(_)),
      1 -> Gen.const(None)))
    g(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)
  }

  private def df(rows: List[Option[String]]): DataFrame = {
    val d = rows.zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }
      .toDF("doc_id", "text")
    TextExprs.register(spark)
    d
  }

  test("PredictLang word mode matches the HOF fold formula") {
    val d = df(sample(42L, 200))
    val both = d.select(col("doc_id"),
      TextExprs.predictWord(col("text")).as("native"),
      TextOps.predictedLang(TextOps.words(col("text"))).as("hof"))
    val bad = both.filter(not(col("native") <=> col("hof"))).collect()
    assert(bad.isEmpty, s"word-mode mismatches: ${bad.mkString("; ")}")
  }

  test("PredictLang trigram mode matches the HOF fold formula") {
    val d = df(sample(7L, 200))
    val both = d.select(col("doc_id"),
      TextExprs.predictTrigram(col("text")).as("native"),
      TextOps.predictedLangNgram(TextOps.trigrams(col("text"))).as("hof"))
    val bad = both.filter(not(col("native") <=> col("hof"))).collect()
    assert(bad.isEmpty, s"trigram-mode mismatches: ${bad.mkString("; ")}")
  }

  test("BigramPairs matches the zip_with formula including NULL and <2-word docs") {
    val d = df(sample(99L, 200))
    val w = TextOps.words(col("text"))
    val zipForm = slice(
      zip_with(w, slice(w, lit(2), size(w)),
        (a, b) => struct(a.as("prefix"), b.as("next_word"))),
      lit(1), greatest(size(w) - 1, lit(0)))
    val both = d.select(col("doc_id"),
      TextExprs.bigramPairs(col("text")).as("native"), zipForm.as("hof"))
    val bad = both.filter(not(col("native") <=> col("hof"))).collect()
    assert(bad.isEmpty, s"bigram mismatches: ${bad.mkString("; ")}")
  }

  test("edge fixtures: short strings, und, ties, null") {
    val d = df(List(Some(""), Some(" "), Some("ab"), Some("the"),
      Some("the table"), Some("zz zz zz"), None, Some("é é"),
      Some("the data query scan filter sort")))
    val rows = d.select(
      TextExprs.predictWord(col("text")),
      TextExprs.predictTrigram(col("text")),
      TextOps.predictedLang(TextOps.words(col("text"))),
      TextOps.predictedLangNgram(TextOps.trigrams(col("text"))))
      .collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(2), s"word: $r")
      assert(r.getString(1) == r.getString(3), s"trigram: $r")
    }
  }

  test("bigrams() end-to-end stream equals the previous formulation") {
    val d = df(sample(5L, 100))
    val viaOp = TextOps.bigrams(d)
      .orderBy("doc_id", "prefix", "next_word").collect().toSeq
    val w = TextOps.words(col("text"))
    val pairs = slice(
      zip_with(w, slice(w, lit(2), size(w)),
        (a, b) => struct(a.as("a"), b.as("b"))),
      lit(1), greatest(size(w) - 1, lit(0)))
    val viaHof = d.select(col("doc_id"), explode_outer(pairs).as("p"))
      .filter(col("p").isNotNull)
      .select(col("doc_id"), col("p.a").as("prefix"),
        col("p.b").as("next_word"))
      .orderBy("doc_id", "prefix", "next_word").collect().toSeq
    assert(viaOp == viaHof)
  }

  test("expressions stay inside whole-stage codegen (no CodegenFallback)") {
    // range → project: a LocalTableScan would constant-fold the whole
    // frame away, so drive the expressions from a real operator chain
    TextExprs.register(spark)
    val plan = spark.range(4)
      .select(concat(lit("the table "), col("id")).as("text"))
      .select(TextExprs.predictWord(col("text")),
        TextExprs.predictTrigram(col("text")),
        TextExprs.bigramPairs(col("text")))
      .queryExecution.executedPlan
    val wsc = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
    assert(wsc.nonEmpty, s"expected WholeStageCodegenExec in:\n$plan")
    // and it must actually execute through the generated path
    assert(spark.range(4)
      .select(concat(lit("the table "), col("id")).as("text"))
      .select(TextExprs.predictWord(col("text")).as("p"))
      .collect().forall(_.getString(0) == "en"))
  }
}
