package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.WorldBanksPipeline
import graft.sources.HtmlTable

/** The extract path end-to-end on reference-shaped pages: positional
  * tbody[2] scan (wiki market-cap layout), first-thead/tbody scan (IRS
  * rates layout), footer lastmod lookup, and extraction composed into the
  * cleanse → enrich pipeline.
  */
class HtmlTableSpec extends SparkSuite {

  private def write(name: String, html: String): String = {
    val dir = tempDir("graft_html")
    val f = dir.resolve(name)
    Files.write(f, html.getBytes("UTF-8"))
    f.toString
  }

  // Wiki-like page: two navigation tbodies before the data table, rank
  // column to drop, a header row without <td>, nested markup in cells,
  // and the footer lastmod div.
  private val wikiHtml = """<html><body>
    |<table><tbody><tr><td>nav1</td></tr></tbody></table>
    |<table><tbody><tr><td>nav2</td></tr></tbody></table>
    |<table class="wikitable"><tbody>
    |<tr><th>Rank</th><th>Bank name</th><th>Market cap</th></tr>
    |<tr><td>1</td><td><a href="/x">JPMorgan Chase</a></td><td>599.931</td></tr>
    |<tr><td>2</td><td>Bank of America</td><td> 307.900 </td></tr>
    |<tr><td>3</td><td><b>ICBC</b></td><td>303.543</td></tr>
    |</tbody></table>
    |<div id="footer-info-lastmod"> This page was last edited on 21 August 2024, at 10:30 (UTC).</div>
    |</body></html>""".stripMargin

  private val irsHtml = """<html><body>
    |<table>
    |<thead><tr><th>Country</th><th>Currency</th><th>2024</th></tr></thead>
    |<tbody>
    |<tr><td>Euro Zone</td><td>Euro</td><td>0.924</td></tr>
    |<tr><td>India</td><td>Rupee</td><td>82.572</td></tr>
    |</tbody>
    |</table></body></html>""".stripMargin

  test("positional tbody[2] scan drops header rows and strips nested tags (S2)") {
    val path = write("banks.html", wikiHtml)
    val rows = HtmlTable.scanPositional(spark, path, 2)
      .orderBy(col("row_idx"))
      .select(col("cells")).collect().map(_.getSeq[String](0))
    assert(rows.length == 3) // header <tr> (th-only) filtered out
    assert(rows(0) == Seq("1", "JPMorgan Chase", "599.931"))
    assert(rows(1) == Seq("2", "Bank of America", "307.900")) // trimmed
    assert(rows(2) == Seq("3", "ICBC", "303.543"))
  }

  test("first thead/tbody scan yields named columns (S3)") {
    val path = write("rates.html", irsHtml)
    val df = HtmlTable.scanFirst(spark, path).orderBy(col("row_idx"))
    assert(df.columns.toSeq == Seq("row_idx", "Country", "Currency", "2024"))
    val r = df.collect()
    assert(r.map(_.getString(1)).toSeq == Seq("Euro Zone", "India"))
    assert(r.map(_.getString(3)).toSeq == Seq("0.924", "82.572"))
  }

  test("footer lastmod scan (S4) feeds the F2/F3 date parse") {
    val path = write("banks.html", wikiHtml)
    val lastmod = HtmlTable.footerLastmod(spark, path)
    val parsed = lastmod.select(
      to_date(trim(element_at(
        split(element_at(split(col("lastmod_text"), "on"), 2), ","), 1)),
        "d MMMM yyyy").as("d")).head().getDate(0)
    assert(parsed.toString == "2024-08-21")
  }

  test("footer join builds on the footer side and keeps the unhinted rows") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    val dir = tempDir("graft_html_footer")
    (1 to 3).foreach { i =>
      Files.write(dir.resolve(s"page_$i.html"),
        wikiHtml.replace("21 August", s"$i August").getBytes("UTF-8"))
    }
    def joined() = HtmlTable.scanPositional(spark, dir.toString, 2)
      .join(HtmlTable.footerLastmod(spark, dir.toString), "src_file")
      .select(col("src_file"), col("row_idx"), col("lastmod_text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq.sorted
    val hinted = joined()
    val got = rows(hinted)
    // the helper's collect descends through AQE's query stages
    val finalPlan = hinted.queryExecution.executedPlan
    val joins = new AdaptiveSparkPlanHelper {}.collect(finalPlan) {
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.nonEmpty && joins.forall(_.buildSide == BuildRight),
      s"expected a broadcast build on the footer side:\n$finalPlan")
    spark.conf.set("spark.sql.optimizer.disableHints", "true")
    val plain = try rows(joined())
      finally spark.conf.unset("spark.sql.optimizer.disableHints")
    assert(got.length == 9)
    assert(got == plain)
  }

  test("cells, headers and footer text lose newline, tab and U+00A0 " +
      "padding, like the reference's .strip() (F1)") {
    val nb = "\u00a0"
    val banksDir = tempDir("graft_html_ws")
    Files.write(banksDir.resolve("banks.html"), Seq(
      "<html><body>",
      "<table><tbody><tr><td>nav1</td></tr></tbody></table>",
      "<table><tbody><tr><td>nav2</td></tr></tbody></table>",
      "<table><tbody>",
      s"<tr><th>\nRank\n</th><th>\tBank name$nb</th><th> Market cap</th></tr>",
      "<tr><td>\n1\n</td><td>\n  JPMorgan Chase\n</td><td>\t42 </td></tr>",
      s"<tr><td>${nb}2</td><td>$nb" + "<a href=\"/x\">Bank of America</a>\t\n</td>" +
        s"<td>$nb 7.5$nb</td></tr>",
      "</tbody></table>",
      "<div id=\"footer-info-lastmod\">\n\t" + nb +
        s"This page was last edited on 21 August 2024, at 10:30 (UTC).$nb\n</div>",
      "</body></html>").mkString("\n").getBytes("UTF-8"))
    val raw = HtmlTable.scanPositional(spark, banksDir.toString, 2)
      .join(HtmlTable.footerLastmod(spark, banksDir.toString), "src_file")
    assert(raw.orderBy(col("row_idx")).select(col("cells")).collect()
      .map(_.getSeq[String](0)).toSeq == Seq(
        Seq("1", "JPMorgan Chase", "42"), Seq("2", "Bank of America", "7.5")))
    assert(raw.select(col("lastmod_text")).distinct().collect()
      .map(_.getString(0)).toSeq ==
      Seq("This page was last edited on 21 August 2024, at 10:30 (UTC)."))
    val clean = WorldBanksPipeline.cleanseBanks(
      raw.select(element_at(col("cells"), 2).as("bank_name"),
        element_at(col("cells"), 3).as("market_cap_usd"),
        col("lastmod_text")), lit("b1"))
      .orderBy(col("bank_name")).collect()
    assert(clean.map(r => (r.getAs[String]("bank_name"),
      r.getAs[Double]("market_cap_usd"),
      String.valueOf(r.getAs[java.sql.Date]("last_modified_date")))).toSeq ==
      Seq(("Bank of America", 7.5, "2024-08-21"),
        ("JPMorgan Chase", 42.0, "2024-08-21")))

    val ratesPath = write("rates_ws.html", Seq(
      "<html><body><table>",
      s"<thead><tr><th>\nCountry\n</th><th>${nb}Currency</th><th>\t2024 </th></tr></thead>",
      s"<tbody><tr><td>\nEuro Zone\n</td><td>Euro$nb</td><td>\t0.924\n</td></tr></tbody>",
      "</table></body></html>").mkString("\n"))
    val rates = HtmlTable.scanFirst(spark, ratesPath)
    assert(rates.columns.toSeq == Seq("row_idx", "Country", "Currency", "2024"))
    assert(rates.collect().map(r => (1 to 3).map(r.getString)).toSeq ==
      Seq(Seq("Euro Zone", "Euro", "0.924")))
  }

  test("scanFirst uniquifies duplicate and reserved header names") {
    val path = write("dupheads.html",
      """<html><body><table>
        |<thead><tr><th>Name</th><th>Name</th><th>cells</th></tr></thead>
        |<tbody><tr><td>a</td><td>b</td><td>c</td></tr></tbody>
        |</table></body></html>""".stripMargin)
    val df = HtmlTable.scanFirst(spark, path)
    // withColumn would silently REPLACE a duplicate — both positions must
    // survive, and a header named like the working column must not clash
    assert(df.columns.toSeq == Seq("row_idx", "Name", "Name_2", "cells_2"))
    val r = df.collect().head
    assert(r.getAs[String]("Name") == "a" && r.getAs[String]("Name_2") == "b"
      && r.getAs[String]("cells_2") == "c")
  }

  test("scanFirst header clash detection is case-insensitive like Spark") {
    // withColumn resolves case-insensitively (spark.sql.caseSensitive is
    // false), so "NAME" would replace "Name" and "Cells" the working col
    val path = write("caseheads.html",
      """<html><body><table>
        |<thead><tr><th>Name</th><th>NAME</th><th>Cells</th></tr></thead>
        |<tbody><tr><td>a</td><td>b</td><td>c</td></tr></tbody>
        |</table></body></html>""".stripMargin)
    val df = HtmlTable.scanFirst(spark, path)
    assert(df.columns.toSeq == Seq("row_idx", "Name", "NAME_2", "Cells_2"))
    val r = df.collect().head
    assert(r.getAs[String]("Name") == "a" && r.getAs[String]("NAME_2") == "b"
      && r.getAs[String]("Cells_2") == "c")
  }

  test("scanFirst on a page without <thead> fails with the file path") {
    val path = write("nohead.html",
      "<html><body><table><tbody><tr><td>1</td></tr></tbody></table></body></html>")
    val ex = intercept[IllegalArgumentException] {
      HtmlTable.scanFirst(spark, path)
    }
    assert(ex.getMessage.contains("no <thead>") &&
      ex.getMessage.contains("nohead.html"))
  }

  test("extract composes into cleanse -> enrich (S2 + ipynb projection + J5)") {
    val banksPath = write("banks.html", wikiHtml)
    val ratesPath = write("rates.html", irsHtml)
    val lastmod = HtmlTable.footerLastmod(spark, banksPath)
      .head().getString(1)
    // ipynb:92-98 — drop td[0] rank, take name + market cap
    val rawBanks = HtmlTable.scanPositional(spark, banksPath, 2)
      .select(element_at(col("cells"), 2).as("bank_name"),
        element_at(col("cells"), 3).as("market_cap_usd"),
        lit(lastmod).as("lastmod_text"))
    val rawRates = HtmlTable.scanFirst(spark, ratesPath)
      .select(col("Country").as("country"), col("Currency").as("currency"),
        col("2024").as("exchange_rate"))
    val enriched = WorldBanksPipeline.enrich(
      WorldBanksPipeline.cleanseBanks(rawBanks, lit("b1")),
      WorldBanksPipeline.cleanseRates(rawRates, "2024", lit("b1")))
      .orderBy(col("bank_name"))
    val rows = enriched.collect()
    assert(rows.length == 3)
    val jpm = rows.find(_.getAs[String]("bank_name") == "JPMorgan Chase").get
    assert(jpm.getAs[Double]("MC_EUR_Billion") == math.rint(599.931 * 0.924 * 100) / 100)
    assert(jpm.getAs[Double]("MC_INR_Billion") == math.rint(599.931 * 82.572 * 100) / 100)
  }
}
