package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HTML table scans — the reference's extract operators, Spark-first.
  *
  * The reference parses scraped pages with BeautifulSoup on a single driver
  * thread: positional `tbody[2]` selection for the Wikipedia market-cap
  * table (`Python/etl_project_world_banks.ipynb:79-84`), first
  * `thead`/`tbody` for the IRS rates table (`ipynb:127-150`), and a
  * footer-id lookup for the last-modified stamp (`ipynb:87-88`).
  *
  * Here the page is a `wholetext` file row and the parse is a chain of
  * regexp/array Column expressions — one task per file, so a directory of
  * scraped pages parses embarrassingly parallel with zero driver
  * involvement (the 100 TB shape: millions of crawled pages, one wholetext
  * row each, map-side extraction at scan speed). The regex grammar covers
  * the well-formed `<tbody>/<tr>/<td|th>` nesting both reference sources
  * have; it is not a general HTML parser (neither is the reference's
  * positional indexing).
  *
  * HTTP fetching itself stays outside the engine (SURVEY §7.5 — the
  * zero-egress harness replaces live scrapes with fixture files), exactly
  * as the reference separates fetch (`requests.get`) from parse.
  */
object HtmlTable {

  private def innerAll(c: Column, tag: String): Column =
    regexp_extract_all(c, lit(s"(?s)<$tag[^>]*>(.*?)</$tag>"), lit(1))

  /** Strip nested tags and surrounding whitespace from a cell — the
    * `get_text().strip()` equivalent (`ipynb:94-95,157-159`). Whitespace
    * is Unicode's (`(?U)\s`), as Python's `str.strip()` has it, not
    * Spark `trim`'s U+0020 alone: MediaWiki ends every `<td>` with a
    * newline, and bs4 turns `&nbsp;` into U+00A0.
    */
  private def cellText(c: Column): Column =
    regexp_replace(regexp_replace(c, "<[^>]*>", ""), "(?U)^\\s+|\\s+$", "")

  /** One row per `<tr>` of the `tbodyIndex`-th `<tbody>` (0-based, matching
    * `soup.find_all('tbody')[2]` at `ipynb:80`), with `cells` =
    * tag-stripped `<td>` texts. Rows without any `<td>` (header rows) are
    * dropped — the reference's `len(row.find_all('td')) > 0` filter
    * (`ipynb:98`).
    */
  def scanPositional(spark: SparkSession, path: String, tbodyIndex: Int): DataFrame =
    // try_element_at: a malformed/short page (fewer tbodys than expected)
    // yields NULL → zero rows for THAT file, instead of an ANSI
    // INVALID_ARRAY_INDEX that kills the scan of the whole crawl directory
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("src_file"),
        try_element_at(innerAll(col("value"), "tbody"), lit(tbodyIndex + 1))
          .as("tbody"))
      .select(col("src_file"),
        posexplode(innerAll(col("tbody"), "tr")).as(Seq("row_idx", "tr")))
      .select(col("src_file"), col("row_idx"),
        transform(innerAll(col("tr"), "td"), cellText(_)).as("cells"))
      .filter(size(col("cells")) > 0)

  /** First-`thead`/first-`tbody` scan (`ipynb:127-150`): named columns from
    * the `<th>` texts of the first `<thead>` row, data rows from the first
    * `<tbody>` ([[scanPositional]] at index 0). Header extraction is a
    * 1-row collect — schema discovery, the same boundary as CSV header
    * inference.
    *
    * CONTRACT: `path` is ONE page (the reference parses a single page per
    * call, ipynb:127). Pointed at a directory, the header row would come
    * from an arbitrary file while data rows from all files merge with
    * colliding row_idx and no provenance — use [[scanPositional]] (which
    * carries `src_file`) for multi-page directories.
    */
  def scanFirst(spark: SparkSession, path: String): DataFrame = {
    val headers = Option(spark.read.option("wholetext", "true").text(path)
      .select(try_element_at(innerAll(col("value"), "thead"), lit(1))
        .as("thead"))
      .select(transform(innerAll(col("thead"), "th"), cellText(_)).as("hs"))
      .head().getSeq[String](0)).getOrElse(Seq.empty)
    // fail with file context, not a bare NPE/empty schema: a page without
    // a <thead> (or with an empty one) has no named columns to discover
    require(headers.nonEmpty,
      s"HtmlTable.scanFirst: no <thead> with <th> cells found in $path")
    val rows = scanPositional(spark, path, 0).drop("src_file")
    // Uniquify header names before the fold: withColumn REPLACES an
    // existing column, so a page with duplicate <th> texts (two empty
    // headers is common in layout tables) would silently drop a column —
    // and a header literally named "cells"/"row_idx" would clobber the
    // working columns mid-fold. Duplicates get _2, _3, ... suffixes.
    // case-INSENSITIVE shadow set: withColumn resolves names per
    // spark.sql.caseSensitive=false, so "NAME" replaces "Name" and
    // "Cells" clobbers the working column just as the exact spellings do
    val reserved = scala.collection.mutable.Set("cells", "row_idx")
    val unique = headers.map { h =>
      val name = if (!reserved(h.toLowerCase)) h
        else Iterator.from(2).map(n => s"${h}_$n")
          .find(c => !reserved(c.toLowerCase)).get
      reserved += name.toLowerCase
      name
    }
    // try_element_at: a data row with fewer <td>s than headers yields NULL
    // cells (quarantine them downstream) instead of failing the scan
    unique.zipWithIndex.foldLeft(rows) { case (df, (h, i)) =>
      df.withColumn(h, try_element_at(col("cells"), lit(i + 1)))
    }.drop("cells")
  }

  /** Footer last-modified text (`soup.find(id="footer-info-lastmod")`,
    * `ipynb:87-88`) — one value per file, keyed by `src_file`.
    *
    * Hinted `broadcast`: the frame has one row per page, and the file
    * listing already names every page. Without the hint, a
    * `scanPositional(...).join(footerLastmod(...), "src_file")` sees the
    * same whole-text size estimate on both sides, builds the hash table
    * on the cells side, and re-runs the page-wide footer regex for every
    * probed row.
    */
  def footerLastmod(spark: SparkSession, path: String): DataFrame =
    broadcast(spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("src_file"),
        cellText(regexp_extract(col("value"),
          "(?s)<[^>]*id=\"footer-info-lastmod\"[^>]*>(.*?)</", 1))
          .as("lastmod_text")))
}
