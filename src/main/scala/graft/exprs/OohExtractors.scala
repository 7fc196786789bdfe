package graft.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's scalar-extraction layer (SURVEY.md §2.2, P1–P11)
  * re-expressed as pure `Column => Column` functions — every extractor is a
  * Catalyst expression tree, so the whole wide projection runs inside one
  * whole-stage-codegen'd select with column pruning back into the XML scan.
  * No UDFs anywhere.
  *
  * Semantics are derived from /root/reference/index.js (cited per function).
  * Documented divergences from the reference (SURVEY §1.4):
  *   - numeric coercion yields null (not NaN) on non-numeric text;
  *   - an odd trailing industry cell maps to a null value (the reference
  *     would throw on `undefined.textContent`, index.js:102);
  *   - duplicate pay-map keys resolve last-wins (JS object-assignment
  *     semantics; requires spark.sql.mapKeyDedupPolicy=LAST_WIN, pinned in
  *     GraftSession).
  */
object OohExtractors {

  /** P2 `xpathSelect` (index.js:7-17): the text nodes `xp` selects in an
    * HTML fragment column, in document order. The reference re-parses each
    * CDATA payload with jsdom (`getDocument`, index.js:3-5), which is
    * lenient (SURVEY §1.4.1); so is the native one-pass reader behind this,
    * `html_texts` ([[HtmlTexts]]), which reads the raw fragment directly:
    *   - an open `<p>` closes at the next `<p>`, `<li>`, heading, list,
    *     `<div>`, `<section>` or table tag; an open `<li>` at the next `<li>`
    *     of its list; an open `<td>`/`<th>` at the next cell, row or table
    *     section; an open `<tr>` at the next row or section; an end tag
    *     closes what is still open inside its element;
    *   - void tags (`<br>`, `<img …>`, …) never take content, whatever
    *     their attributes hold;
    *   - HTML4 named, XML and numeric references decode; any other `&` is
    *     literal text; CR and CRLF read as LF; names are case-insensitive.
    * Divergences from jsdom: no other implied ends (`<hr>` does not close
    * a `<p>`), no implied `<html>`/`<body>`/`<tbody>`, no reordering of
    * misnested inline tags or of text a table holds outside its cells, a
    * stray end tag is ignored, `/>` ends any element, `<script>`/`<style>`
    * content is read as markup, and HTML5-only or semicolon-less references
    * stay literal (full list at [[HtmlTexts.select]]).
    *
    * `xp` must be in the [[HtmlPath]] subset: `//` and `/` steps, a name or
    * `*`, one `[@attr='v']` predicate, a final `text()`. Any other path is
    * an analysis error naming the path.
    */
  def htmlXpathAll(c: Column, xp: String): Column = call_function("html_texts", c, lit(xp))

  /** P3 `cdataXpath` (index.js:23-38): concatenate every match's text, in
    * document order, with no separator.
    */
  def cdataConcat(c: Column, xp: String): Column = array_join(htmlXpathAll(c, xp), "")

  /** The reference logs a cardinality warning when a cdataXpath matches ≠ 1
    * nodes (index.js:33-35). Data-quality side-channel, not a failure.
    */
  def cardinalityWarning(c: Column, xp: String, label: String): Column =
    when(size(htmlXpathAll(c, xp)) =!= 1, lit(label))

  /** Whitespace normalization shared by the regex parsers:
    * `replace(/[\s\t\r\n]+/gm, ' ')` (index.js:110,117) ≡ `\s+` → " ".
    */
  def normWs(c: Column): Column = regexp_replace(c, "\\s+", " ")

  private def emptyToNull(c: Column): Column = when(c =!= "", c)

  /** P10 numeric coercion (index.js:151-152, JS unary `+`). Divergence
    * (SURVEY §1.4.2): non-numeric → null, not NaN; the guard also keeps the
    * cast ANSI-safe (Spark 4 ANSI casts throw on malformed input).
    */
  def toDoubleOrNull(c: Column): Column =
    when(c.rlike("^-?\\d+(\\.\\d+)?$"), c.cast("double"))

  // ---- P8: work schedules -------------------------------------------------

  /** Regex from index.js:143 (capture group 3), run over the raw HTML text
    * of `work_environment section_body`; `match && match[3]` → null when
    * the header is absent.
    */
  private val wsPattern =
    "<h3>( |<strong>)?Work [Ss]chedules?( |</strong>)?</h3> ?<p> ?(.+) ?</p>"

  def workSchedules(sectionBody: Column): Column =
    emptyToNull(regexp_extract(normWs(sectionBody), wsPattern, 3))

  // ---- P9: important qualities -------------------------------------------

  /** Regex from index.js:144 (capture group 4). */
  private val iqPattern =
    "<h3>( |<strong>)?Important [Qq]ualities?(&nbsp;)?( |</strong>)?</h3>(.*)"

  /** P9 `importantQualityParser` (index.js:115-133): normalize whitespace,
    * take everything after the Important Qualities header (group 4),
    * truncate at the next `<h3>`, XPath the `<p>` texts, split each at the
    * FIRST `". "` into key → sentence. When `". "` is absent the reference's
    * `indexOf`/`slice` arithmetic yields key = text minus its last char and
    * value = text minus its first char (JS slice(0,-1)/slice(1)) — kept
    * faithfully. Null (not a failure) when the header is absent.
    */
  def importantQualities(sectionBody: Column): Column = {
    val norm = normWs(sectionBody)
    val rest = regexp_extract(norm, iqPattern, 4)
    val frag = get(split(rest, "<h3>"), lit(0))
    val ps = htmlXpathAll(frag, "//p/text()")
    val entries = transform(ps, t => {
      val pos = instr(t, ". ")
      val key = when(pos > 0, t.substr(lit(1), pos - 1))
        .otherwise(t.substr(lit(1), length(t) - 1))
      val value = when(pos > 0, t.substr(pos + 2, length(t)))
        .otherwise(t.substr(lit(2), length(t)))
      struct(key.as("key"), value.as("value"))
    })
    when(norm.rlike(iqPattern), map_from_entries(entries))
  }

  // ---- P5: pay ------------------------------------------------------------

  /** Named-group regexes from index.js:59 and index.js:70. The annual wage
    * group `\d+,\d{3}` always captures exactly one comma, so the
    * reference's first-comma-only `replace` (index.js:65) and a global
    * replace are equivalent here.
    */
  private val annualRe = "The median annual wage for (.+) was \\$(\\d+,\\d{3})"
  private val hourlyRe = "The median hourly wage for (.+) was \\$(\\d+\\.\\d{2})"

  /** P5 `payParser` entries (index.js:57-85): per `<p>`, annual form first
    * (hourly = round(annual/2080, 2), index.js:65), else hourly form, else
    * no entry. Returns map suboccupation → hourly wage.
    */
  def pay(summaryPay: Column): Column = {
    val ps = htmlXpathAll(summaryPay, "//p/text()")
    val entries = filter(
      transform(ps, t => {
        val aKey = regexp_extract(t, annualRe, 1)
        val hKey = regexp_extract(t, hourlyRe, 1)
        val annual = round(
          regexp_replace(regexp_extract(t, annualRe, 2), ",", "").cast("double") / 2080, 2)
        val hourly = regexp_extract(t, hourlyRe, 2).cast("double")
        when(aKey =!= "", struct(aKey.as("key"), annual.as("value")))
          .when(hKey =!= "", struct(hKey.as("key"), hourly.as("value")))
      }),
      e => e.isNotNull)
    map_from_entries(entries)
  }

  /** P4/P5 `payText` (index.js:53): concatenation of every `//p` text. */
  def payText(summaryPay: Column): Column = cdataConcat(summaryPay, "//p/text()")

  // ---- P6: similar occupations -------------------------------------------

  /** P6 `similarOccupationsParser` (index.js:87-93): `//td//h4` texts,
    * trimmed, document order.
    */
  def similarOccupations(sectionBody: Column): Column =
    transform(htmlXpathAll(sectionBody, "//td//h4/text()"), t => trim(t))

  // ---- P7: top industries -------------------------------------------------

  /** P7 `topIndustryParser` (index.js:95-106): `//td` texts paired
    * positionally (even = industry, odd = percent, `%` stripped,
    * index.js:101-103). Divergence: an odd trailing cell yields a null
    * value (the reference would throw).
    */
  def topIndustries(sectionBody: Column): Column = {
    // One evaluation of the cell array per row: the fold holds an even
    // (industry) cell in `key` until its odd (percent) partner arrives.
    val entries = "array<struct<key:string,value:string>>"
    val none = lit(null).cast("string")
    def entry(k: Column, v: Column): Column = array(struct(k.as("key"), v.as("value")))
    map_from_entries(aggregate(
      htmlXpathAll(sectionBody, "//td/text()"),
      struct(array().cast(entries).as("entries"), none.as("key")),
      (acc, x) => when(acc("key").isNull, struct(acc("entries").as("entries"), x.as("key")))
        .otherwise(struct(
          concat(acc("entries"), entry(acc("key"), regexp_replace(x, "%", ""))).as("entries"),
          none.as("key"))),
      acc => when(acc("key").isNull, acc("entries"))
        .otherwise(concat(acc("entries"), entry(acc("key"), none)))))
  }
}
