package graft

import javax.xml.parsers.DocumentBuilderFactory

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.exprs.OohExtractors
import graft.pipeline.OohPipeline

/** Property-fuzz of the jsdom-grade HTML leniency (reference index.js:3-5).
  * The native reader `html_texts` (behind [[OohExtractors.htmlXpathAll]])
  * must select exactly what the regex-heal + Xerces + XPath oracle
  * ([[HtmlOracle]]) selects, for every selector the specs use, on every
  * fragment from the supported tag-soup grammar — unclosed
  * `<p>`/`<li>`/`<td>`/`<th>`/`<tr>`, void tags, raw ampersands, HTML4
  * entities, mis-nested rows like `<tr><td>a<tr>` — and on the fixture's
  * sections. For that comparison to mean anything the oracle itself is
  * pinned: [[HtmlOracle.htmlAsXml]] turns every fragment into well-formed
  * XML, and its auto-close rewrite is IDEMPOTENT (a healed fragment passes
  * through byte-identical).
  *
  * The grammar is the supported-leniency envelope, deliberately excluding
  * the documented non-goals (`<p>` directly containing a block element,
  * an unclosed `<li>` whose body starts a nested list, uppercase tags) —
  * those are left byte-identical by design and need jsdom's full tree
  * builder to heal.
  */
class HtmlFuzzSpec extends SparkSpec {

  // ---- the supported tag-soup grammar --------------------------------------

  private val text: Gen[String] = Gen.chooseNum(1, 4).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf(
      "pay", "growth", "R&D", "&nbsp;", "&eacute;", "&amp;", "&unknown;",
      "50%", "a > b", "2,080", "x", "median wage")).map(_.mkString(" ")))

  private val voidTag: Gen[String] = Gen.oneOf(
    "<br>", "<hr>", "<br/>", "<img src=\"x.png\">", "<input type=\"text\">")

  private val inline: Gen[String] = Gen.frequency(4 -> text, 1 -> voidTag)

  private val inlines: Gen[String] = Gen.chooseNum(0, 3).flatMap(n =>
    Gen.listOfN(n, inline).map(_.mkString(" ")))

  private val pBlock: Gen[String] = for {
    attr <- Gen.oneOf("", " class=\"intro\"")
    body <- inlines
    closed <- Gen.oneOf(true, false)
  } yield s"<p$attr>$body${if (closed) "</p>" else ""}"

  private val header: Gen[String] = for {
    h <- Gen.oneOf("h2", "h3")
    t <- text
  } yield s"<$h>$t</$h>"

  private val listItem: Gen[String] = for {
    body <- inlines
    closed <- Gen.oneOf(true, false)
  } yield s"<li>$body${if (closed) "</li>" else ""}"

  private val list: Gen[String] = for {
    tag <- Gen.oneOf("ul", "ol")
    items <- Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, listItem))
  } yield s"<$tag>${items.mkString}</$tag>"

  private val cell: Gen[String] = for {
    t <- Gen.oneOf("td", "th")
    body <- inlines
    closed <- Gen.oneOf(true, false)
  } yield s"<$t>$body${if (closed) s"</$t>" else ""}"

  private val row: Gen[String] = for {
    cells <- Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, cell))
    closed <- Gen.oneOf(true, false)
  } yield s"<tr>${cells.mkString}${if (closed) "</tr>" else ""}"

  private val table: Gen[String] = for {
    rows <- Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, row))
  } yield s"<table>${rows.mkString}</table>"

  private val block: Gen[String] =
    Gen.frequency(4 -> pBlock, 2 -> header, 2 -> list, 2 -> table, 1 -> text)

  private val fragment: Gen[String] = for {
    blocks <- Gen.chooseNum(1, 6).flatMap(Gen.listOfN(_, block))
    sep <- Gen.oneOf("", " ", "\n")
  } yield blocks.mkString(sep)

  private val nFragments = 1200

  private def samples: Seq[String] = {
    // deterministic corpus: fixed seed, one retry budget for the generator
    val params = Gen.Parameters.default
    (0 until nFragments).map(i =>
      fragment.pureApply(params, Seed(42L + i), retries = 100))
  }

  test(s"htmlAsXml: $nFragments fuzzed tag-soup fragments all parse as XML") {
    import spark.implicits._
    val out = samples.toDF("html")
      .select(HtmlOracle.htmlAsXml(col("html")).as("xml"),
        // Spark's strict xpath is the consumer the leniency exists for —
        // run it over every fragment so a parse failure fails THIS job
        size(xpath(HtmlOracle.htmlAsXml(col("html")), lit("//p"))).as("np"))
      .collect()
    assert(out.length == nFragments)
    val dbf = DocumentBuilderFactory.newInstance()
    val failures = out.flatMap { r =>
      val xml = r.getString(0)
      try {
        dbf.newDocumentBuilder().parse(
          new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
        None
      } catch { case e: Exception => Some(s"${e.getMessage}\n  in: $xml") }
    }
    assert(failures.isEmpty,
      s"${failures.length}/$nFragments fragments unparseable; first:\n" +
        failures.headOption.getOrElse(""))
  }

  test("autoClose is idempotent over the fuzzed corpus") {
    import spark.implicits._
    val diffs = samples.toDF("html")
      .select(
        HtmlOracle.autoClose(col("html")).as("once"),
        HtmlOracle.autoClose(HtmlOracle.autoClose(col("html"))).as("twice"))
      .where(col("once") =!= col("twice"))
      .collect()
    assert(diffs.isEmpty,
      s"autoClose not idempotent on ${diffs.length} fragments; first healed " +
        s"form:\n${diffs.headOption.map(_.getString(0)).getOrElse("")}")
  }

  // ---- round-20 extension: entity-heavy + table-torture corpora ------------

  /** Entity soup: high-density named/numeric/malformed ampersand forms —
    * the real-world OOH CDATA failure mode (`&nbsp;`-ridden exports,
    * double-escaped feeds, bare ampersands in company names).
    */
  private val entityRun: Gen[String] = Gen.chooseNum(2, 8).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf(
      "&nbsp;", "&eacute;", "&mdash;", "&rsquo;", "&amp;", "&lt;", "&gt;",
      "&#233;", "&#x2019;", "&amp;nbsp;", "&unknown;", "&notanentity",
      "&", "&&", "R&D", "AT&T", "&quot;", "5 &gt; 3", "&x;", "pay&",
      "&thetasym;", "&NBSP;")).map(_.mkString(" ")))

  private val entityShapes: Seq[String => String] = Seq(
    s => s"<p>$s</p>", s => s"<p>$s", s => s"<h3>$s</h3>",
    s => s"<ul><li>$s</li></ul>", s => s"<ul><li>$s</ul>",
    s => s"<table><tr><td>$s</table>")

  private val entityBlock: Gen[String] = for {
    t <- entityRun
    shape <- Gen.oneOf(entityShapes)
  } yield shape(t)

  private val tableSection: Gen[String] = Gen.oneOf("", "thead", "tbody", "tfoot")

  /** Table torture: attribute-bearing unclosed cells, zero-cell rows,
    * consecutive `<tr><tr>`, section wrappers, stray text between rows
    * (well-formed XML allows element-level text; HTML5 foster-parents it
    * — the healed tree differs from jsdom's THERE, but every consumer
    * reads cell text, which both engines agree on).
    */
  private val tortureRow: Gen[String] = for {
    nc <- Gen.chooseNum(0, 3)
    cells <- Gen.listOfN(nc, for {
      t <- Gen.oneOf("td", "th")
      attr <- Gen.oneOf("", " colspan=\"2\"", " class=\"num\"")
      body <- Gen.frequency(2 -> entityRun, 3 -> inlines)
      closed <- Gen.oneOf(true, false)
    } yield s"<$t$attr>$body${if (closed) s"</$t>" else ""}")
    closed <- Gen.oneOf(true, false)
    trail <- Gen.oneOf("", "stray")
  } yield s"<tr>${cells.mkString}${if (closed) "</tr>" else ""}$trail"

  private val tortureTable: Gen[String] = for {
    sec <- tableSection
    rows <- Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, tortureRow))
    body = rows.mkString
  } yield if (sec.isEmpty) s"<table>$body</table>"
    else s"<table><$sec>$body</$sec></table>"

  private def tortureSamples(g: Gen[String], n: Int, seed: Long): Seq[String] = {
    val params = Gen.Parameters.default
    (0 until n).map(i => g.pureApply(params, Seed(seed + i), retries = 100))
  }

  private def assertAllParse(frags: Seq[String], tag: String): Unit = {
    import spark.implicits._
    val out = frags.toDF("html")
      .select(HtmlOracle.htmlAsXml(col("html")).as("xml"),
        size(xpath(HtmlOracle.htmlAsXml(col("html")), lit("//td"))).as("nc"))
      .collect()
    val dbf = DocumentBuilderFactory.newInstance()
    val failures = out.flatMap { r =>
      val xml = r.getString(0)
      try {
        dbf.newDocumentBuilder().parse(
          new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
        None
      } catch { case e: Exception => Some(s"${e.getMessage}\n  in: $xml") }
    }
    assert(failures.isEmpty,
      s"$tag: ${failures.length}/${frags.length} fragments unparseable; first:\n" +
        failures.headOption.getOrElse(""))
  }

  test("entity-heavy corpus: 600 fragments parse; decoded text matches the jsdom read") {
    assertAllParse(tortureSamples(entityBlock, 600, 9000L), "entities")
    // the jsdom-semantics pin: what a consumer READS through xpath is the
    // decoded text jsdom would hand it — entities resolved, bare & literal
    import spark.implicits._
    val got = Seq("<p>R&D &nbsp; &eacute; &amp; &#x2019; x</p>").toDF("html")
      .select(OohExtractors.htmlXpathAll(col("html"), "//p/text()").as("t"))
      .collect()(0).getSeq[String](0)
    assert(got == Seq("R&D   é & ’ x"), got.toString)
  }

  test("table-torture corpus: 600 fragments parse; cell text survives the heal") {
    assertAllParse(tortureSamples(tortureTable, 600, 11000L), "tables")
    import spark.implicits._
    // mis-nested torture: section wrapper + consecutive rows + attribute
    // cell + unclosed everything — the cells' TEXT must come through in
    // document order (the consumer contract; tree shape is healed, text
    // is the data)
    val got = Seq("<table><tbody><tr><td colspan=\"2\">a<tr><th>b<td>c</tbody></table>")
      .toDF("html")
      .select(OohExtractors.htmlXpathAll(col("html"), "//tr/*/text()").as("t"))
      .collect()(0).getSeq[String](0)
    assert(got == Seq("a", "b", "c"), got.toString)
  }

  test("documented non-goals stay byte-identical through autoClose (the jsdom-divergence envelope)") {
    import spark.implicits._
    // SURVEY §1.4.1's lenient-parse divergences that need a full tree
    // builder: unclosed <li> opening a nested list, unclosed cell
    // directly containing a nested table, uppercase tags. The documented
    // contract is LEAVE THEM ALONE (never inject a close that would
    // corrupt a well-formed neighbor) — pin exactly that.
    val nonGoals = Seq(
      "<ul><li><ul><li>a</li></ul></ul>",
      "<table><tr><td><table><tr><td>x</td></tr></table></td></tr></table>",
      "<P>UPPER</P>",
      "<LI>item",
      "<TD>cell")
    val diffs = nonGoals.toDF("html")
      .select(col("html"), HtmlOracle.autoClose(col("html")).as("healed"))
      .where(col("html") =!= col("healed"))
      .collect()
    assert(diffs.isEmpty,
      s"autoClose rewrote ${diffs.length} documented non-goal fragments; first: " +
        diffs.headOption.map(r => s"${r.getString(0)} -> ${r.getString(1)}").getOrElse(""))
  }

  test("well-formed fragments pass through autoClose byte-identical") {
    import spark.implicits._
    // closed-everything subcorpus: strip the grammar's optionality by
    // healing once via htmlAsXml, then check the root-stripped body is a
    // fixpoint of autoClose (no spurious closes injected into good HTML)
    val healed = samples.toDF("html")
      .select(HtmlOracle.htmlAsXml(col("html")).as("xml"))
      .select(regexp_replace(col("xml"), "^<root>|</root>$", "").as("body"))
    val diffs = healed
      .where(HtmlOracle.autoClose(col("body")) =!= col("body"))
      .collect()
    assert(diffs.isEmpty,
      s"autoClose rewrote ${diffs.length} already-well-formed fragments; " +
        s"first:\n${diffs.headOption.map(_.getString(0)).getOrElse("")}")
  }

  // ---- differential: html_texts against the xpath oracle -------------------

  /** Every selector the specs and the pipeline use, the corpora's own
    * attribute values, and `//text()` (every text node).
    */
  private val selectors = Seq(
    "//p/text()", "//p//text()", "//p[@class='x']/text()", "//p[@class=\"intro\"]/text()",
    "//li/text()", "//li/p/text()", "//li//text()",
    "//td/text()", "//td//text()", "//td/h4/text()", "//td//h4/text()", "//td/p/text()",
    "//td[@class='num']/text()", "//tr//text()", "//tr/td/text()", "//tr/*/text()",
    "//form/p/text()", "//h3/text()", "//text()")

  private def assertSameAsOracle(frags: Seq[String], tag: String): Unit = {
    import spark.implicits._
    val cols = selectors.flatMap(xp =>
      Seq(HtmlOracle.xpathAll(col("html"), xp), OohExtractors.htmlXpathAll(col("html"), xp)))
    val rows = frags.toDF("html").select(col("html") +: cols: _*).collect()
    assert(rows.length == frags.length)
    val diffs = for {
      r <- rows.toSeq
      (xp, k) <- selectors.zipWithIndex
      want = r.getSeq[String](1 + 2 * k)
      got = r.getSeq[String](2 + 2 * k)
      if want != got
    } yield s"$xp on ${r.getString(0)}\n  oracle: $want\n  html_texts: $got"
    assert(diffs.isEmpty,
      s"$tag: ${diffs.length} (fragment, selector) pairs differ; first:\n" +
        diffs.take(3).mkString("\n"))
  }

  test("html_texts equals the xpath oracle on the tag-soup, entity-heavy and table-torture corpora") {
    assertSameAsOracle(samples, "tag soup")
    assertSameAsOracle(tortureSamples(entityBlock, 600, 9000L), "entities")
    assertSameAsOracle(tortureSamples(tortureTable, 600, 11000L), "tables")
  }

  test("html_texts equals the xpath oracle on the fixture templates' sections") {
    val raw = OohPipeline.read(spark, OohPipeline.fixturePath)
    val sections = Seq("summary_what_they_do", "summary_how_to_become_one",
      "summary_work_environment", "summary_pay", "similar_occupations.section_body",
      "work_environment.section_body", "how_to_become_one.section_body")
    val frags = sections.flatMap(c =>
      raw.select(col(c)).collect().toSeq.map(_.getString(0)).filter(_ != null))
    assert(frags.length == 8 * sections.length, frags.length.toString)
    assertSameAsOracle(frags, "fixture")
  }
}
