package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.exprs.OohExtractors._

/** Golden tests per extractor (SURVEY §2.2), expectations hand-derived from
  * the reference semantics at /root/reference/index.js:19-133 — multi-match
  * concat, `%` strip, even/odd pairing, /2080 round-2, first-`". "` split,
  * null-on-missing-header.
  */
class OohExtractorsSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, input: String): Any =
    Seq(input).toDF("s").select(c.as("r")).head().get(0)

  // P2/P3 — xpath list + concat (index.js:7-38)
  test("cdataConcat concatenates every match in document order, no separator") {
    assert(one(cdataConcat(col("s"), "//p/text()"), "<p>First part.</p><p>Second part.</p>")
      == "First part.Second part.")
  }

  test("cdataConcat on zero matches yields empty string (reference innerText='')") {
    assert(one(cdataConcat(col("s"), "//p/text()"), "<div>nothing</div>") == "")
  }

  test("multi-rooted fragments with &nbsp; read without a synthetic root") {
    assert(one(cdataConcat(col("s"), "//p/text()"), "<p>a&nbsp;b</p><p>c</p>") == "a bc")
  }

  test("lenient HTML: bare ampersands, void tags, and named entities survive xpath") {
    assert(one(cdataConcat(col("s"), "//p/text()"),
      "<p>R & D<br></p>") == "R & D")
    assert(one(cdataConcat(col("s"), "//p/text()"),
      "<p>a &amp; b</p><hr><p>c&mdash;d</p>") == "a & bc—d")
    assert(one(cdataConcat(col("s"), "//td/text()"),
      "<table><tr><td>x<img src=\"foo.png\"></td></tr></table>") == "x")
  }

  test("a void tag whose attribute holds '/' stays void (<img src=\"/images/x.png\">)") {
    // the healed-XML path could not self-close it and failed the query
    assert(one(htmlXpathAll(col("s"), "//p/text()"),
      "<p>Photo <img src=\"/images/x.png\"> caption</p>") == Seq("Photo ", " caption"))
  }

  test("a path outside the html_texts subset fails analysis and names the path") {
    import spark.implicits._
    for (xp <- Seq("//p[2]", "/p/text()", "//p", "//p/text()/x", "//p[@class=x]/text()")) {
      val e = intercept[AnalysisException](
        Seq("<p>a</p>").toDF("s").select(htmlXpathAll(col("s"), xp)))
      assert(e.getMessage.contains(xp), e.getMessage)
    }
  }

  test("unclosed <p> auto-closes at the next block boundary or end (jsdom parity)") {
    // before another <p>
    assert(one(cdataConcat(col("s"), "//p/text()"),
      "<p>first<p>second</p>") == "firstsecond")
    // before a header
    assert(one(cdataConcat(col("s"), "//p/text()"),
      "<p>intro<h3>Header</h3><p>after</p>") == "introafter")
    // at end of fragment
    assert(one(cdataConcat(col("s"), "//p/text()"), "<p>dangling") == "dangling")
    // before a list; attributes survive
    assert(one(cdataConcat(col("s"), "//p[@class='x']/text()"),
      "<p class=\"x\">lead<ul><li>a</li></ul>") == "lead")
    // well-formed input is untouched (inline tags are not boundaries)
    assert(one(cdataConcat(col("s"), "//p//text()"),
      "<p>a <b>bold</b> ok</p><p>b</p>") == "a bold okb")
  }

  test("unclosed <li> auto-closes at the next <li>, list end, or end (jsdom parity)") {
    assert(one(cdataConcat(col("s"), "//li/text()"),
      "<ul><li>one<li>two<li>three</ul>") == "onetwothree")
    // mixed: closed and unclosed items
    assert(one(cdataConcat(col("s"), "//li/text()"),
      "<ul><li>a</li><li>b<li>c</li></ul>") == "abc")
    // unclosed <p> inside an unclosed <li>
    assert(one(cdataConcat(col("s"), "//li/p/text()"),
      "<ul><li><p>x<li><p>y</ul>") == "xy")
    // dangling li closed by its list's own close tag
    assert(one(cdataConcat(col("s"), "//li/text()"), "<ul><li>tail</ul>") == "tail")
  }

  test("well-formed nested lists are left byte-identical by the <li> pass") {
    // the stop set halts on <ul>/<ol> opens while the lookahead rejects
    // them, so an <li> containing a nested list never matches — no stray
    // </li> is injected before the inner list (would break strict xpath)
    assert(one(cdataConcat(col("s"), "//li//text()"),
      "<ul><li>a<ul><li>b</li></ul></li></ul>") == "ab")
    assert(one(cdataConcat(col("s"), "//li//text()"),
      "<ol><li>1<ol><li>1.1</li><li>1.2</li></ol></li><li>2</li></ol>") == "11.11.22")
    // unclosed sibling AFTER a well-formed nested item still auto-closes
    assert(one(cdataConcat(col("s"), "//li//text()"),
      "<ul><li>a<ul><li>b</li></ul></li><li>c<li>d</ul>") == "abcd")
  }

  test("each named entity decodes to its own codepoint (jsdom parity)") {
    assert(one(cdataConcat(col("s"), "//p/text()"),
      "<p>a&mdash;b&ndash;c&rsquo;d&lsquo;e&rdquo;f&ldquo;g&nbsp;h</p>")
      == "a—b–c’d‘e”f“g h")
  }

  test("full HTML4 entity table decodes; unknown/unterminated escape to literal text") {
    // accented letters, symbols, currency, Greek — beyond the old curated set
    assert(one(cdataConcat(col("s"), "//p/text()"),
      "<p>caf&eacute; &copy; &hellip; &euro;5 &alpha;&Omega; &frac12;</p>")
      == "café © … €5 αΩ ½")
    // numeric and hex references pass through to xpath untouched
    assert(one(cdataConcat(col("s"), "//p/text()"),
      "<p>&#233;&#x2014;</p>") == "é—")
    // unknown entity and unterminated reference become literal text (the
    // jsdom stray-& recovery), not a parse failure
    assert(one(cdataConcat(col("s"), "//p/text()"),
      "<p>&notanentity; x &mdash y</p>") == "&notanentity; x &mdash y")
  }

  test("unclosed <td>/<th>/<tr> auto-close (jsdom parity: real-world table HTML)") {
    // unclosed cells close at the next cell or the row's end
    assert(one(cdataConcat(col("s"), "//td/text()"),
      "<table><tr><td>a<td>b</tr></table>") == "ab")
    // unclosed header cells and data cells mix
    assert(one(cdataConcat(col("s"), "//tr//text()"),
      "<table><tr><th>h1<th>h2</tr><tr><td>a<td>b</tr></table>") == "h1h2ab")
    // unclosed rows close at the next row or the table's end
    assert(one(cdataConcat(col("s"), "//tr/td/text()"),
      "<table><tr><td>a</td><tr><td>b</td></table>") == "ab")
    // everything unclosed at once — the reference's similar-occupations
    // shape with sloppy markup
    assert(one(cdataConcat(col("s"), "//td/h4/text()"),
      "<table><tr><td><h4>Admins</h4><tr><td><h4>Analysts</h4></table>")
      == "AdminsAnalysts")
    // an open <p> inside a cell ends with the cell
    assert(one(cdataConcat(col("s"), "//td/p/text()"),
      "<table><tr><td><p>x</td><td><p>y</td></tr></table>") == "xy")
    // well-formed tables — including a NESTED table in a closed cell —
    // stay byte-identical
    assert(one(cdataConcat(col("s"), "//td//text()"),
      "<table><tr><td>a<table><tr><td>b</td></tr></table></td></tr></table>")
      == "ab")
  }

  test("extended void elements self-close (input/meta/wbr et al)") {
    assert(one(cdataConcat(col("s"), "//p/text()"),
      "<p>a<wbr>b</p>") == "ab")
    assert(one(cdataConcat(col("s"), "//form/p/text()"),
      "<form><input type=\"text\"><p>q</p></form>") == "q")
    assert(one(cdataConcat(col("s"), "//p/text()"),
      "<meta charset=\"utf-8\"><p>body</p>") == "body")
  }

  test("cardinalityWarning fires only when match count != 1 (index.js:33-35)") {
    assert(one(cardinalityWarning(col("s"), "//p/text()", "w"), "<p>a</p><p>b</p>") == "w")
    assert(one(cardinalityWarning(col("s"), "//p/text()", "w"), "<p>a</p>") == null)
  }

  // P8 — work schedules regex, capture group 3 (index.js:108-113,143)
  test("workSchedules extracts the paragraph after the header") {
    val in = "<h3>Work Schedules</h3>\n  <p>Most work full time.</p>\n<table></table>"
    assert(one(workSchedules(col("s")), in) == "Most work full time.")
  }

  test("workSchedules accepts <strong> wrapping and lowercase 'schedules'") {
    assert(one(workSchedules(col("s")),
      "<h3><strong>Work Schedules</strong></h3> <p>Weekdays.</p>") == "Weekdays.")
    assert(one(workSchedules(col("s")),
      "<h3>Work schedules</h3> <p>Many are self-employed.</p>") == "Many are self-employed.")
  }

  test("workSchedules is null when the header is absent (match && match[3])") {
    assert(one(workSchedules(col("s")), "<p>No schedule header here.</p>") == null)
  }

  // P9 — important qualities (index.js:115-133,144)
  test("importantQualities splits each <p> at the FIRST '. ' and truncates at next <h3>") {
    val in = "<h3>Important Qualities</h3>\n<p>Analytical skills. They reason about data.</p>\n" +
      "<p>Very long quality name over 26 chars. Sentence body.</p>\n<h3>Next Section</h3><p>ignored</p>"
    assert(one(importantQualities(col("s")), in) == Map(
      "Analytical skills" -> "They reason about data.",
      "Very long quality name over 26 chars" -> "Sentence body."))
  }

  test("importantQualities handles &nbsp; in the header (index.js:144 alternate)") {
    val in = "<h3>Important Qualities&nbsp;</h3> <p>Organizational skills plus care. They keep originals safe.</p>"
    assert(one(importantQualities(col("s")), in)
      == Map("Organizational skills plus care" -> "They keep originals safe."))
  }

  test("importantQualities is null when the header is absent (index.js:132)") {
    assert(one(importantQualities(col("s")), "<p>No qualities header here.</p>") == null)
  }

  test("importantQualities without '. ' keeps JS slice(0,-1)/slice(1) semantics") {
    // indexOf returns -1: key = text minus last char, value = text minus first char
    val in = "<h3>Important Qualities</h3> <p>NoDotSpaceHere</p>"
    assert(one(importantQualities(col("s")), in) == Map("NoDotSpaceHer" -> "oDotSpaceHere"))
  }

  // P5 — pay parser (index.js:57-85)
  test("pay builds annual (/2080 round 2) and hourly entries; non-matching <p> skipped") {
    val in = "<p>Wages vary by region.</p>" +
      "<p>The median annual wage for web developers was $80,730 in May 2023.</p>" +
      "<p>The median hourly wage for digital designers was $29.13 in May 2023.</p>"
    // 80730/2080 = 38.81249... -> toFixed(2) = 38.81
    assert(one(pay(col("s")), in) == Map("web developers" -> 38.81, "digital designers" -> 29.13))
  }

  test("pay annual branch wins when both patterns could match the same <p>") {
    val in = "<p>The median annual wage for x was $41,600. The median hourly wage for x was $99.99.</p>"
    assert(one(pay(col("s")), in) == Map("x" -> 20.0)) // 41600/2080 = 20.0, annual first
  }

  test("payText concatenates all paragraph texts including non-matching ones") {
    val in = "<p>Wages vary.</p><p>The median annual wage for a was $20,800 x.</p>"
    assert(one(payText(col("s")), in) == "Wages vary.The median annual wage for a was $20,800 x.")
  }

  // P6 — similar occupations (index.js:87-93)
  test("similarOccupations trims //td//h4 texts in document order") {
    val in = "<table><tr><td><h4> Database Administrators </h4></td><td><h4>Actuaries</h4></td></tr></table>"
    assert(one(similarOccupations(col("s")), in) == Seq("Database Administrators", "Actuaries"))
  }

  // P7 — top industries (index.js:95-106)
  test("topIndustries pairs even/odd td texts and strips %") {
    val in = "<table><tr><td>Tech</td><td>45%</td><td>Finance</td><td>20%</td></tr></table>"
    assert(one(topIndustries(col("s")), in) == Map("Tech" -> "45", "Finance" -> "20"))
  }

  test("topIndustries odd trailing cell maps to null value (engine divergence)") {
    val in = "<table><tr><td>Engineering</td><td>71%</td><td>Government</td></tr></table>"
    assert(one(topIndustries(col("s")), in) == Map("Engineering" -> "71", "Government" -> null))
  }

  // P10 — numeric coercion (index.js:151-152; SURVEY §1.4.2 divergence)
  test("toDoubleOrNull casts numerics and nulls non-numerics") {
    assert(one(toDoubleOrNull(col("s")), "104000") == 104000.0)
    assert(one(toDoubleOrNull(col("s")), "50.25") == 50.25)
    assert(one(toDoubleOrNull(col("s")), "168,000") == null) // JS would be NaN
    assert(one(toDoubleOrNull(col("s")), "") == null)        // JS would be 0 — documented
  }
}
