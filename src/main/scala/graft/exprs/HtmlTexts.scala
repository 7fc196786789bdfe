package graft.exprs

import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `html_texts(fragment, path)` — the text nodes an XPath selects in an
  * HTML fragment, in document order (the reference's `getDocument` +
  * `xpathSelect`, index.js:3-17).
  *
  * One linear scan of the raw fragment, no DOM: tags go on a stack of open
  * elements, and each text node is tested against the path by the stack it
  * sits under, so the scan never builds a tree and never decodes text the
  * path does not select. See [[HtmlPath]] for the path subset and
  * [[HtmlTexts.select]] for the reader's leniency rules. The path is a
  * constant compiled once at analysis; a path outside the subset fails
  * analysis with the path in the message.
  */
case class HtmlTexts(child: Expression, path: String) extends UnaryExpression {

  @transient private lazy val compiled: Either[String, HtmlPath] = HtmlPath.compile(path)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType) TypeCheckResult.TypeCheckFailure(
      s"html_texts requires a string fragment, got ${child.dataType.sql}")
    else compiled match {
      case Left(why) => TypeCheckResult.TypeCheckFailure(
        s"html_texts: unsupported path '$path': $why")
      case Right(_) => TypeCheckResult.TypeCheckSuccess
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "html_texts"

  @transient private lazy val compiledPath: HtmlPath =
    compiled.fold(why => throw new IllegalStateException(why), identity)

  override def nullSafeEval(input: Any): Any =
    HtmlTexts.select(input.asInstanceOf[UTF8String].toString, compiledPath)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("htmlPath", compiledPath, "graft.exprs.HtmlPath")
      s"${ev.value} = graft.exprs.HtmlTexts.select($c.toString(), $ref);"
    })

  override protected def withNewChildInternal(newChild: Expression): HtmlTexts =
    copy(child = newChild)
}

/** A compiled `html_texts` path: element steps, then `text()`.
  *
  * Supported subset: the path starts with `//`; steps are separated by `/`
  * (child) or `//` (descendant); an element step is a tag name or `*`,
  * optionally with one `[@attr='value']` (or `"value"`) predicate; the last
  * step, and only it, is `text()`. Tag and attribute names match
  * case-insensitively (HTML lowercases them). Anything else — positions,
  * other axes, functions, unions, a leading single `/` (a fragment has no
  * document element to anchor it) — does not compile.
  *
  * Matching is by bit masks over the stack of open elements: bit `m` of an
  * element's `here` mask says steps 1..m can end on it; `upto` ORs the masks
  * of the element and its ancestors. A child step extends its parent's
  * `here`, a descendant step any ancestor's, i.e. the parent's `upto`.
  */
final class HtmlPath private[exprs] (
    names: Array[String],
    attrNames: Array[String],
    attrValues: Array[String],
    childAxis: Array[Boolean]) extends Serializable {

  /** Element steps; `childAxis(steps)` is the axis of the final `text()`. */
  val steps: Int = names.length
  val hasPredicates: Boolean = attrNames.exists(_ != null)
  private val textBit = 1L << steps

  /** The `here` mask of an element named `name` under a parent with masks
    * `parentHere`/`parentUpto`; `attrs` holds name/value pairs when
    * [[hasPredicates]].
    */
  def enter(name: String, attrs: ArrayBuffer[String], parentHere: Long, parentUpto: Long): Long = {
    var here = 0L
    var m = 0
    while (m < steps) {
      val prev = if (childAxis(m)) parentHere else parentUpto
      if ((prev & (1L << m)) != 0 && (names(m) == null || names(m) == name) &&
          (attrNames(m) == null || attrIs(attrs, attrNames(m), attrValues(m))))
        here |= 1L << (m + 1)
      m += 1
    }
    here
  }

  /** Does the path select text whose parent has these masks? */
  def selectsText(parentHere: Long, parentUpto: Long): Boolean =
    ((if (childAxis(steps)) parentHere else parentUpto) & textBit) != 0

  private def attrIs(attrs: ArrayBuffer[String], name: String, value: String): Boolean = {
    var i = 0
    while (i < attrs.length) {
      if (attrs(i) == name) return attrs(i + 1) == value
      i += 2
    }
    false
  }
}

object HtmlPath {

  private val maxSteps = 62

  /** Compile `path`, or say why it is outside the supported subset. */
  def compile(path: String): Either[String, HtmlPath] = {
    if (!path.startsWith("//"))
      return Left("the path must start with // (a fragment has no document element)")
    val names, attrNames, attrValues = ArrayBuffer.empty[String]
    val axes = ArrayBuffer.empty[Boolean]
    var i = 0
    var done = false
    while (i < path.length) {
      if (done) return Left("text() must be the last step")
      val child = !path.startsWith("//", i)
      i += (if (child) 1 else 2)
      axes += child
      if (path.startsWith("text()", i)) { done = true; i += 6 }
      else {
        val nameEnd = if (path.startsWith("*", i)) i + 1 else nameEndAt(path, i)
        if (nameEnd == i) return Left(s"expected a tag name, * or text() at offset $i")
        names += (if (path.charAt(i) == '*') null else path.substring(i, nameEnd).toLowerCase(Locale.ROOT))
        i = nameEnd
        if (path.startsWith("[@", i)) {
          val an = nameEndAt(path, i + 2)
          if (an == i + 2 || !path.startsWith("=", an) || an + 1 >= path.length)
            return Left(s"expected [@attr='value'] at offset $i")
          val q = path.charAt(an + 1)
          val close = if (q == '\'' || q == '"') path.indexOf(q, an + 2) else -1
          if (close < 0 || !path.startsWith("]", close + 1))
            return Left(s"expected [@attr='value'] at offset $i")
          attrNames += path.substring(i + 2, an).toLowerCase(Locale.ROOT)
          attrValues += path.substring(an + 2, close)
          i = close + 2
        } else { attrNames += null; attrValues += null }
        if (i < path.length && path.charAt(i) != '/')
          return Left(s"unsupported syntax at offset $i")
      }
    }
    if (!done) Left("the last step must be text()")
    else if (names.length > maxSteps) Left(s"more than $maxSteps element steps")
    else Right(new HtmlPath(names.toArray, attrNames.toArray, attrValues.toArray, axes.toArray))
  }

  private def nameEndAt(s: String, from: Int): Int = {
    var j = from
    while (j < s.length && {
      val c = s.charAt(j)
      Character.isLetterOrDigit(c) || c == '-' || c == '_' || c == ':'
    }) j += 1
    if (j > from && Character.isLetter(s.charAt(from))) j else from
  }
}

object HtmlTexts {

  val registration: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("html_texts"),
      new ExpressionInfo(classOf[HtmlTexts].getName, "html_texts"),
      (cs: Seq[Expression]) => {
        if (cs.length != 2 || !cs(1).foldable || cs(1).eval() == null)
          throw new IllegalArgumentException("html_texts expects (fragment, constant path)")
        HtmlTexts(cs.head, cs(1).eval().toString)
      })

  // Tag classes, as bit flags: the reader looks each tag name up once in
  // [[tagClass]] and tests masks from then on.
  /** A start tag that closes an open `<p>`: the HTML5 tree builder's block
    * boundaries that occur in OOH sections, plus the list and table tags.
    */
  private final val ClosesP = 1
  private final val P = 2
  private final val Li = 4
  private final val ListTag = 8 // ul, ol
  private final val Tr = 16
  private final val Cell = 32 // td, th
  private final val Section = 64 // thead, tbody, tfoot
  private final val Table = 128
  /** The number of class bits an implied close looks for, as targets or as
    * scopes: every bit above but `Void`.
    */
  private final val Classes = 8
  private final val Void = 256
  /** Containers an implied close never reaches past. An open `<p>` needs
    * none: every container start tag closes it first.
    */
  private final val LiScope = ListTag | Cell | Table
  private final val RowScope = Tr | Table

  private val tagClass: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]
    def add(flags: Int, names: String*): Unit =
      names.foreach(n => m.put(n, Integer.valueOf(flags)))
    add(ClosesP, "h1", "h2", "h3", "h4", "h5", "h6", "div", "section")
    add(ClosesP | P, "p")
    add(ClosesP | Li, "li")
    add(ClosesP | ListTag, "ul", "ol")
    add(ClosesP | Tr, "tr")
    add(ClosesP | Cell, "td", "th")
    add(ClosesP | Table, "table")
    add(Section, "thead", "tbody", "tfoot")
    add(Void, "br", "hr", "wbr", "img", "input", "col", "embed", "source",
      "track", "area", "base", "link", "meta", "param")
    m
  }

  private def tagFlags(name: String): Int = {
    val f = tagClass.get(name)
    if (f == null) 0 else f.intValue
  }

  /** The text nodes of `html` that `path` selects, in document order.
    *
    * Leniency, the tree builder rules of jsdom that OOH sections need:
    *   - an open `<p>` closes at the start of a `<p>`, `<li>`, heading,
    *     list, `<div>`, `<section>` or table tag;
    *   - an open `<li>` closes at the next `<li>` of its list;
    *   - an open `<td>`/`<th>` closes at the next cell, row or table
    *     section of its table; an open `<tr>` at the next row or section;
    *   - an end tag closes the nearest open element of its name and every
    *     element opened inside it, so `</ul>`, `</tr>` and `</table>` close
    *     what is left open in them; an end tag with nothing to close is
    *     ignored;
    *   - void tags (`<br>`, `<img …>`, `<input …>`, …) never take content,
    *     whatever their attributes hold (`<img src="/x.png">`);
    *   - names are ASCII case-insensitive; attribute values may be quoted,
    *     unquoted or absent;
    *   - references decode as in `html_entities` followed by an XML parser:
    *     the HTML4 named set, the five XML names and numeric references
    *     (an invalid code point reads U+FFFD); any other `&` is literal;
    *   - CR and CRLF read as LF (XML line-end handling); comments, `<!…>`
    *     and `<?…>` are dropped but still end a text node; a `<` that opens
    *     no tag is literal text.
    *
    * Divergences from jsdom: no other implied ends (`<hr>`, `<pre>`,
    * `<blockquote>` do not close a `<p>`; a heading does not close an open
    * heading); no implied `<html>`/`<body>`/`<tbody>` (paths see the tags as
    * written, and top-level text has no element parent, so a `*` step does not
    * match it); no reordering — misnested inline tags are not rebuilt and
    * text inside a table outside any cell is not moved before the table; a
    * stray `</p>` does not create an empty `<p>`; `/>` ends every element,
    * not only void ones; `<script>`/`<style>` content is parsed as markup;
    * HTML5-only named references and semicolon-less references stay
    * literal.
    */
  def select(html: String, path: HtmlPath): ArrayData = {
    val r = new Reader(html, path)
    r.run()
    new GenericArrayData(r.out.toArray)
  }

  /** One pass over one fragment, in time linear in its length. Stack slot 0
    * is the fragment itself.
    */
  private final class Reader(s: String, path: HtmlPath) {
    val out = ArrayBuffer.empty[Any]
    private val n = s.length
    /** Per tag name, how many elements of that name are open. */
    private val openNamed = new java.util.HashMap[String, Array[Int]]
    /** The [[openNamed]] count of each open element's name. */
    private var named = new Array[Array[Int]](16)
    /** `near(d * Classes + b)`: the depth of the nearest element at or
      * below depth `d` whose [[tagClass]] flags hold bit `b`, 0 if none.
      */
    private var near = new Array[Int](16 * Classes)
    private var here = new Array[Long](16)
    private var upto = new Array[Long](16)
    private var depth = 0
    here(0) = 1L
    upto(0) = 1L
    /** Whether text at the current depth is selected: only then is it kept. */
    private var selecting = path.selectsText(1L, 1L)
    private val text = new java.lang.StringBuilder
    /** Name/value pairs of the current start tag, when the path tests them. */
    private val attrs = ArrayBuffer.empty[String]
    /** Set by [[attributes]]: the tag ended in `/>` outside any value. */
    private var selfClosing = false

    def run(): Unit = {
      var i = 0
      while (i < n) {
        if (!selecting) {
          val lt = s.indexOf('<', i)
          i = if (lt < 0) n else markup(lt)
        } else s.charAt(i) match {
          case '<' => i = markup(i)
          case '&' => i = HtmlEntities.decode(s, i, n, text)
          case '\r' =>
            text.append('\n')
            i = if (i + 1 < n && s.charAt(i + 1) == '\n') i + 2 else i + 1
          case _ =>
            var j = i + 1
            while (j < n && { val c = s.charAt(j); c != '<' && c != '&' && c != '\r' }) j += 1
            text.append(s, i, j)
            i = j
        }
      }
      flush()
    }

    /** Ends the current text node (only selected text is ever gathered). */
    private def flush(): Unit =
      if (text.length > 0) {
        out += UTF8String.fromString(text.toString)
        text.setLength(0)
      }

    private def push(name: String, f: Int): Unit = {
      flush()
      if (depth + 1 == named.length) {
        named = java.util.Arrays.copyOf(named, named.length * 2)
        near = java.util.Arrays.copyOf(near, named.length * Classes)
        here = java.util.Arrays.copyOf(here, named.length)
        upto = java.util.Arrays.copyOf(upto, named.length)
      }
      val h = path.enter(name, attrs, here(depth), upto(depth))
      var count = openNamed.get(name)
      if (count == null) { count = new Array[Int](1); openNamed.put(name, count) }
      count(0) += 1
      depth += 1
      named(depth) = count
      System.arraycopy(near, (depth - 1) * Classes, near, depth * Classes, Classes)
      var b = f // a pushed tag is never Void, so its bits are all below Classes
      while (b != 0) {
        near(depth * Classes + Integer.numberOfTrailingZeros(b)) = depth
        b &= b - 1
      }
      here(depth) = h
      upto(depth) = upto(depth - 1) | h
      selecting = path.selectsText(h, upto(depth))
    }

    private def popTo(d: Int): Unit = {
      flush()
      while (depth > d) { named(depth)(0) -= 1; depth -= 1 }
      selecting = path.selectsText(here(d), upto(d))
    }

    /** Close the nearest open element of a class in `targets`, unless an
      * element of a class in `scope` comes first (no element is in both).
      */
    private def closeOpen(targets: Int, scope: Int): Unit = {
      val t = nearest(targets)
      if (t > nearest(scope)) popTo(t - 1)
    }

    /** The depth of the nearest open element of a class in `classes`. */
    private def nearest(classes: Int): Int = {
      var d = 0
      var b = classes
      while (b != 0) {
        d = math.max(d, near(depth * Classes + Integer.numberOfTrailingZeros(b)))
        b &= b - 1
      }
      d
    }

    /** The markup starting at `s(lt) == '<'`; returns the index after it. */
    private def markup(lt: Int): Int = {
      val next = if (lt + 1 < n) s.charAt(lt + 1) else ' '
      if (isAsciiLetter(next)) startTag(lt + 1)
      else if (next == '/' && lt + 2 < n && isAsciiLetter(s.charAt(lt + 2))) endTag(lt + 2)
      else if (next == '!' || next == '?') {
        flush()
        if (s.startsWith("<!--", lt)) {
          val e = s.indexOf("-->", lt + 4)
          if (e < 0) n else e + 3
        } else {
          val e = s.indexOf('>', lt + 2)
          if (e < 0) n else e + 1
        }
      } else {
        if (selecting) text.append('<')
        lt + 1
      }
    }

    private def startTag(from: Int): Int = {
      val nameEnd = tagNameEnd(from)
      val name = lower(from, nameEnd)
      attrs.clear()
      val end = attributes(nameEnd, path.hasPredicates)
      if (end < 0) return n // unterminated tag: dropped, as HTML5 does at EOF
      val f = tagFlags(name)
      if ((f & ClosesP) != 0) closeOpen(P, 0)
      if ((f & Li) != 0) closeOpen(Li, LiScope)
      else if ((f & Cell) != 0) closeOpen(Cell, RowScope)
      else if ((f & (Tr | Section)) != 0) {
        closeOpen(Cell, RowScope)
        closeOpen(Tr, Table)
        if ((f & Section) != 0) closeOpen(Section, Table)
      }
      if ((f & Void) != 0 || selfClosing) flush()
      else push(name, f)
      end
    }

    private def endTag(from: Int): Int = {
      val nameEnd = tagNameEnd(from)
      val name = lower(from, nameEnd)
      val end = attributes(nameEnd, keep = false)
      if (end < 0) return n
      val count = openNamed.get(name)
      if (count != null && count(0) > 0) {
        var d = depth
        while (named(d) ne count) d -= 1
        popTo(d - 1)
      }
      end
    }

    /** Skip (and with `keep`, collect into `attrs`) the attributes from
      * `from`; returns the index after the closing `>`, or -1 at EOF.
      */
    private def attributes(from: Int, keep: Boolean): Int = {
      var i = from
      selfClosing = false
      while (i < n) {
        val c = s.charAt(i)
        if (c == '>') return i + 1
        if (c == '/') { selfClosing = i + 1 < n && s.charAt(i + 1) == '>'; i += 1 }
        else if (isSpace(c)) i += 1
        else {
          selfClosing = false
          val ns = i
          i += 1 // a name has at least one char, even '='
          while (i < n && !isSpace(s.charAt(i)) && "/>=".indexOf(s.charAt(i)) < 0) i += 1
          val an = if (keep) lower(ns, i) else null
          while (i < n && isSpace(s.charAt(i))) i += 1
          var vs, ve = i
          if (i < n && s.charAt(i) == '=') {
            i += 1
            while (i < n && isSpace(s.charAt(i))) i += 1
            if (i < n && (s.charAt(i) == '"' || s.charAt(i) == '\'')) {
              val q = s.indexOf(s.charAt(i), i + 1)
              if (q < 0) return -1
              vs = i + 1; ve = q; i = q + 1
            } else {
              vs = i
              while (i < n && !isSpace(s.charAt(i)) && s.charAt(i) != '>') i += 1
              ve = i
            }
          }
          if (keep) { attrs += an; attrs += attrValue(vs, ve) }
        }
      }
      -1
    }

    /** An attribute value as an XML parser reads it: references decoded,
      * each CR, LF, CRLF and tab one space.
      */
    private def attrValue(from: Int, to: Int): String = {
      val sb = new java.lang.StringBuilder(to - from)
      var i = from
      while (i < to) {
        val c = s.charAt(i)
        // the reference must end inside the value
        if (c == '&') i = HtmlEntities.decode(s, i, to, sb)
        else {
          sb.append(if (c == '\t' || c == '\n' || c == '\r') ' ' else c)
          i += (if (c == '\r' && i + 1 < to && s.charAt(i + 1) == '\n') 2 else 1)
        }
      }
      sb.toString
    }

    private def tagNameEnd(from: Int): Int = {
      var i = from
      while (i < n && { val c = s.charAt(i); !isSpace(c) && c != '/' && c != '>' }) i += 1
      i
    }

    private def lower(from: Int, to: Int): String = {
      var i = from
      while (i < to && !(s.charAt(i) >= 'A' && s.charAt(i) <= 'Z')) i += 1
      val name = s.substring(from, to)
      if (i == to) name else name.toLowerCase(Locale.ROOT)
    }
  }

  private def isAsciiLetter(c: Char): Boolean = (c | 0x20) >= 'a' && (c | 0x20) <= 'z'

  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\n' || c == '\t' || c == '\r' || c == '\f'
}
