package graft.exprs

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `html_entities(text)` — HTML named-entity normalization for XML
  * parsing, one compiled pass (reference `getDocument`, jsdom leniency —
  * /root/reference/index.js:3-5; SURVEY §1.4.1):
  *
  *   - every HTML4 named entity (`&eacute;`, `&copy;`, `&hellip;`, … —
  *     the full 252-name table: Latin-1, Greek, symbols, punctuation)
  *     rewrites to its numeric form `&#N;`, which an XML parser then
  *     decodes exactly as jsdom decodes the name;
  *   - XML-native entities (`&amp; &lt; &gt; &quot; &apos;`) and numeric
  *     references (`&#233;`, `&#x2014;`) pass through byte-identical;
  *   - any OTHER ampersand — bare, unknown name, unterminated — escapes
  *     to `&amp;` (jsdom's recovery for a stray `&`).
  *
  * This replaces the previous chain of one `regexp_replace` per known
  * entity plus a negative-lookahead pass for bare ampersands: the chain
  * was O(passes · len) with regex machinery per pass and could only ever
  * carry a curated entity subset; this is one linear scan carrying the
  * whole HTML4 table. Documented divergences from full jsdom: HTML5
  * multi-codepoint entities (e.g. `&NotEqualTilde;`) and legacy
  * semicolon-less forms (`&amp` etc.) are not decoded — both rewrite as
  * literal text via the `&amp;` escape, the same behavior the regex
  * chain had for every non-curated entity.
  *
  * `html_texts` reads references with the same rules, decoding in place
  * ([[HtmlEntities.decode]]) instead of rewriting for a parser.
  */
case class HtmlEntities(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"html_entities requires a string argument, got ${child.dataType.sql}")

  override def dataType: DataType = StringType
  override def prettyName: String = "html_entities"

  override def nullSafeEval(input: Any): Any =
    HtmlEntities.compute(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.exprs.HtmlEntities.compute($c.toString());")

  override protected def withNewChildInternal(newChild: Expression): HtmlEntities =
    copy(child = newChild)
}

object HtmlEntities {

  val registration: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("html_entities"),
      new ExpressionInfo(classOf[HtmlEntities].getName, "html_entities"),
      (cs: Seq[Expression]) => HtmlEntities(cs.head))

  /** The full HTML4 named-entity table (W3C HTML 4.01 DTDs: Latin-1,
    * Symbols, Special — 252 names). Single-codepoint by construction.
    */
  private[graft] val entities: Map[String, Int] = {
    val latin1 = Seq(
      "nbsp", "iexcl", "cent", "pound", "curren", "yen", "brvbar", "sect",
      "uml", "copy", "ordf", "laquo", "not", "shy", "reg", "macr", "deg",
      "plusmn", "sup2", "sup3", "acute", "micro", "para", "middot", "cedil",
      "sup1", "ordm", "raquo", "frac14", "frac12", "frac34", "iquest",
      "Agrave", "Aacute", "Acirc", "Atilde", "Auml", "Aring", "AElig",
      "Ccedil", "Egrave", "Eacute", "Ecirc", "Euml", "Igrave", "Iacute",
      "Icirc", "Iuml", "ETH", "Ntilde", "Ograve", "Oacute", "Ocirc",
      "Otilde", "Ouml", "times", "Oslash", "Ugrave", "Uacute", "Ucirc",
      "Uuml", "Yacute", "THORN", "szlig", "agrave", "aacute", "acirc",
      "atilde", "auml", "aring", "aelig", "ccedil", "egrave", "eacute",
      "ecirc", "euml", "igrave", "iacute", "icirc", "iuml", "eth", "ntilde",
      "ograve", "oacute", "ocirc", "otilde", "ouml", "divide", "oslash",
      "ugrave", "uacute", "ucirc", "uuml", "yacute", "thorn", "yuml"
    ).zipWithIndex.map { case (n, i) => n -> (160 + i) }
    val greekUpper = Seq("Alpha", "Beta", "Gamma", "Delta", "Epsilon",
      "Zeta", "Eta", "Theta", "Iota", "Kappa", "Lambda", "Mu", "Nu", "Xi",
      "Omicron", "Pi", "Rho").zipWithIndex.map { case (n, i) => n -> (913 + i) } ++
      Seq("Sigma", "Tau", "Upsilon", "Phi", "Chi", "Psi", "Omega")
        .zipWithIndex.map { case (n, i) => n -> (931 + i) }
    val greekLower = Seq("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi",
      "omicron", "pi", "rho", "sigmaf", "sigma", "tau", "upsilon", "phi",
      "chi", "psi", "omega").zipWithIndex.map { case (n, i) => n -> (945 + i) } ++
      Seq("thetasym" -> 977, "upsih" -> 978, "piv" -> 982)
    val symbols = Seq(
      "fnof" -> 402, "bull" -> 8226, "hellip" -> 8230, "prime" -> 8242,
      "Prime" -> 8243, "oline" -> 8254, "frasl" -> 8260, "weierp" -> 8472,
      "image" -> 8465, "real" -> 8476, "trade" -> 8482, "alefsym" -> 8501,
      "larr" -> 8592, "uarr" -> 8593, "rarr" -> 8594, "darr" -> 8595,
      "harr" -> 8596, "crarr" -> 8629, "lArr" -> 8656, "uArr" -> 8657,
      "rArr" -> 8658, "dArr" -> 8659, "hArr" -> 8660, "forall" -> 8704,
      "part" -> 8706, "exist" -> 8707, "empty" -> 8709, "nabla" -> 8711,
      "isin" -> 8712, "notin" -> 8713, "ni" -> 8715, "prod" -> 8719,
      "sum" -> 8721, "minus" -> 8722, "lowast" -> 8727, "radic" -> 8730,
      "prop" -> 8733, "infin" -> 8734, "ang" -> 8736, "and" -> 8743,
      "or" -> 8744, "cap" -> 8745, "cup" -> 8746, "int" -> 8747,
      "there4" -> 8756, "sim" -> 8764, "cong" -> 8773, "asymp" -> 8776,
      "ne" -> 8800, "equiv" -> 8801, "le" -> 8804, "ge" -> 8805,
      "sub" -> 8834, "sup" -> 8835, "nsub" -> 8836, "sube" -> 8838,
      "supe" -> 8839, "oplus" -> 8853, "otimes" -> 8855, "perp" -> 8869,
      "sdot" -> 8901, "lceil" -> 8968, "rceil" -> 8969, "lfloor" -> 8970,
      "rfloor" -> 8971, "lang" -> 9001, "rang" -> 9002, "loz" -> 9674,
      "spades" -> 9824, "clubs" -> 9827, "hearts" -> 9829, "diams" -> 9830)
    val special = Seq(
      "OElig" -> 338, "oelig" -> 339, "Scaron" -> 352, "scaron" -> 353,
      "Yuml" -> 376, "circ" -> 710, "tilde" -> 732, "ensp" -> 8194,
      "emsp" -> 8195, "thinsp" -> 8201, "zwnj" -> 8204, "zwj" -> 8205,
      "lrm" -> 8206, "rlm" -> 8207, "ndash" -> 8211, "mdash" -> 8212,
      "lsquo" -> 8216, "rsquo" -> 8217, "sbquo" -> 8218, "ldquo" -> 8220,
      "rdquo" -> 8221, "bdquo" -> 8222, "dagger" -> 8224, "Dagger" -> 8225,
      "permil" -> 8240, "lsaquo" -> 8249, "rsaquo" -> 8250, "euro" -> 8364)
    (latin1 ++ greekUpper ++ greekLower ++ symbols ++ special).toMap
  }

  /** Longest entity name is "thetasym" (8); longest numeric form is
    * `#x10FFFF` (8). A ';' more than `maxRef` chars past the '&' can
    * never terminate a reference we recognize.
    */
  private val maxRef = 9

  /** The five XML-native names, which an XML parser decodes itself. */
  private val xmlNative: Map[String, Int] =
    Map("amp" -> 38, "lt" -> 60, "gt" -> 62, "quot" -> 34, "apos" -> 39)

  private def isXmlNative(s: String, from: Int, to: Int): Boolean =
    xmlNative.contains(s.substring(from, to))

  private def isNumericRef(s: String, from: Int, to: Int): Boolean = {
    if (to - from < 2 || s.charAt(from) != '#') return false
    var i = from + 1
    val hex = s.charAt(i) == 'x' || s.charAt(i) == 'X'
    if (hex) i += 1
    if (i >= to) return false
    while (i < to) {
      val c = s.charAt(i)
      val ok = if (hex) Character.digit(c, 16) >= 0 else c >= '0' && c <= '9'
      if (!ok) return false
      i += 1
    }
    true
  }

  /** Index of the ';' ending a reference that starts at `s(amp) == '&'`,
    * or -1 when no ';' comes before a space, '&', '<', `maxRef` chars or
    * index `end`.
    */
  private def refEnd(s: String, amp: Int, end: Int): Int = {
    var j = amp + 1
    val lim = math.min(end, amp + 1 + maxRef + 1)
    while (j < lim) {
      val c = s.charAt(j)
      if (c == ';') return j
      if (c == '&' || c == '<' || Character.isWhitespace(c)) return -1
      j += 1
    }
    -1
  }

  def compute(s: String): UTF8String = {
    var i = s.indexOf('&')
    if (i < 0) return UTF8String.fromString(s)
    val sb = new java.lang.StringBuilder(s.length + 16)
    sb.append(s, 0, i)
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '&') { sb.append(c); i += 1 }
      else {
        val semi = refEnd(s, i, s.length)
        if (semi < 0) { sb.append("&amp;"); i += 1 }
        else if (isXmlNative(s, i + 1, semi) || isNumericRef(s, i + 1, semi)) {
          sb.append(s, i, semi + 1); i = semi + 1
        } else entities.get(s.substring(i + 1, semi)) match {
          case Some(cp) => sb.append("&#").append(cp).append(';'); i = semi + 1
          case None => sb.append("&amp;"); i += 1
        }
      }
    }
    UTF8String.fromString(sb.toString)
  }

  /** Appends what the reference at `s(amp) == '&'` reads as once `compute`
    * has run and an XML parser has decoded the result — its character, or
    * a literal '&' — and returns the index after it. The reference must
    * end before index `end`. An invalid numeric code point (zero, a
    * surrogate, above U+10FFFF) reads as U+FFFD.
    */
  private[graft] def decode(s: String, amp: Int, end: Int, sb: java.lang.StringBuilder): Int = {
    val semi = refEnd(s, amp, end)
    val cp = if (semi < 0) -1 else codePoint(s, amp + 1, semi)
    if (cp < 0) { sb.append('&'); amp + 1 }
    else { sb.appendCodePoint(cp); semi + 1 }
  }

  private def codePoint(s: String, from: Int, to: Int): Int =
    if (isNumericRef(s, from, to)) {
      val hex = s.charAt(from + 1) == 'x' || s.charAt(from + 1) == 'X'
      val v = java.lang.Long.parseLong(
        s.substring(if (hex) from + 2 else from + 1, to), if (hex) 16 else 10)
      if (v == 0 || v > 0x10FFFF || (v >= 0xD800 && v <= 0xDFFF)) 0xFFFD else v.toInt
    } else {
      val name = s.substring(from, to)
      xmlNative.getOrElse(name, entities.getOrElse(name, -1))
    }
}
