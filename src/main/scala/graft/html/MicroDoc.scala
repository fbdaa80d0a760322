package graft.html

import scala.collection.mutable

/** Minimal, dependency-free HTML5-subset DOM for microdata extraction.
  *
  * Plays the role Nokogiri plays for the reference
  * (/root/reference/lib/rdf/microdata/reader/nokogiri.rb): it only needs to
  * expose the accessors the extraction algorithm consumes — element tree,
  * attributes, inherited `lang` (nokogiri.rb:36-47) and `xml:base`
  * (nokogiri.rb:51-59), `inner_text`, document-wide first-id lookup
  * (nokogiri.rb:241-243), and top-level item discovery (nokogiri.rb:235-237).
  *
  * Parsing is forgiving: unknown/mismatched end tags are ignored, HTML5 void
  * elements never take children, `<p>`/`<li>`/`<dt>`/`<dd>` end-tag omission
  * is honored, comments/doctype are skipped, and entities are decoded in both
  * text and attribute values. Documents are row-local in the Spark pipeline,
  * so this parser is single-threaded per row and allocation-light.
  */
object MicroDoc {

  sealed trait Node
  final case class Text(value: String) extends Node

  final class Elem(val tag: String) extends Node {
    // compact attribute storage: elements rarely carry more than 4 attrs,
    // so parallel arrays with linear lookup beat a per-element hash map
    // (this parse runs once per transcript row — allocation is the wall)
    private var attrKeys: Array[String] = null
    private var attrVals: Array[String] = null
    private var nAttrs = 0
    val children = mutable.ArrayBuffer.empty[Node]
    var parent: Elem = _
    /** index within parent.children (path component). */
    var childIdx: Int = 0
    private var pathMemo: String = null

    /** Stable structural path from root, e.g. "0.2.1" — the deterministic
      * replacement for Ruby object identity (reader.rb:236 fresh bnodes,
      * memory keyed by element): content-addressed skolem IDs hash this.
      * Computed lazily — only itemscope elements without itemid need it.
      */
    def path: String = {
      if (pathMemo == null)
        pathMemo =
          if (parent == null) String.valueOf(childIdx)
          else parent.path + "." + childIdx
      pathMemo
    }

    def addAttr(name: String, value: String): Unit = {
      if (attrKeys == null) {
        attrKeys = new Array[String](4); attrVals = new Array[String](4)
      } else if (nAttrs == attrKeys.length) {
        attrKeys = java.util.Arrays.copyOf(attrKeys, nAttrs * 2)
        attrVals = java.util.Arrays.copyOf(attrVals, nAttrs * 2)
      }
      attrKeys(nAttrs) = name; attrVals(nAttrs) = value; nAttrs += 1
    }

    def attrRaw(name: String): String = {
      var i = 0
      while (i < nAttrs) {
        if (attrKeys(i) == name) return attrVals(i)
        i += 1
      }
      null
    }
    def attr(name: String): Option[String] = Option(attrRaw(name))
    def has(name: String): Boolean = attrRaw(name) != null

    def elements: Seq[Elem] = children.collect { case e: Elem => e }.toSeq

    /** Inherited language: own `lang` else nearest ancestor's. */
    def language: String = {
      var e: Elem = this
      while (e != null) {
        var l = e.attrRaw("xml:lang")
        if (l == null) l = e.attrRaw("lang")
        if (l != null) return (if (l.nonEmpty) l else null) // lang="" resets
        e = e.parent
      }
      null
    }

    /** Inherited xml:base, or null. */
    def base: String = {
      var e: Elem = this
      while (e != null) {
        val b = e.attrRaw("xml:base")
        if (b != null) return b
        e = e.parent
      }
      null
    }

    def innerText: String = {
      val sb = new StringBuilder
      def walk(n: Node): Unit = n match {
        case Text(v) => sb ++= v
        case e: Elem => e.children.foreach(walk)
      }
      children.foreach(walk)
      sb.result()
    }

    /** Document-order self-and-descendants. */
    def descendantsAndSelf: Iterator[Elem] =
      Iterator.single(this) ++ elements.iterator.flatMap(_.descendantsAndSelf)
  }

  /** Parsed document. `root` is a synthetic container so bare fragments
    * (most spec fixtures) parse uniformly. `itemscopeElems` (document order)
    * and `hasReverseAttr` are collected during the parse so extraction never
    * re-traverses the tree to find items.
    */
  final class Doc(val root: Elem, val itemscopeElems: Seq[Elem],
                  val hasReverseAttr: Boolean) {
    /** First element per id, document order (nokogiri.rb:241-243 at_css). */
    lazy val byId: Map[String, Elem] = {
      val m = mutable.LinkedHashMap.empty[String, Elem]
      root.descendantsAndSelf.foreach { e =>
        e.attr("id").foreach(id => if (!m.contains(id)) m(id) = e)
      }
      m.toMap
    }

    /** Top-level items: `[itemscope]` without `@itemprop`
      * (nokogiri.rb:235-237).
      */
    def topLevelItems: Seq[Elem] = itemscopeElems.filter(e => !e.has("itemprop"))

    /** `html>head>base@href`, fragment-stripped by the caller
      * (nokogiri.rb:224-229). Forgiving: first <base href> anywhere.
      */
    def docBase: Option[String] =
      root.descendantsAndSelf.find(e => e.tag == "base" && e.has("href"))
        .flatMap(_.attr("href"))
  }

  private val VoidTags = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr")

  // HTML5 tags whose start implies </p>
  private val ClosesP = Set(
    "address", "article", "aside", "blockquote", "details", "div", "dl",
    "fieldset", "figcaption", "figure", "footer", "form", "h1", "h2", "h3",
    "h4", "h5", "h6", "header", "hr", "main", "menu", "nav", "ol", "p",
    "pre", "section", "table", "ul")

  private val RawText = Set("script", "style")

  // HTML integration points (HTML5 tree construction §13.2.6.5): svg
  // foreignObject/desc/title and the MathML text integration points parse
  // their content as HTML again; annotation-xml does when its encoding
  // names an HTML type
  private val IntegrationPoints = Set("foreignobject", "desc", "title", "mi", "mo", "mn", "ms", "mtext")

  private def isIntegrationPoint(e: Elem): Boolean =
    IntegrationPoints.contains(e.tag) || (e.tag == "annotation-xml" && {
      val enc = e.attrRaw("encoding")
      enc != null && { val l = lowerAscii(enc); l == "text/html" || l == "application/xhtml+xml" }
    })

  /** ASCII-lowercase only when needed — markup is almost always already
    * lowercase, and this runs per tag and attribute name.
    */
  private def lowerAscii(str: String): String = {
    var k = 0
    val m = str.length
    while (k < m && { val ch = str.charAt(k); ch < 'A' || ch > 'Z' }) k += 1
    if (k == m) str else str.toLowerCase(java.util.Locale.ROOT)
  }

  def parse(html: String): Doc = {
    val root = new Elem("#root")
    val stack = mutable.ArrayBuffer[Elem](root)
    val itemscopeElems = mutable.ArrayBuffer.empty[Elem]
    var hasReverse = false
    // the HTML parsing spec replaces U+0000 anywhere in the input stream
    // with U+FFFD — a raw NUL must never reach text/attribute values (key
    // encodings downstream use NUL as a separator)
    val s = if (html.indexOf('\u0000') >= 0) html.replace('\u0000', '\uFFFD') else html
    // ASCII-only lowering, char-for-char: String.toLowerCase is both
    // locale-sensitive ("</SCRIPT>" → "</scrıpt>" under tr_TR misses the
    // close-tag scan) and LENGTH-CHANGING for some mappings (U+0130 → 2
    // chars), which would shift every index found in `lower` relative to
    // `s`. HTML tag names are ASCII-case-insensitive, nothing more.
    lazy val lower: String = {
      val a = s.toCharArray
      var k = 0
      while (k < a.length) {
        val ch = a(k)
        if (ch >= 'A' && ch <= 'Z') a(k) = (ch + 32).toChar
        k += 1
      }
      new String(a)
    }
    val n = s.length
    var i = 0
    val text = new java.lang.StringBuilder

    def flushText(): Unit = {
      if (text.length > 0) {
        stack.last.children += Text(decodeEntities(text.toString))
        text.setLength(0)
      }
    }
    def openElem(e: Elem): Unit = {
      val p = stack.last
      e.parent = if (p eq root) null else p
      e.childIdx = p.children.length
      p.children += e
    }

    while (i < n) {
      val c = s.charAt(i)
      if (c != '<') {
        // append the whole text run in one go (the common case: most of a
        // transcript turn is prose, not markup)
        var lt = s.indexOf('<', i)
        if (lt < 0) lt = n
        text.append(s, i, lt)
        i = lt
      }
      else if (i + 1 >= n) { text.append(c); i += 1 }
      else {
        val c1 = s.charAt(i + 1)
        if (c1 == '!') {
          flushText()
          if (s.startsWith("<!--", i)) {
            val e = s.indexOf("-->", i + 4)
            i = if (e < 0) n else e + 3
          } else {
            val e = s.indexOf('>', i)
            i = if (e < 0) n else e + 1
          }
        } else if (c1 == '?') {
          flushText()
          val e = s.indexOf('>', i)
          i = if (e < 0) n else e + 1
        } else if (c1 == '/') {
          flushText()
          var j = i + 2
          val t0 = j
          while (j < n && s.charAt(j) != '>') j += 1
          val name = lowerAscii(s.substring(t0, j).trim)
          // pop to matching open tag; ignore if not on stack
          val at = stack.lastIndexWhere(_.tag == name)
          if (at > 0) stack.takeInPlace(at)
          i = if (j < n) j + 1 else n
        } else if (c1.isLetter) {
          flushText()
          var j = i + 1
          val t0 = j
          while (j < n && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '-')) j += 1
          val tag = lowerAscii(s.substring(t0, j))
          val e = new Elem(tag)
          var selfClose = false
          // attributes
          var done = false
          while (!done && j < n) {
            while (j < n && s.charAt(j).isWhitespace) j += 1
            if (j >= n) done = true
            else s.charAt(j) match {
              case '>' => j += 1; done = true
              case '/' =>
                j += 1
                if (j < n && s.charAt(j) == '>') { j += 1; selfClose = true; done = true }
              case _ =>
                val a0 = j
                while (j < n && !s.charAt(j).isWhitespace &&
                       s.charAt(j) != '=' && s.charAt(j) != '>' && s.charAt(j) != '/') j += 1
                val aname = lowerAscii(s.substring(a0, j))
                while (j < n && s.charAt(j).isWhitespace) j += 1
                var avalue = ""
                if (j < n && s.charAt(j) == '=') {
                  j += 1
                  while (j < n && s.charAt(j).isWhitespace) j += 1
                  if (j < n && (s.charAt(j) == '"' || s.charAt(j) == '\'')) {
                    val q = s.charAt(j); j += 1
                    val v0 = j
                    while (j < n && s.charAt(j) != q) j += 1
                    avalue = s.substring(v0, j)
                    if (j < n) j += 1
                  } else {
                    val v0 = j
                    while (j < n && !s.charAt(j).isWhitespace && s.charAt(j) != '>') j += 1
                    avalue = s.substring(v0, j)
                  }
                }
                if (aname.nonEmpty && !e.has(aname))
                  e.addAttr(aname, decodeEntities(avalue))
            }
          }
          if (e.has("itemscope")) itemscopeElems += e
          if (!hasReverse && e.has("itemprop-reverse")) hasReverse = true
          // implied end tags
          if (ClosesP.contains(tag) && stack.last.tag == "p") stack.dropRightInPlace(1)
          if ((tag == "li" && stack.last.tag == "li") ||
              ((tag == "dt" || tag == "dd") && (stack.last.tag == "dt" || stack.last.tag == "dd")))
            stack.dropRightInPlace(1)
          openElem(e)
          // HTML5 ignores a stray solidus on non-void elements (the tag
          // stays OPEN — Nokogiri::HTML5, the reference's parser, does the
          // same); only FOREIGN content honors XML self-closing syntax: an
          // svg/math element, or one whose nearest svg/math/integration-point
          // ancestor is svg or math (inside foreignObject it is HTML again)
          val selfCloseForeign = selfClose && (tag == "svg" || tag == "math" || {
            val at = stack.lastIndexWhere(el =>
              el.tag == "svg" || el.tag == "math" || isIntegrationPoint(el))
            at >= 0 && !isIntegrationPoint(stack(at))
          })
          if (!selfCloseForeign && !VoidTags.contains(tag)) {
            if (RawText.contains(tag)) {
              val close = "</" + tag
              val e2 = lower.indexOf(close, j)
              val end = if (e2 < 0) n else e2
              if (end > j) e.children += Text(s.substring(j, end))
              val gt = s.indexOf('>', end)
              j = if (gt < 0) n else gt + 1
            } else stack += e
          }
          i = j
        } else { text.append(c); i += 1 }
      }
    }
    flushText()
    new Doc(root, itemscopeElems.toSeq, hasReverse)
  }

  /** HTML named character references beyond the XML five: the full Latin-1
    * supplement block (the complete HTML 2.0/ISO-8859-1 set — the
    * reference's Nokogiri decodes these, so literal lexical forms must
    * match) plus common typographic punctuation. Not the full 2000+-name
    * HTML5 table; an unknown name passes through verbatim, as before.
    */
  private val NamedEntities: Map[String, String] = {
    val latin1 = Seq(
      "iexcl" -> 0xA1, "cent" -> 0xA2, "pound" -> 0xA3, "curren" -> 0xA4,
      "yen" -> 0xA5, "brvbar" -> 0xA6, "sect" -> 0xA7, "uml" -> 0xA8,
      "copy" -> 0xA9, "ordf" -> 0xAA, "laquo" -> 0xAB, "not" -> 0xAC,
      "shy" -> 0xAD, "reg" -> 0xAE, "macr" -> 0xAF, "deg" -> 0xB0,
      "plusmn" -> 0xB1, "sup2" -> 0xB2, "sup3" -> 0xB3, "acute" -> 0xB4,
      "micro" -> 0xB5, "para" -> 0xB6, "middot" -> 0xB7, "cedil" -> 0xB8,
      "sup1" -> 0xB9, "ordm" -> 0xBA, "raquo" -> 0xBB, "frac14" -> 0xBC,
      "frac12" -> 0xBD, "frac34" -> 0xBE, "iquest" -> 0xBF,
      "Agrave" -> 0xC0, "Aacute" -> 0xC1, "Acirc" -> 0xC2, "Atilde" -> 0xC3,
      "Auml" -> 0xC4, "Aring" -> 0xC5, "AElig" -> 0xC6, "Ccedil" -> 0xC7,
      "Egrave" -> 0xC8, "Eacute" -> 0xC9, "Ecirc" -> 0xCA, "Euml" -> 0xCB,
      "Igrave" -> 0xCC, "Iacute" -> 0xCD, "Icirc" -> 0xCE, "Iuml" -> 0xCF,
      "ETH" -> 0xD0, "Ntilde" -> 0xD1, "Ograve" -> 0xD2, "Oacute" -> 0xD3,
      "Ocirc" -> 0xD4, "Otilde" -> 0xD5, "Ouml" -> 0xD6, "times" -> 0xD7,
      "Oslash" -> 0xD8, "Ugrave" -> 0xD9, "Uacute" -> 0xDA, "Ucirc" -> 0xDB,
      "Uuml" -> 0xDC, "Yacute" -> 0xDD, "THORN" -> 0xDE, "szlig" -> 0xDF,
      "agrave" -> 0xE0, "aacute" -> 0xE1, "acirc" -> 0xE2, "atilde" -> 0xE3,
      "auml" -> 0xE4, "aring" -> 0xE5, "aelig" -> 0xE6, "ccedil" -> 0xE7,
      "egrave" -> 0xE8, "eacute" -> 0xE9, "ecirc" -> 0xEA, "euml" -> 0xEB,
      "igrave" -> 0xEC, "iacute" -> 0xED, "icirc" -> 0xEE, "iuml" -> 0xEF,
      "eth" -> 0xF0, "ntilde" -> 0xF1, "ograve" -> 0xF2, "oacute" -> 0xF3,
      "ocirc" -> 0xF4, "otilde" -> 0xF5, "ouml" -> 0xF6, "divide" -> 0xF7,
      "oslash" -> 0xF8, "ugrave" -> 0xF9, "uacute" -> 0xFA, "ucirc" -> 0xFB,
      "uuml" -> 0xFC, "yacute" -> 0xFD, "thorn" -> 0xFE, "yuml" -> 0xFF)
    val punct = Seq(
      "ndash" -> 0x2013, "mdash" -> 0x2014, "lsquo" -> 0x2018,
      "rsquo" -> 0x2019, "sbquo" -> 0x201A, "ldquo" -> 0x201C,
      "rdquo" -> 0x201D, "bdquo" -> 0x201E, "dagger" -> 0x2020,
      "Dagger" -> 0x2021, "bull" -> 0x2022, "hellip" -> 0x2026,
      "permil" -> 0x2030, "prime" -> 0x2032, "Prime" -> 0x2033,
      "lsaquo" -> 0x2039, "rsaquo" -> 0x203A, "oline" -> 0x203E,
      "euro" -> 0x20AC, "trade" -> 0x2122, "minus" -> 0x2212)
    (Seq("amp" -> 0x26, "lt" -> 0x3C, "gt" -> 0x3E, "quot" -> 0x22,
      "apos" -> 0x27, "nbsp" -> 0xA0) ++ latin1 ++ punct)
      .map { case (n, cp) => n -> new String(Character.toChars(cp)) }.toMap
  }

  /** Numeric character reference → string, with the HTML parsing spec's
    * replacements: NUL, surrogate code points, and out-of-range values all
    * become U+FFFD (emitting them raw would put invalid UTF-16 — or a NUL
    * that downstream key encodings treat as a separator — into lexical
    * forms; getBytes(UTF_8) on a lone surrogate silently writes '?').
    */
  private def codePointRef(cp: Int): String =
    if (cp == 0 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF)) "\uFFFD"
    else new String(Character.toChars(cp))

  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val ent = s.substring(i + 1, semi)
          val decoded: String = NamedEntities.get(ent) match {
            case Some(v) => v
            case None if ent.startsWith("#x") || ent.startsWith("#X") =>
              try codePointRef(Integer.parseInt(ent.substring(2), 16))
              catch { case _: Exception => null }
            case None if ent.startsWith("#") =>
              try codePointRef(Integer.parseInt(ent.substring(1)))
              catch { case _: Exception => null }
            case None => null
          }
          if (decoded != null) { sb ++= decoded; i = semi + 1 }
          else { sb += c; i += 1 }
        } else { sb += c; i += 1 }
      } else { sb += c; i += 1 }
    }
    sb.result()
  }
}
