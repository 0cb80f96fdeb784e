package graft.extract

import scala.collection.mutable.ArrayBuffer

/** Lightweight DOM node. Text nodes are SLICES of the backing string
  * (r7: entity-free text — the overwhelming majority, including skipped
  * script/style bodies — used to be substring-copied into every node; the
  * slice removes one full copy+allocation pass over all document text).
  * `s` is either the parsed document or a decoded-entity string. */
sealed trait Node
final case class TextNode(s: String, from: Int, until: Int) extends Node {
  /** Materialized text (tests/debug; the hot path reads the slice). */
  def text: String = s.substring(from, until)
}
object TextNode {
  def apply(t: String): TextNode = TextNode(t, 0, t.length)
}
final class Elem(val tag: String, val attrs: List[(String, String)]) extends Node {
  val children = new ArrayBuffer[Node](4)
}

/** Streaming, never-throw HTML tokenizer + tree builder.
  *
  * Spark-side analog of the reference's UNO/LibreOffice document load
  * (docsbox/docs/unoconv/converter.py:36-69) re-expressed as a hand-written
  * deterministic parser (north_rule: from scratch, no jsoup offline). The
  * never-fail-on-malformed-input contract mirrors the reference's EXIF
  * sanitizer tolerance (docsbox/docs/utils.py:312-383): unclosed tags, bad
  * entities, truncated input, absurd nesting all degrade gracefully — the
  * parser ALWAYS returns a tree, bounded by MaxNodes/MaxDepth so a
  * pathological document cannot hang an executor task (the 600 s job-timeout
  * analog, config/config.yml:7).
  *
  * Determinism: output depends only on the input string — no locale, no
  * hash-iteration order (attrs kept as an ordered List), no randomness.
  */
object HtmlParser {

  val VoidTags: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr")

  /** Content is raw text until the matching close tag (no nested markup). */
  val RawTextTags: Set[String] = Set("script", "style", "textarea", "noscript")

  /** Start of any of these implicitly closes an open <p> (HTML5 rules). */
  val ClosesP: Set[String] = Set(
    "address", "article", "aside", "blockquote", "div", "dl", "fieldset",
    "figure", "figcaption", "footer", "form", "h1", "h2", "h3", "h4", "h5",
    "h6", "header", "hr", "main", "nav", "ol", "p", "pre", "section",
    "table", "ul")

  /** tag -> set of open tags it implicitly closes when it starts. */
  val SelfClosing: Map[String, Set[String]] = Map(
    "li" -> Set("li"),
    "dt" -> Set("dt", "dd"),
    "dd" -> Set("dt", "dd"),
    "td" -> Set("td", "th"),
    "th" -> Set("td", "th"),
    "tr" -> Set("tr", "td", "th"),
    "option" -> Set("option"))

  val MaxNodes = 1 << 20 // 1M nodes: bounded-work guard
  val MaxDepth = 256

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'
  private def lower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** Parse HTML text into a tree rooted at a synthetic "#root" element.
    * Never throws; never returns null. */
  def parse(s: String): Elem = {
    val root = new Elem("#root", Nil)
    if (s == null || s.isEmpty) return root
    val len = s.length
    val stack = new ArrayBuffer[Elem](16)
    stack += root
    var nodes = 0
    var i = 0

    def top: Elem = stack(stack.length - 1)

    def addText(t: String): Unit =
      if (t.nonEmpty && nodes < MaxNodes) {
        top.children += TextNode(t)
        nodes += 1
      }

    /** Zero-copy text node over s[from, until). */
    def addSlice(from: Int, until: Int): Unit =
      if (until > from && nodes < MaxNodes) {
        top.children += TextNode(s, from, until)
        nodes += 1
      }

    def openTag(name: String, attrs: List[(String, String)], selfClose: Boolean): Unit = {
      // implied end tags
      if (ClosesP.contains(name)) {
        if (top.tag == "p") stack.remove(stack.length - 1)
      }
      SelfClosing.get(name).foreach { closes =>
        while (stack.length > 1 && closes.contains(top.tag))
          stack.remove(stack.length - 1)
      }
      val e = new Elem(name, attrs)
      if (nodes < MaxNodes) {
        top.children += e
        nodes += 1
        if (!selfClose && !VoidTags.contains(name) && stack.length < MaxDepth)
          stack += e
      }
    }

    def closeTag(name: String): Unit = {
      // pop to the matching open tag; ignore stray end tags entirely
      var j = stack.length - 1
      while (j >= 1 && stack(j).tag != name) j -= 1
      if (j >= 1) stack.remove(j, stack.length - j)
    }

    while (i < len && nodes < MaxNodes) {
      val c = s.charAt(i)
      if (c == '<' && i + 1 < len) {
        val c1 = s.charAt(i + 1)
        if (c1 == '!') {
          if (s.startsWith("<!--", i)) {
            val end = s.indexOf("-->", i + 4)
            i = if (end < 0) len else end + 3
          } else { // doctype / CDATA / bogus declaration
            val end = s.indexOf('>', i + 2)
            i = if (end < 0) len else end + 1
          }
        } else if (c1 == '?') {
          val end = s.indexOf('>', i + 2)
          i = if (end < 0) len else end + 1
        } else if (c1 == '/') {
          var j = i + 2
          val nb = new java.lang.StringBuilder(8)
          while (j < len && isNameChar(s.charAt(j))) { nb.append(lower(s.charAt(j))); j += 1 }
          val end = s.indexOf('>', j)
          if (nb.length > 0 && end >= 0) {
            closeTag(nb.toString)
            i = end + 1
          } else if (end >= 0) i = end + 1
          else i = len
        } else if (isNameStart(c1)) {
          // start tag
          var j = i + 1
          val nb = new java.lang.StringBuilder(8)
          while (j < len && isNameChar(s.charAt(j))) { nb.append(lower(s.charAt(j))); j += 1 }
          val name = nb.toString
          var attrs: List[(String, String)] = Nil
          var selfClose = false
          var done = false
          while (!done && j < len) {
            while (j < len && Character.isWhitespace(s.charAt(j))) j += 1
            if (j >= len) done = true
            else {
              val cc = s.charAt(j)
              if (cc == '>') { j += 1; done = true }
              else if (cc == '/') {
                j += 1
                if (j < len && s.charAt(j) == '>') { j += 1; selfClose = true; done = true }
              } else {
                // attribute
                val ab = new java.lang.StringBuilder(8)
                while (j < len && { val x = s.charAt(j); x != '=' && x != '>' && x != '/' && !Character.isWhitespace(x) }) {
                  ab.append(lower(s.charAt(j))); j += 1
                }
                var value = ""
                while (j < len && Character.isWhitespace(s.charAt(j))) j += 1
                if (j < len && s.charAt(j) == '=') {
                  j += 1
                  while (j < len && Character.isWhitespace(s.charAt(j))) j += 1
                  if (j < len) {
                    val q = s.charAt(j)
                    if (q == '"' || q == '\'') {
                      val end = s.indexOf(q, j + 1)
                      if (end < 0) { value = s.substring(j + 1); j = len }
                      else { value = s.substring(j + 1, end); j = end + 1 }
                    } else {
                      val st = j
                      while (j < len && { val x = s.charAt(j); x != '>' && !Character.isWhitespace(x) }) j += 1
                      value = s.substring(st, j)
                    }
                  }
                }
                if (ab.length > 0) attrs = (ab.toString -> value) :: attrs
              }
            }
          }
          i = j
          openTag(name, attrs.reverse, selfClose)
          if (!selfClose && RawTextTags.contains(name)) {
            // consume raw text until the matching close tag (case-insensitive)
            val closeIdx = indexOfIgnoreCase(s, "</" + name, i)
            val contentEnd = if (closeIdx < 0) len else closeIdx
            addSlice(i, contentEnd)
            if (closeIdx < 0) i = len
            else {
              val gt = s.indexOf('>', closeIdx)
              i = if (gt < 0) len else gt + 1
            }
            closeTag(name)
          }
        } else {
          // '<' followed by junk: literal text
          addText("<")
          i += 1
        }
      } else if (c == '<') { // trailing '<' at end of input
        addText("<")
        i += 1
      } else {
        val next = s.indexOf('<', i)
        val end = if (next < 0) len else next
        // entity-free text (the common case) becomes a zero-copy slice
        val dec = Entities.decodeOrNull(s, i, end)
        if (dec == null) addSlice(i, end) else addText(dec)
        i = end
      }
    }
    // leftover past the node cap is appended raw so no bytes are lost
    if (i < len) root.children += TextNode(s, i, len)
    root
  }

  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    val n = needle.length
    val max = s.length - n
    var i = math.max(from, 0)
    while (i <= max) {
      var j = 0
      var ok = true
      while (ok && j < n) {
        if (lower(s.charAt(i + j)) != lower(needle.charAt(j))) ok = false
        j += 1
      }
      if (ok) return i
      i += 1
    }
    -1
  }
}

/** HTML character-reference decoding: the common named entities + numeric
  * forms. Unknown entities pass through literally (never-throw contract). */
object Entities {
  private val Named: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "trade" -> "™", "mdash" -> "—", "ndash" -> "–",
    "hellip" -> "…", "lsquo" -> "‘", "rsquo" -> "’",
    "ldquo" -> "“", "rdquo" -> "”", "laquo" -> "«",
    "raquo" -> "»", "auml" -> "ä", "ouml" -> "ö",
    "uuml" -> "ü", "Auml" -> "Ä", "Ouml" -> "Ö",
    "Uuml" -> "Ü", "aring" -> "å", "Aring" -> "Å",
    "eacute" -> "é", "egrave" -> "è", "agrave" -> "à",
    "ccedil" -> "ç", "szlig" -> "ß", "euro" -> "€",
    "pound" -> "£", "deg" -> "°", "sect" -> "§",
    "middot" -> "·", "bull" -> "•", "times" -> "×",
    "shy" -> "­")

  /** '&' search bounded to [from, until) — `String.indexOf` has no upper
    * bound and scanned to the END OF THE DOCUMENT for every text node,
    * making entity scanning O(doc_len) per node (quadratic per document;
    * profiled at 61% of all extraction CPU in r7). Result is identical:
    * the unbounded scan's hit was discarded whenever it landed >= until. */
  @inline private def indexOfAmp(s: String, from: Int, until: Int): Int = {
    var i = from
    while (i < until) {
      if (s.charAt(i) == '&') return i
      i += 1
    }
    -1
  }

  /** Decode entities in s[from, until). */
  def decode(s: String, from: Int, until: Int): String = {
    val d = decodeOrNull(s, from, until)
    if (d == null) s.substring(from, until) else d
  }

  /** [[decode]] that returns null when the range contains no '&' — the
    * caller keeps the raw range as a zero-copy slice instead of paying a
    * substring for (the overwhelmingly common) entity-free text. */
  def decodeOrNull(s: String, from: Int, until: Int): String = {
    var i = indexOfAmp(s, from, until)
    if (i < 0) return null
    val sb = new java.lang.StringBuilder(until - from)
    var pos = from
    while (i >= 0) {
      sb.append(s, pos, i)
      val semi = {
        // entity names are short; bound the scan
        val lim = math.min(until, i + 12)
        var k = i + 1
        var found = -1
        while (found < 0 && k < lim) {
          if (s.charAt(k) == ';') found = k
          k += 1
        }
        found
      }
      if (semi > i + 1) {
        val body = s.substring(i + 1, semi)
        val rep: String =
          if (body.length > 1 && body.charAt(0) == '#') {
            val num = body.substring(1)
            val cp =
              try {
                if (num.nonEmpty && (num.charAt(0) == 'x' || num.charAt(0) == 'X'))
                  Integer.parseInt(num.substring(1), 16)
                else Integer.parseInt(num, 10)
              } catch { case _: NumberFormatException => -1 }
            if (cp >= 0 && cp <= 0x10ffff && Character.isValidCodePoint(cp) &&
              !(cp >= 0xd800 && cp <= 0xdfff))
              new String(Character.toChars(cp))
            else null
          } else Named.getOrElse(body, null)
        if (rep != null) { sb.append(rep); pos = semi + 1 }
        else { sb.append('&'); pos = i + 1 }
      } else { sb.append('&'); pos = i + 1 }
      i = indexOfAmp(s, pos, until)
    }
    if (pos < until) sb.append(s, pos, until)
    sb.toString
  }

  def decode(s: String): String = decode(s, 0, s.length)
}
