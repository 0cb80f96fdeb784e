package graft.extract

/** Lightweight DOM node. Text nodes are SLICES of the backing string: `s`
  * is either the parsed document or a decoded-entity string, and the
  * boilerplate walk reads the slice in place. */
sealed trait Node
final case class TextNode(s: String, from: Int, until: Int) extends Node
object TextNode {
  def apply(t: String): TextNode = TextNode(t, 0, t.length)
}

/** DOM element. `tag` is the lowercased name, the same interned String for
  * every element of a known tag; `id` is its [[HtmlParser]] tag-table index
  * (-1 for unknown tags and the root); `flags` are the tag's table flags
  * plus the element's parse-time [[HtmlParser.BoilerHint]] bit. Attributes
  * are not kept: the class/id/role hint is the only thing read from them. */
final class Elem(val tag: String, val id: Int, val flags: Int) extends Node {
  private var kids: Array[Node] = Elem.NoKids
  private var n = 0

  def childCount: Int = n
  def child(i: Int): Node = kids(i)

  private[extract] def add(c: Node): Unit = {
    if (n == kids.length) kids = java.util.Arrays.copyOf(kids, if (n == 0) 4 else n * 2)
    kids(n) = c
    n += 1
  }
}
object Elem {
  private val NoKids = new Array[Node](0)
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
  * Lean DOM: every tag the parser or the boilerplate stage treats specially
  * is in one static table (interned name + flag bits: void, raw-text,
  * closes-`p`, implied-close set, block, boiler, skip, anchor, heading).
  * Tag names are hashed and matched from the lowercased source chars, so a
  * known tag costs no String; an unknown tag gets its lowercased String and
  * zero flags. Attribute values are never materialized: a class/id/role
  * value is matched against [[Boilerplate.BoilerHints]] in place and the
  * result is kept as the element's [[BoilerHint]] bit.
  *
  * Determinism: output depends only on the input string — no locale (the
  * hint match is `toLowerCase(Locale.ROOT)`-exact), no hash-iteration
  * order, no randomness.
  */
object HtmlParser {

  val MaxNodes = 1 << 20 // 1M nodes: bounded-work guard
  val MaxDepth = 256

  // tag flags
  final val Void = 1
  final val RawText = 2
  final val ClosesP = 4
  final val Block = 8
  final val Boiler = 16
  final val Skip = 32
  final val Anchor = 64
  final val Heading = 128
  /** Per element, set at parse time: a class/id/role value holds a hint. */
  final val BoilerHint = 256
  // implied end tags: a tag's own group bit (<< ImpliedShift) and the set
  // of groups its start closes (<< ClosesShift)
  private final val ImpliedShift = 16
  private final val ClosesShift = 24
  private final val GroupMask = 0x7f

  /** tag -> open tags it implicitly closes when it starts (HTML5 rules). */
  private val ImpliedClose: Map[String, Seq[String]] = Map(
    "li" -> Seq("li"), "dt" -> Seq("dt", "dd"), "dd" -> Seq("dt", "dd"),
    "td" -> Seq("td", "th"), "th" -> Seq("td", "th"),
    "tr" -> Seq("tr", "td", "th"), "option" -> Seq("option"))
  private val Groups = ImpliedClose.keys.toIndexedSeq

  private val TagFlags: Seq[(Int, String)] = Seq(
    Void -> "area base br col embed hr img input link meta param source track wbr",
    // content is raw text until the matching close tag (no nested markup)
    RawText -> "script style textarea noscript",
    // start of any of these implicitly closes an open <p>
    ClosesP -> ("address article aside blockquote div dl fieldset figure figcaption " +
      "footer form h1 h2 h3 h4 h5 h6 header hr main nav ol p pre section table ul"),
    // elements that delimit text blocks
    Block -> ("p div h1 h2 h3 h4 h5 h6 li ul ol dl dt dd td th tr table thead tbody " +
      "blockquote pre article section main figure figcaption nav header footer " +
      "aside form fieldset address center body html"),
    // structural boilerplate containers
    Boiler -> "nav header footer aside form",
    // subtrees the boilerplate walk skips entirely
    Skip -> ("script style noscript textarea head title svg iframe select button " +
      "object template"),
    Anchor -> "a",
    Heading -> "h1 h2 h3 h4 h5 h6",
    // common inline tags: interned, no flags
    0 -> "span b i em strong u s small code sub sup abbr cite q label time tfoot caption")

  private val TableSize = 256
  private val TableMask = TableSize - 1
  private val Names = new Array[String](TableSize)
  private val Flags = new Array[Int](TableSize)

  /** Table slot of a name's `String.hashCode`, which the parser computes
    * over the lowercased chars while it scans a tag name. */
  private def slot(h: Int): Int = (h ^ (h >>> 7)) & TableMask

  locally {
    val flags = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    for ((f, names) <- TagFlags; n <- names.split(' ')) flags(n) = flags.getOrElse(n, 0) | f
    for ((n, closes) <- ImpliedClose)
      flags(n) = flags.getOrElse(n, 0) |
        closes.map(c => 1 << Groups.indexOf(c)).reduce(_ | _) << ClosesShift
    for ((n, g) <- Groups.zipWithIndex) flags(n) = flags(n) | (1 << g) << ImpliedShift
    for ((n, f) <- flags) {
      var k = slot(n.hashCode)
      while (Names(k) != null) k = (k + 1) & TableMask
      Names(k) = n.intern()
      Flags(k) = f
    }
  }

  private val P = Names(lookupName("p"))

  /** Tag-table name of a known-tag id (see [[Elem.id]]). */
  def tagName(id: Int): String = Names(id)

  /** Tag-table flags of a known-tag id. */
  def flagsOf(id: Int): Int = Flags(id)

  /** Table id of a lowercase tag name, -1 when it is not a known tag. */
  def lookupName(name: String): Int = lookup(name, 0, name.length, name.hashCode)

  /** Table id of the tag whose name is s[from, until) lowercased (ASCII),
    * given that name's hash; -1 when unknown. */
  private def lookup(s: String, from: Int, until: Int, h: Int): Int = {
    val n = until - from
    var k = slot(h)
    while (Names(k) != null) {
      val name = Names(k)
      if (name.length == n) {
        var j = 0
        while (j < n && lower(s.charAt(from + j)) == name.charAt(j)) j += 1
        if (j == n) return k
      }
      k = (k + 1) & TableMask
    }
    -1
  }

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'
  @inline private def lower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** `Character.isWhitespace`, answered without a table lookup outside
    * [U+1680, U+3000], the only non-ASCII range that holds whitespace. */
  private[extract] def isWhitespace(c: Char): Boolean =
    if (c < 0x80) c == ' ' || (c >= '\t' && c <= '\r') || (c >= '\u001c' && c <= '\u001f')
    else c >= '\u1680' && c <= '\u3000' && Character.isWhitespace(c)

  private val Lt = TextNode("<")

  /** Parse HTML text into a tree rooted at a synthetic "#root" element.
    * Never throws; never returns null. */
  def parse(s: String): Elem = {
    val root = new Elem("#root", -1, 0)
    if (s != null && !s.isEmpty) new Parser(s, root).run()
    root
  }

  private final class Parser(s: String, root: Elem) {
    private val len = s.length
    private var stack = new Array[Elem](32)
    private var depth = 1
    private var nodes = 0
    private var hintBuf = new Array[Char](32)
    stack(0) = root

    @inline private def top: Elem = stack(depth - 1)

    private def addText(t: TextNode): Unit =
      if (t.until > t.from && nodes < MaxNodes) {
        top.add(t)
        nodes += 1
      }

    private def pop(to: Int): Unit = {
      while (depth > to) { depth -= 1; stack(depth) = null }
    }

    private def openTag(name: String, id: Int, flags: Int, selfClose: Boolean): Unit = {
      // implied end tags
      if ((flags & ClosesP) != 0 && (top.tag eq P)) pop(depth - 1)
      val closes = (flags >>> ClosesShift) & GroupMask
      if (closes != 0)
        while (depth > 1 && ((top.flags >>> ImpliedShift) & closes) != 0) pop(depth - 1)
      if (nodes < MaxNodes) {
        val e = new Elem(name, id, flags)
        top.add(e)
        nodes += 1
        if (!selfClose && (flags & Void) == 0 && depth < MaxDepth) {
          if (depth == stack.length) stack = java.util.Arrays.copyOf(stack, depth * 2)
          stack(depth) = e
          depth += 1
        }
      }
    }

    /** Pop to the matching open tag; stray end tags are ignored. */
    private def closeTag(name: String): Unit = {
      var j = depth - 1
      while (j >= 1 && stack(j).tag != name) j -= 1
      if (j >= 1) pop(j)
    }

    /** The interned name of known tag `id`, else s[from, until) lowercased. */
    private def nameOf(from: Int, until: Int, id: Int): String =
      if (id >= 0) Names(id)
      else {
        val cs = new Array[Char](until - from)
        var j = 0
        while (j < cs.length) { cs(j) = lower(s.charAt(from + j)); j += 1 }
        new String(cs)
      }

    def run(): Unit = {
      var i = 0
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
            var h = 0
            while (j < len && isNameChar(s.charAt(j))) { h = 31 * h + lower(s.charAt(j)); j += 1 }
            val end = s.indexOf('>', j)
            if (j > i + 2 && end >= 0) {
              closeTag(nameOf(i + 2, j, lookup(s, i + 2, j, h)))
              i = end + 1
            } else if (end >= 0) i = end + 1
            else i = len
          } else if (isNameStart(c1)) i = startTag(i)
          else { // '<' followed by junk: literal text
            addText(Lt)
            i += 1
          }
        } else if (c == '<') { // trailing '<' at end of input
          addText(Lt)
          i += 1
        } else {
          val next = s.indexOf('<', i)
          val end = if (next < 0) len else next
          // entity-free text (the common case) is a zero-copy slice
          val dec = Entities.decodeOrNull(s, i, end)
          addText(if (dec == null) TextNode(s, i, end) else TextNode(dec))
          i = end
        }
      }
      // leftover past the node cap is appended raw so no bytes are lost
      if (i < len) root.add(TextNode(s, i, len))
    }

    /** Start tag at s(i) == '<'; returns the index after it (and after the
      * raw text of a script/style/textarea/noscript element). */
    private def startTag(i: Int): Int = {
      var j = i + 1
      var h = 0
      while (j < len && isNameChar(s.charAt(j))) { h = 31 * h + lower(s.charAt(j)); j += 1 }
      val id = lookup(s, i + 1, j, h)
      val name = nameOf(i + 1, j, id)
      var flags = if (id >= 0) Flags(id) else 0
      var selfClose = false
      var done = false
      while (!done && j < len) {
        while (j < len && isWhitespace(s.charAt(j))) j += 1
        if (j >= len) done = true
        else {
          val cc = s.charAt(j)
          if (cc == '>') { j += 1; done = true }
          else if (cc == '/') {
            j += 1
            if (j < len && s.charAt(j) == '>') { j += 1; selfClose = true; done = true }
          } else {
            // attribute: only a class/id/role value is looked at
            val an = j
            while (j < len && { val x = s.charAt(j); x != '=' && x != '>' && x != '/' && !isWhitespace(x) }) j += 1
            val hinted = isHintAttr(an, j)
            while (j < len && isWhitespace(s.charAt(j))) j += 1
            if (j < len && s.charAt(j) == '=') {
              j += 1
              while (j < len && isWhitespace(s.charAt(j))) j += 1
              if (j < len) {
                val q = s.charAt(j)
                val vs = if (q == '"' || q == '\'') j + 1 else j
                val ve =
                  if (q == '"' || q == '\'') {
                    val end = s.indexOf(q, j + 1)
                    j = if (end < 0) len else end + 1
                    if (end < 0) len else end
                  } else {
                    while (j < len && { val x = s.charAt(j); x != '>' && !isWhitespace(x) }) j += 1
                    j
                  }
                if (hinted && (flags & BoilerHint) == 0 && hasHint(vs, ve)) flags |= BoilerHint
              }
            }
          }
        }
      }
      openTag(name, id, flags, selfClose)
      if (selfClose || (flags & RawText) == 0) j
      else {
        // consume raw text until the matching close tag (case-insensitive)
        val closeIdx = indexOfCloseTag(name, j)
        val contentEnd = if (closeIdx < 0) len else closeIdx
        addText(TextNode(s, j, contentEnd))
        val next =
          if (closeIdx < 0) len
          else {
            val gt = s.indexOf('>', closeIdx)
            if (gt < 0) len else gt + 1
          }
        closeTag(name)
        next
      }
    }

    /** s[from, until) is `class`, `id` or `role`, ASCII case-insensitive. */
    private def isHintAttr(from: Int, until: Int): Boolean = {
      val n = until - from
      (n == 5 && matchesLower(from, "class")) || (n == 2 && matchesLower(from, "id")) ||
        (n == 4 && matchesLower(from, "role"))
    }

    private def matchesLower(from: Int, word: String): Boolean = {
      var k = 0
      while (k < word.length && lower(s.charAt(from + k)) == word.charAt(k)) k += 1
      k == word.length
    }

    /** `s.substring(from, until).toLowerCase(Locale.ROOT)` contains one of
      * the hints — without the copies. The hints are ASCII, so only the
      * chars whose lowercase form is ASCII can take part in a match: ASCII
      * letters, U+212A KELVIN SIGN (-> `k`) and U+0130 (-> `i` + U+0307);
      * every other char is kept as is and can only break a match. */
    private def hasHint(from: Int, until: Int): Boolean = {
      if (hintBuf.length < 2 * (until - from)) hintBuf = new Array[Char](2 * (until - from))
      val b = hintBuf
      var n = 0
      var k = from
      while (k < until) {
        val c = s.charAt(k)
        if (c == '\u212a') b(n) = 'k'
        else if (c == '\u0130') { b(n) = 'i'; n += 1; b(n) = '\u0307' }
        else b(n) = lower(c)
        n += 1
        k += 1
      }
      val hints = Boilerplate.BoilerHints
      var h = 0
      while (h < hints.length) {
        if (containsAt(b, n, hints(h))) return true
        h += 1
      }
      false
    }

    private def containsAt(b: Array[Char], n: Int, w: String): Boolean = {
      val m = w.length
      var p = 0
      while (p <= n - m) {
        var k = 0
        while (k < m && b(p + k) == w.charAt(k)) k += 1
        if (k == m) return true
        p += 1
      }
      false
    }

    /** First index >= from of `</name` (ASCII case-insensitive), or -1. */
    private def indexOfCloseTag(name: String, from: Int): Int = {
      val max = len - name.length - 2
      var p = s.indexOf('<', from)
      while (p >= 0 && p <= max) {
        if (s.charAt(p + 1) == '/' && matchesLower(p + 2, name)) return p
        p = s.indexOf('<', p + 1)
      }
      -1
    }
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
