package graft.extract

import java.nio.charset.StandardCharsets
import java.util.Locale
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.core.{Extracted, Heuristics, Span, Status}

/** Reference twin of the HTML path, kept in test scope for cross-checks:
  * the attribute-list DOM, the String-building block segmentation and the
  * String-then-`getBytes` finish that `HtmlParser`, `Boilerplate` and
  * `Extractor` replaced with the interned-tag DOM and the UTF-8 arena.
  * Written for clarity, not speed; the production path must match it byte
  * for byte. The boilerplate hint uses `toLowerCase(Locale.ROOT)`, the
  * locale-independent rule the production matcher implements. */
object ReferenceHtml {

  sealed trait RNode
  final case class RText(s: String, from: Int, until: Int) extends RNode
  final class RElem(val tag: String, val attrs: List[(String, String)]) extends RNode {
    val children = new ArrayBuffer[RNode](4)
  }

  private val VoidTags = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr")
  private val RawTextTags = Set("script", "style", "textarea", "noscript")
  private val ClosesP = Set(
    "address", "article", "aside", "blockquote", "div", "dl", "fieldset",
    "figure", "figcaption", "footer", "form", "h1", "h2", "h3", "h4", "h5",
    "h6", "header", "hr", "main", "nav", "ol", "p", "pre", "section",
    "table", "ul")
  private val SelfClosing: Map[String, Set[String]] = Map(
    "li" -> Set("li"), "dt" -> Set("dt", "dd"), "dd" -> Set("dt", "dd"),
    "td" -> Set("td", "th"), "th" -> Set("td", "th"),
    "tr" -> Set("tr", "td", "th"), "option" -> Set("option"))

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'
  private def lower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  def parse(s: String): RElem = {
    val root = new RElem("#root", Nil)
    if (s == null || s.isEmpty) return root
    val len = s.length
    val stack = new ArrayBuffer[RElem](16)
    stack += root
    var nodes = 0
    var i = 0
    def top: RElem = stack(stack.length - 1)
    def addText(t: String): Unit =
      if (t.nonEmpty && nodes < HtmlParser.MaxNodes) { top.children += RText(t, 0, t.length); nodes += 1 }
    def addSlice(from: Int, until: Int): Unit =
      if (until > from && nodes < HtmlParser.MaxNodes) { top.children += RText(s, from, until); nodes += 1 }
    def openTag(name: String, attrs: List[(String, String)], selfClose: Boolean): Unit = {
      if (ClosesP.contains(name) && top.tag == "p") stack.remove(stack.length - 1)
      SelfClosing.get(name).foreach { closes =>
        while (stack.length > 1 && closes.contains(top.tag)) stack.remove(stack.length - 1)
      }
      val e = new RElem(name, attrs)
      if (nodes < HtmlParser.MaxNodes) {
        top.children += e
        nodes += 1
        if (!selfClose && !VoidTags.contains(name) && stack.length < HtmlParser.MaxDepth) stack += e
      }
    }
    def closeTag(name: String): Unit = {
      var j = stack.length - 1
      while (j >= 1 && stack(j).tag != name) j -= 1
      if (j >= 1) stack.remove(j, stack.length - j)
    }
    while (i < len && nodes < HtmlParser.MaxNodes) {
      val c = s.charAt(i)
      if (c == '<' && i + 1 < len) {
        val c1 = s.charAt(i + 1)
        if (c1 == '!') {
          if (s.startsWith("<!--", i)) {
            val end = s.indexOf("-->", i + 4)
            i = if (end < 0) len else end + 3
          } else {
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
          if (nb.length > 0 && end >= 0) { closeTag(nb.toString); i = end + 1 }
          else if (end >= 0) i = end + 1
          else i = len
        } else if (isNameStart(c1)) {
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
            val closeIdx = indexOfIgnoreCase(s, "</" + name, i)
            addSlice(i, if (closeIdx < 0) len else closeIdx)
            if (closeIdx < 0) i = len
            else {
              val gt = s.indexOf('>', closeIdx)
              i = if (gt < 0) len else gt + 1
            }
            closeTag(name)
          }
        } else { addText("<"); i += 1 }
      } else if (c == '<') { addText("<"); i += 1 }
      else {
        val next = s.indexOf('<', i)
        val end = if (next < 0) len else next
        val dec = Entities.decodeOrNull(s, i, end)
        if (dec == null) addSlice(i, end) else addText(dec)
        i = end
      }
    }
    if (i < len) root.children += RText(s, i, len)
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

  // ------------------------------------------------------------ boilerplate

  final case class Block(text: String, words: Int, linkWords: Int, tag: String, boilerCtx: Boolean) {
    def linkDensity: Double = if (words == 0) 0.0 else math.min(linkWords, words).toDouble / words
    def heading: Boolean =
      tag.length == 2 && tag.charAt(0) == 'h' && tag.charAt(1) >= '1' && tag.charAt(1) <= '6'
  }

  final case class Result(text: String, spans: Vector[Span], totalWords: Int, contentBlocks: Int)

  private val BlockTags = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol", "dl",
    "dt", "dd", "td", "th", "tr", "table", "thead", "tbody", "blockquote",
    "pre", "article", "section", "main", "figure", "figcaption", "nav",
    "header", "footer", "aside", "form", "fieldset", "address", "center",
    "body", "html")
  private val BoilerTags = Set("nav", "header", "footer", "aside", "form")
  private val SkipTags = Set(
    "script", "style", "noscript", "textarea", "head", "title", "svg",
    "iframe", "select", "button", "object", "template")

  /** The hint rule: a class/id/role value whose Locale.ROOT lowercase form
    * contains one of [[Boilerplate.BoilerHints]]. */
  def hintRule(v: String): Boolean = {
    val lv = v.toLowerCase(Locale.ROOT)
    Boilerplate.BoilerHints.exists(h => lv.contains(h))
  }

  private def hasBoilerHint(e: RElem): Boolean =
    e.attrs.exists { case (k, v) => (k == "class" || k == "id" || k == "role") && hintRule(v) }

  def segment(root: RElem): Vector[Block] = {
    val out = Vector.newBuilder[Block]
    val sb = new java.lang.StringBuilder(256)
    var pendingSpace = false
    var linkWords = 0
    var blockTag = "p"
    var blockBoiler = false
    def appendNormalized(t: String, from: Int, n: Int): Unit = {
      var i = from
      while (i < n) {
        val c = t.charAt(i)
        if (Character.isWhitespace(c)) { pendingSpace = true; i += 1 }
        else {
          var j = i + 1
          while (j < n && !Character.isWhitespace(t.charAt(j))) j += 1
          if (pendingSpace && sb.length() > 0) sb.append(' ')
          sb.append(t, i, j)
          pendingSpace = false
          i = j
        }
      }
    }
    def flush(): Unit = {
      if (sb.length() > 0) {
        val t = sb.toString
        val w = countWords(t, 0, t.length)
        out += Block(t, w, math.min(linkWords, w), blockTag, blockBoiler)
      }
      sb.setLength(0)
      pendingSpace = false
      linkWords = 0
    }
    def walk(n: RNode, anchorDepth: Int, boilerDepth: Int): Unit = n match {
      case RText(src, from, until) =>
        if (until > from) {
          pendingSpace = true
          appendNormalized(src, from, until)
          if (anchorDepth > 0) linkWords += countWords(src, from, until)
        }
      case e: RElem =>
        val tag = e.tag
        if (!SkipTags.contains(tag)) {
          val boiler = boilerDepth > 0 || BoilerTags.contains(tag) || hasBoilerHint(e)
          val bd = if (boiler) boilerDepth + 1 else boilerDepth
          val ad = if (tag == "a") anchorDepth + 1 else anchorDepth
          if (BlockTags.contains(tag)) {
            flush()
            val prevTag = blockTag
            val prevBoiler = blockBoiler
            blockTag = tag
            blockBoiler = boiler
            e.children.foreach(walk(_, ad, bd))
            flush()
            blockTag = prevTag
            blockBoiler = prevBoiler
          } else e.children.foreach(walk(_, ad, bd))
        }
    }
    walk(root, 0, 0)
    flush()
    out.result()
  }

  private def countWords(s: String, from: Int, until: Int): Int = {
    var n = 0
    var inWord = false
    var i = from
    while (i < until) {
      val ws = Character.isWhitespace(s.charAt(i)) || s.charAt(i) == ' '
      if (!ws && !inWord) { n += 1; inWord = true }
      else if (ws) inWord = false
      i += 1
    }
    n
  }

  private val EmptyBlock = Block("", 0, 0, "p", boilerCtx = false)

  def classify(blocks: Vector[Block], relaxed: Boolean): Array[Boolean] = {
    val n = blocks.length
    val content = new Array[Boolean](n)
    for (i <- 0 until n) {
      val curr = blocks(i)
      val prev = if (i > 0) blocks(i - 1) else EmptyBlock
      val next = if (i + 1 < n) blocks(i + 1) else EmptyBlock
      content(i) =
        if (curr.boilerCtx) false
        else if (relaxed) curr.words >= 3 && curr.linkDensity <= 0.5
        else if (curr.linkDensity > 0.333333) false
        else if (prev.linkDensity <= 0.555556) {
          if (curr.words <= 16) { if (next.words <= 15) prev.words > 4 else true }
          else true
        } else { if (curr.words <= 40) next.words > 17 else true }
    }
    for (i <- 0 until n) {
      val b = blocks(i)
      if (!content(i) && b.heading && !b.boilerCtx && b.linkDensity == 0.0 && b.words >= 1) {
        var j = i + 1
        while (j < n && blocks(j).heading) j += 1
        if (j < n && content(j)) content(i) = true
      }
    }
    content
  }

  def extract(root: RElem, relaxed: Boolean): Result = {
    val blocks = segment(root)
    val content = classify(blocks, relaxed)
    val sb = new java.lang.StringBuilder(1024)
    val spans = new ArrayBuffer[Span](16)
    var byteOff = 0L
    var kept = 0
    for (i <- blocks.indices if content(i)) {
      if (kept > 0) { sb.append('\n'); byteOff += 1 }
      val t = blocks(i).text
      val blen = Boilerplate.utf8Len(t)
      spans += Span(blocks(i).tag, byteOff, byteOff + blen)
      sb.append(t)
      byteOff += blen
      kept += 1
    }
    Result(sb.toString, spans.toVector, blocks.iterator.map(_.words).sum, kept)
  }

  // ---------------------------------------------------------------- extract

  /** The HTML branch of `Extractor.extract` as it was: decode, parse,
    * strict then relaxed boilerplate, String then `getBytes`. */
  def extractHtml(url: String, payload: Array[Byte]): Extracted =
    try {
      val dom = parse(Extractor.decode(payload))
      var res = extract(dom, relaxed = false)
      if (res.contentBlocks == 0 && res.totalWords > 10) res = extract(dom, relaxed = true)
      if (res.contentBlocks == 0 && res.totalWords > 50)
        statusRow(url, Status.Failed, Sniffer.MimeHtml, "no main content detected")
      else {
        val bytes = res.text.getBytes(StandardCharsets.UTF_8)
        var ok = true
        var last = 0L
        res.spans.foreach { sp =>
          if (sp.start < 0 || sp.end < sp.start || sp.end > bytes.length || sp.start < last) ok = false
          last = sp.start
        }
        if (!ok) statusRow(url, Status.Failed, Sniffer.MimeHtml, "span validation failed")
        else Extracted(url, Status.Finished, Sniffer.MimeHtml, bytes, res.spans, bytes.length.toLong,
          null, Heuristics.Version, Sniffer.kindOf(Sniffer.MimeHtml), "", Nil)
      }
    } catch {
      case _: StackOverflowError =>
        statusRow(url, Status.Failed, Sniffer.MimeUnknown, "internal: StackOverflowError")
      case NonFatal(e) =>
        statusRow(url, Status.Failed, Sniffer.MimeUnknown, s"internal: ${e.getClass.getSimpleName}")
    }

  private def statusRow(url: String, status: String, mime: String, message: String): Extracted =
    Extracted(url, status, mime, Array.emptyByteArray, Nil, 0L, message,
      Heuristics.Version, Sniffer.kindOf(mime), "", Nil)
}
