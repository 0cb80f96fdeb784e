package graft.extract

import java.nio.charset.StandardCharsets

import graft.core.Span

/** Text-block segmentation + text/link-density boilerplate classification
  * (Boilerpipe/Readability-style, per north_star). This is the extraction
  * core — the Spark-side analog of the reference's conversion engine
  * (docsbox/docs/unoconv/converter.py:36-69), re-expressed as deterministic
  * density heuristics over the lightweight DOM.
  *
  * The block classifier is the NumWordsRules decision tree published in
  * Kohlschütter, Fankhauser, Nejdl, "Boilerplate Detection using Shallow
  * Text Features" (WSDM 2010) — fixed thresholds, heuristicsVersion v1.
  *
  * One pass, one copy: [[segment]] walks the DOM once and writes each
  * block's whitespace-normalized text straight into one growable UTF-8 byte
  * arena per document, counting words and link words as it appends. A block
  * is six ints of one packed record array in [[Blocks]] — tag id, boiler
  * context, arena start and end, words, link words — with no String of its
  * own.
  * [[Blocks.extract]] classifies the records and copies the kept byte ranges
  * once into the output array, joined by `\n`; the relaxed retry
  * re-classifies the same records.
  */
object Boilerplate {

  import HtmlParser.{Anchor, Block, Boiler, BoilerHint, Heading, Skip}

  /** Extracted UTF-8 text, its block spans (byte offsets) and the counts
    * the extractor's fallback chain reads. */
  final case class Result(bytes: Array[Byte], spans: Vector[Span], totalWords: Int,
      contentBlocks: Int) {
    /** The text decoded (tests and the out-of-Spark profiler). */
    def text: String = new String(bytes, StandardCharsets.UTF_8)
  }

  /** class/id/role tokens that mark boilerplate containers (substring match
    * on the Locale.ROOT lowercase value, see [[HtmlParser]]). */
  val BoilerHints: Array[String] = Array(
    "nav", "menu", "footer", "header", "sidebar", "banner", "cookie",
    "breadcrumb", "advert", "-ad-", "promo", "social", "share", "related",
    "comment", "widget")

  private val DefaultTag = HtmlParser.lookupName("p")
  private val Nbsp = '\u00a0'

  // a block record: REC ints per block in one array
  private final val RTag = 0
  private final val RBoiler = 1
  private final val RStart = 2
  private final val REnd = 3
  private final val RWords = 4
  private final val RLinks = 5
  private final val REC = 6

  /** The segmented blocks of one document: block `k` is the text
    * `arena[start(k), end(k))` with its tag id, boilerplate context, and
    * word and link-word counts, read from the packed records `rec`. */
  final class Blocks private[Boilerplate] (arena: Array[Byte], count: Int, rec: Array[Int]) {

    private def tag(k: Int): Int = rec(k * REC + RTag)
    private def boiler(k: Int): Boolean = rec(k * REC + RBoiler) != 0
    private def start(k: Int): Int = rec(k * REC + RStart)
    private def end(k: Int): Int = rec(k * REC + REnd)
    private def words(k: Int): Int = rec(k * REC + RWords)
    private def linkDensity(k: Int): Double =
      if (words(k) == 0) 0.0 else math.min(rec(k * REC + RLinks), words(k)).toDouble / words(k)
    private def heading(k: Int): Boolean = (HtmlParser.flagsOf(tag(k)) & Heading) != 0

    private val totalWords: Int = (0 until count).iterator.map(words).sum

    /** NumWordsRules decision tree (Kohlschütter et al., WSDM 2010, fig. 5),
      * with a hard boilerplate-context override for nav/header/footer/aside
      * and hinted containers. A missing neighbour counts as an empty block. */
    private def classify(relaxed: Boolean): Array[Boolean] = {
      val n = count
      val content = new Array[Boolean](n)
      var i = 0
      while (i < n) {
        val prevWords = if (i > 0) words(i - 1) else 0
        val prevDensity = if (i > 0) linkDensity(i - 1) else 0.0
        val nextWords = if (i + 1 < n) words(i + 1) else 0
        content(i) =
          if (boiler(i)) false
          else if (relaxed) words(i) >= 3 && linkDensity(i) <= 0.5
          else if (linkDensity(i) > 0.333333) false
          else if (prevDensity <= 0.555556) {
            if (words(i) <= 16) {
              if (nextWords <= 15) prevWords > 4
              else true
            } else true
          } else {
            if (words(i) <= 40) nextWords > 17
            else true
          }
        i += 1
      }
      // second pass: keep headings that introduce content
      i = 0
      while (i < n) {
        if (!content(i) && heading(i) && !boiler(i) && linkDensity(i) == 0.0 && words(i) >= 1) {
          var j = i + 1
          while (j < n && heading(j)) j += 1
          if (j < n && content(j)) content(i) = true
        }
        i += 1
      }
      content
    }

    /** Classify, then copy the kept blocks once into the output bytes. */
    def extract(relaxed: Boolean): Result = {
      val content = classify(relaxed)
      val kept = (0 until count).filter(content(_))
      val out = new Array[Byte](kept.map(k => end(k) - start(k)).sum + math.max(kept.length - 1, 0))
      val spans = Vector.newBuilder[Span]
      var off = 0
      kept.foreach { k =>
        if (off > 0) { out(off) = '\n'; off += 1 } // kept blocks are non-empty
        val len = end(k) - start(k)
        System.arraycopy(arena, start(k), out, off, len)
        spans += Span(HtmlParser.tagName(tag(k)), off.toLong, (off + len).toLong)
        off += len
      }
      Result(out, spans.result(), totalWords, kept.length)
    }
  }

  /** Full HTML main-content extraction over a parsed DOM. */
  def extract(root: Elem, relaxed: Boolean): Result = segment(root).extract(relaxed)

  /** Segment the DOM into text blocks. `capacity` is the first arena size
    * (the extractor passes the decoded length); the arena grows if needed. */
  def segment(root: Elem, capacity: Int = 4096): Blocks = {
    val s = new Segmenter(math.max(capacity, 16))
    s.elem(root, 0, 0)
    s.flush()
    s.result()
  }

  private final class Segmenter(capacity: Int) {
    private var arena = new Array[Byte](capacity)
    private var pos = 0
    // the open block
    private var blockStart = 0
    private var blockTag = DefaultTag
    private var blockBoiler = false
    private var words = 0
    private var linkWords = 0
    // the block records
    private var n = 0
    private var rec = new Array[Int](32 * REC)

    def result(): Blocks = new Blocks(arena, n, rec)

    def flush(): Unit = {
      if (pos > blockStart) {
        if ((n + 1) * REC > rec.length) rec = java.util.Arrays.copyOf(rec, rec.length * 2)
        val r = n * REC
        rec(r + RTag) = blockTag
        rec(r + RBoiler) = if (blockBoiler) 1 else 0
        rec(r + RStart) = blockStart
        rec(r + REnd) = pos
        rec(r + RWords) = words
        rec(r + RLinks) = math.min(linkWords, words)
        n += 1
      }
      blockStart = pos
      words = 0
      linkWords = 0
    }

    def elem(e: Elem, anchorDepth: Int, boilerDepth: Int): Unit = {
      val f = e.flags
      if ((f & Skip) == 0) {
        val boiler = boilerDepth > 0 || (f & (Boiler | BoilerHint)) != 0
        val bd = if (boiler) boilerDepth + 1 else boilerDepth
        val ad = if ((f & Anchor) != 0) anchorDepth + 1 else anchorDepth
        if ((f & Block) != 0) {
          flush()
          val prevTag = blockTag
          val prevBoiler = blockBoiler
          blockTag = e.id
          blockBoiler = boiler
          children(e, ad, bd)
          flush()
          blockTag = prevTag
          blockBoiler = prevBoiler
        } else children(e, ad, bd)
      }
    }

    private def children(e: Elem, ad: Int, bd: Int): Unit = {
      var i = 0
      val m = e.childCount
      while (i < m) {
        e.child(i) match {
          case t: TextNode => text(t.s, t.from, t.until, ad > 0)
          case c: Elem => elem(c, ad, bd)
        }
        i += 1
      }
    }

    private def grow(need: Int): Unit =
      if (need > arena.length)
        arena = java.util.Arrays.copyOf(arena, math.max(need, arena.length * 2))

    /** Append the normalized UTF-8 of src[from, until): whitespace is
      * collapsed on the fly, so a run of it, or the node boundary, becomes
      * one ' ' before the next non-whitespace char of the block. Words are maximal
      * runs of chars that are neither whitespace nor U+00A0; a word in an
      * anchor is also a link word. Encoding matches `String.getBytes(UTF_8)`
      * (an unpaired surrogate becomes '?'). Capacity invariant: the arena
      * holds `p + (until - i) + 1` bytes, which covers every ASCII char left
      * plus one separator; only a non-ASCII char re-checks it. The loop
      * state lives in locals, written back once per node. */
    private def text(src: String, from: Int, until: Int, inAnchor: Boolean): Unit =
      if (until > from) {
        grow(pos + (until - from) + 1)
        var a = arena
        var p = pos
        val bs = blockStart
        var pend = true // node boundary acts as a separator
        var inWord = false
        var nw = 0
        var i = from
        while (i < until) {
          val c = src.charAt(i)
          if (c < 0x80) {
            if (c <= ' ' && HtmlParser.isWhitespace(c)) { pend = true; inWord = false }
            else {
              if (pend) {
                if (p > bs) { a(p) = ' '; p += 1 }
                pend = false
              }
              if (!inWord) { nw += 1; inWord = true }
              a(p) = c.toByte
              p += 1
            }
            i += 1
          } else if (HtmlParser.isWhitespace(c)) {
            pend = true
            inWord = false
            i += 1
          } else {
            if (p + (until - i) + 5 > a.length) { pos = p; grow(p + (until - i) + 5); a = arena }
            if (pend) {
              if (p > bs) { a(p) = ' '; p += 1 }
              pend = false
            }
            if (c == Nbsp) inWord = false
            else if (!inWord) { nw += 1; inWord = true }
            if (c < 0x800) {
              a(p) = (0xc0 | (c >> 6)).toByte
              a(p + 1) = (0x80 | (c & 0x3f)).toByte
              p += 2
              i += 1
            } else if (!Character.isSurrogate(c)) {
              a(p) = (0xe0 | (c >> 12)).toByte
              a(p + 1) = (0x80 | ((c >> 6) & 0x3f)).toByte
              a(p + 2) = (0x80 | (c & 0x3f)).toByte
              p += 3
              i += 1
            } else if (Character.isHighSurrogate(c) && i + 1 < until &&
                Character.isLowSurrogate(src.charAt(i + 1))) {
              val cp = Character.toCodePoint(c, src.charAt(i + 1))
              a(p) = (0xf0 | (cp >> 18)).toByte
              a(p + 1) = (0x80 | ((cp >> 12) & 0x3f)).toByte
              a(p + 2) = (0x80 | ((cp >> 6) & 0x3f)).toByte
              a(p + 3) = (0x80 | (cp & 0x3f)).toByte
              p += 4
              i += 2
            } else {
              a(p) = '?'
              p += 1
              i += 1
            }
          }
        }
        pos = p
        words += nw
        if (inAnchor) linkWords += nw
      }
  }

  def utf8Len(s: String): Long = {
    var n = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x80) n += 1
      else if (c < 0x800) n += 2
      else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
        Character.isLowSurrogate(s.charAt(i + 1))) { n += 4; i += 1 }
      else n += 3
      i += 1
    }
    n
  }
}
