package graft.extract

import java.nio.charset.StandardCharsets
import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.{PagesGen, Rng}

/** The arena HTML path (`HtmlParser` -> `Boilerplate` -> `Extractor`)
  * against its reference twin (`ReferenceHtml`, the attribute-list DOM and
  * String-building segmentation it replaced): every field the extractor
  * emits, plus the block counts its fallback chain reads, must be equal. */
class HtmlTwinSpec extends AnyFunSuite {

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  /** The two DOMs have the same shape, tags and text, and the hint bit is
    * set exactly where the reference's class/id/role attributes hold a hint
    * (block structure alone would hide e.g. a changed implied end tag). */
  private def sameTree(what: String, e: Elem, r: ReferenceHtml.RElem): Unit = {
    assert(e.tag == r.tag && e.childCount == r.children.length, s"$what: <${r.tag}> shape")
    val hint = r.attrs.exists { case (k, v) =>
      (k == "class" || k == "id" || k == "role") && ReferenceHtml.hintRule(v)
    }
    assert(((e.flags & HtmlParser.BoilerHint) != 0) == hint, s"$what: <${r.tag}> hint")
    (0 until e.childCount).foreach { k =>
      (e.child(k), r.children(k)) match {
        case (t: TextNode, rt: ReferenceHtml.RText) =>
          assert(t.s.regionMatches(t.from, rt.s, rt.from, rt.until - rt.from) &&
            t.until - t.from == rt.until - rt.from, s"$what: text under <${r.tag}>")
        case (c: Elem, rc: ReferenceHtml.RElem) => sameTree(what, c, rc)
        case (a, b) => fail(s"$what: $a vs $b under <${r.tag}>")
      }
    }
  }

  /** Compare one payload; returns true when it took the HTML path. */
  private def check(what: String, payload: Array[Byte]): Boolean = {
    val isHtml = Sniffer.sniff(payload) == Sniffer.MimeHtml
    if (isHtml) {
      val got = Extractor.extract(what, payload)
      val want = ReferenceHtml.extractHtml(what, payload)
      assert(got.status == want.status, s"$what: status")
      assert(java.util.Arrays.equals(got.text, want.text),
        s"$what: text\n got: ${new String(got.text, StandardCharsets.UTF_8)}\nwant: " +
          new String(want.text, StandardCharsets.UTF_8))
      assert(got.spans == want.spans, s"$what: spans")
      assert(got.message == want.message, s"$what: message")
      assert(got.textBytes == want.textBytes && got.mimeType == want.mimeType, s"$what: row")
      val s = Extractor.decode(payload)
      val dom = HtmlParser.parse(s)
      val rdom = ReferenceHtml.parse(s)
      sameTree(what, dom, rdom)
      Seq(false, true).foreach { relaxed =>
        val a = Boilerplate.extract(dom, relaxed)
        val b = ReferenceHtml.extract(rdom, relaxed)
        assert(a.totalWords == b.totalWords && a.contentBlocks == b.contentBlocks,
          s"$what relaxed=$relaxed: counts ${(a.totalWords, a.contentBlocks)} vs " +
            s"${(b.totalWords, b.contentBlocks)}")
        assert(java.util.Arrays.equals(a.bytes, b.text.getBytes(StandardCharsets.UTF_8)) &&
          a.spans == b.spans, s"$what relaxed=$relaxed: text/spans")
      }
    }
    isHtml
  }

  test("twin cross-check: corpus rows 0-2999 and three more windows") {
    // the extra windows start where perfbench's colocated seeds 1, 7 and
    // 9999 start (seed x 12,000 rows)
    val windows = Seq(0L -> 3000L) ++ Seq(1L, 7L, 9999L).map(seed => seed * 12000L -> 300L)
    var html = 0
    for ((start, n) <- windows; i <- start until start + n) {
      val p = PagesGen.page(i)
      if (check(s"idx=$i", if (p.html == null) Array.emptyByteArray else p.html)) html += 1
    }
    assert(html > 1900, s"only $html html pages compared")
  }

  test("twin cross-check: html soup and adversarial pages") {
    val r = new Rng(987654321L)
    val frags = Array("<div", ">", "</", "<p>", "&", "&amp", "&#x", "<!--", "-->",
      "<script>", "</script>", "txt ", "<a href='", "'", "\"", "<![CDATA[", "<<>",
      "<html>", "=", "<br/>", "&#12345678901;", "<h1", " class=", "<q", "</html",
      "<li>", "<td>", "<tr>", "<dd>", "<dt>", "<option>", "</p>", "<nav>", "</nav>",
      "<form>", " id=Sidebar", " role='menu'", "<span>", "</div>", "word ", "\u00a0")
    (0 until 600).foreach { k =>
      val sb = new java.lang.StringBuilder("<html>")
      (0 until r.nextInt(80)).foreach(_ => sb.append(frags(r.nextInt(frags.length))))
      check(s"soup $k", utf8(sb.toString))
    }
    val para = "Plain words for the content classifier to keep in the output, " +
      "twenty or so of them across this sentence."
    def page(body: String): String = s"<html><body>$body<p>$para</p></body></html>"
    val cases = Seq[(String, String)](
      "nbsp" -> page("<p>a\u00a0b&nbsp;c\u00a0\u00a0d \u00a0 e</p>"),
      "line separator" -> page(s"<p>one\u2028two\u2029three $para</p>"),
      "ideographic space" -> page(s"<p>\u3000x\u3000y z\u3000 \u2007 \u202f $para</p>"),
      "info separators" -> page(s"<p>a\u001cb\u001dc\u001ed\u001fe\u0085f $para</p>"),
      "astral entity" -> page(s"<p>smile &#x1F600; &#128512;&#xD800; $para</p>"),
      "astral chars" -> page(s"<p>\ud83d\ude00 \ud835\udc00b $para</p>"),
      "uppercase tags" -> ("<HTML><BODY><NAV>Menu Home</NAV><DIV CLASS=Main><P>" + para +
        "</P><SCRIPT>var x = '</p>';</ScRiPt><P>" + para + "</DIV></BODY></HTML>"),
      "unknown tags" -> page(s"<x-card><my:tag data-a=1>inside $para</my:tag></x-card><blink>b</blink>"),
      "kelvin hint" -> page(s"<div class='booKMAR\u212a'><p>$para</p></div><div id='SIDEBAR'>$para</div>"),
      "dotted I hint" -> page(s"<div class='S\u0130DEBAR'><p>$para</p></div><div role=\u0130nav>$para</div>"),
      "hint attr forms" -> page(s"<div CLASS = \"x-promo\" id><p>$para</p></div>" +
        s"<div data-class=nav class=main><p>$para</p></div><div class='unclosed><p>$para"),
      "unclosed script" -> page(s"<p>$para</p><script>if (a < b) { x = '</scrip' }"),
      "implied ends" -> page(s"<ul><li>one<li>two<li>three</ul><table><tr><td>a<td>b<tr><th>c</table>" +
        s"<dl><dt>t<dd>d<dt>u</dl><p>p one<div>div closes p</div><select><option>o<option>p</select>"),
      "stray end tags" -> page(s"</div></p></span>text after strays $para</b></html>"),
      "max depth" -> ("<html><body>" + "<div>" * 300 + para + "</div>" * 300 + "<p>" + para + "</p>"),
      "max nodes" -> ("<p>" + "<b>x</b>" * (HtmlParser.MaxNodes / 2 + 10) + " tail " + para),
      "no blocks" -> "<span>just some text without any block markup at all, twelve words here",
      "boilerplate only" -> ("<html><nav>" + ("word " * 60) + "</nav>"),
      "relaxed retry" -> ("<div><a href=x>l1 l2 l3</a> w4 w5</div><div><a href=y>m1 m2</a> " +
        "n3 n4 n5 n6</div>")
    )
    cases.foreach { case (name, html) => assert(check(name, utf8(html)), name) }
    // bytes the UTF-8 decoder must replace, and a windows-1252 page with
    // the 0x80-0x9F range the charset maps to typographic chars
    val bad = utf8(page("<p>ab")) ++ Array(0xff, 0xc3, 0x28, 0xe2, 0x82, 0xed, 0xa0, 0x80)
      .map(_.toByte) ++ utf8(s" $para</p>")
    assert(check("malformed utf-8", bad))
    val cp1252 = utf8("<html><head><meta charset=\"Windows-1252\"></head><body><p>") ++
      (0x80 to 0x9f).map(_.toByte) ++ utf8(s" $para</p></body></html>")
    assert(check("windows-1252", cp1252))
  }

  test("boilerplate hint: equals toLowerCase(Locale.ROOT).contains, in any default locale") {
    // only these chars lowercase (Locale.ROOT) to something with an ASCII char
    val asciiLower = (0x80 to Character.MAX_CODE_POINT).filter { cp =>
      new String(Character.toChars(cp)).toLowerCase(Locale.ROOT).exists(_ < 0x80)
    }
    assert(asciiLower == Seq(0x130, 0x212a))
    val r = new Rng(42L)
    val alphabet = Array("nav", "NAV", "Side", "BAR", "sidebar", "-", "ad", "\u212a", "\u0130",
      "i", "k", "coo", "KIE", "\u00a0", " ", "\u03a3", "\ud801\udc00", "menu", "x", "_", "promo")
    val values = Seq("SIDEBAR", "Cookie-Banner", "coo\u212aie", "S\u0130DEBAR", "x-AD-y", "") ++
      (0 until 3000).map(_ => (0 until r.nextInt(6)).map(_ => alphabet(r.nextInt(alphabet.length))).mkString)
    val saved = Locale.getDefault
    try {
      Seq(Locale.US, new Locale("tr", "TR")).foreach { loc =>
        Locale.setDefault(loc)
        values.foreach { v =>
          val root = HtmlParser.parse(s"<div class=\"$v\">x</div><div id='$v'>y</div>")
          (0 until 2).foreach { k =>
            val e = root.child(k).asInstanceOf[graft.extract.Elem]
            assert(((e.flags & HtmlParser.BoilerHint) != 0) == ReferenceHtml.hintRule(v),
              s"value '$v' under $loc")
          }
        }
      }
    } finally Locale.setDefault(saved)
  }

  test("the inlined whitespace test equals Character.isWhitespace") {
    (0 to 0xffff).foreach { c =>
      assert(HtmlParser.isWhitespace(c.toChar) == Character.isWhitespace(c.toChar), f"U+$c%04X")
    }
  }
}
