package graft

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.{PagesGen, PdfGen, Rng, ZipGen}
import graft.extract.{Extractor, HtmlParser, OoxmlParser, PdfParser, Sniffer}

/** Scalar extraction-core tests (no Spark): the expectation-table-as-code
  * analog of the reference's test_dependencies.py, plus the never-throw and
  * determinism contracts from SURVEY.md §5.2. */
class ExtractorSpec extends AnyFunSuite {

  test("every corpus category extracts to its expected status") {
    (0L until 500L).foreach { i =>
      val p = PagesGen.page(i)
      val e = Extractor.extract(p.url, p.html)
      val expected = PagesGen.expectedStatus(PagesGen.category(i))
      assert(e.status == expected,
        s"idx=$i cat=${PagesGen.category(i)} msg=${e.message}")
    }
  }

  test("extraction is deterministic (same bytes -> same bytes)") {
    (0L until 120L).foreach { i =>
      val p = PagesGen.page(i)
      val a = Extractor.extract(p.url, p.html)
      val b = Extractor.extract(p.url, p.html)
      assert(java.util.Arrays.equals(a.text, b.text))
      assert(a.status == b.status && a.spans == b.spans && a.message == b.message)
    }
  }

  test("sniffer detects the corpus mimetypes") {
    assert(Sniffer.sniff("<!DOCTYPE html><html></html>".getBytes) == "text/html")
    assert(Sniffer.sniff("%PDF-1.4\nxxx".getBytes) == "application/pdf")
    assert(Sniffer.sniff(Array.emptyByteArray) == "Unknown/Corrupted")
    assert(Sniffer.sniff(Array[Byte](0, 1, 2, 3, 4, 5)) == "Unknown/Corrupted")
    assert(Sniffer.sniff("fLaCjunk".getBytes) == "audio/flac")
    assert(Sniffer.sniff(Array[Byte](0, 0, 0, 0x20, 'f', 't', 'y', 'p') ++ new Array[Byte](16)) == "video/mp4")
  }

  test("boilerplate: nav/footer/sidebar text excluded, main content kept") {
    val html =
      """<html><body>
        |<nav><a href="/a">HomeLink</a> <a href="/b">AboutLink</a></nav>
        |<article>
        |<h1>The Real Headline Here</h1>
        |<p>This is the first real paragraph of the main content with enough
        |words to be classified as content by the number of words rules.</p>
        |<p>And a second paragraph that also carries a reasonable number of
        |words so the classifier keeps it in the output as well.</p>
        |</article>
        |<footer>CopyrightFooterText <a href="/c">ContactLink</a></footer>
        |</body></html>""".stripMargin
    val e = Extractor.extract("u", html.getBytes(StandardCharsets.UTF_8))
    val text = new String(e.text, StandardCharsets.UTF_8)
    assert(e.status == "finished")
    assert(text.contains("first real paragraph"))
    assert(text.contains("The Real Headline Here"))
    assert(!text.contains("HomeLink"))
    assert(!text.contains("CopyrightFooterText"))
  }

  test("extraction does not depend on the default locale (tr_TR probe)") {
    // a Turkish default locale lowercases 'I' to dotless U+0131: the charset
    // sniff and the class hint must both match with Locale.ROOT semantics
    val html = "<html><head><meta charset=\"ISO-8859-1\"></head><body>" +
      "<div class=\"SIDEBAR\"><p>Sidebar links and other navigation things that are not " +
      "the main content</p></div><p>Caf\u00e9 na\u00efve fa\u00e7ade \u00fcber: the main " +
      "paragraph carries enough words for the classifier to keep it.</p></body></html>"
    val bytes = html.getBytes(StandardCharsets.ISO_8859_1)
    val saved = java.util.Locale.getDefault
    def under(l: java.util.Locale) =
      try { java.util.Locale.setDefault(l); Extractor.extract("probe", bytes) }
      finally java.util.Locale.setDefault(saved)
    val us = under(java.util.Locale.US)
    val tr = under(new java.util.Locale("tr", "TR"))
    val text = new String(us.text, StandardCharsets.UTF_8)
    assert(text == "Caf\u00e9 na\u00efve fa\u00e7ade \u00fcber: the main paragraph carries " +
      "enough words for the classifier to keep it.")
    assert(us.text.length == 98)
    assert(java.util.Arrays.equals(tr.text, us.text) && tr.spans == us.spans && tr.status == us.status)
  }

  test("entities decode; unknown entities pass through") {
    val html = "<html><body><p>A &amp; B &lt;tag&gt; &#65; &#x42; &auml; &bogus; done " +
      "plus more words to satisfy the content classifier threshold rules here</p></body></html>"
    val e = Extractor.extract("u", html.getBytes(StandardCharsets.UTF_8))
    val text = new String(e.text, StandardCharsets.UTF_8)
    assert(text.contains("A & B <tag> A B ä &bogus; done"))
  }

  test("pdf roundtrip: writer lines come back in reading order") {
    val lines = Seq("First line of page one.", "Second line follows.", "Third and last.")
    val pdf = PdfGen.build(PdfGen.PdfSpec(Seq(lines)))
    PdfParser.parse(pdf) match {
      case PdfParser.PdfText(text, spans, _, pageCount) =>
        assert(text == lines.mkString("\n"))
        assert(pageCount == 1)
        assert(spans.length == 3)
      case other => fail(s"unexpected: $other")
    }
  }

  test("pdf multi-page order and flags") {
    val pdf = PdfGen.build(PdfGen.PdfSpec(Seq(Seq("p1a", "p1b"), Seq("p2a"))))
    PdfParser.parse(pdf) match {
      case PdfParser.PdfText(text, _, _, pc) =>
        assert(text == "p1a\np1b\np2a" && pc == 2)
      case other => fail(s"unexpected: $other")
    }
    assert(PdfParser.parse(PdfGen.build(PdfGen.PdfSpec(Seq(Seq("x")), encrypted = true)))
      .isInstanceOf[PdfParser.PdfEncrypted])
    assert(PdfParser.parse(PdfGen.build(PdfGen.PdfSpec(Seq(Seq("x")), pdfaMarker = true)))
      .isInstanceOf[PdfParser.PdfAlreadyPdfa])
    PdfParser.parse(PdfGen.build(PdfGen.PdfSpec(Seq(Seq("x")), badCoords = true))) match {
      case PdfParser.PdfFailure(msg) => assert(msg == "out-of-range coordinates")
      case other => fail(s"unexpected: $other")
    }
  }

  test("pdf attachments surface as attachment spans") {
    val pdf = PdfGen.build(PdfGen.PdfSpec(Seq(Seq("body text line")),
      attachments = Seq("note.txt" -> "hello".getBytes)))
    val e = Extractor.extract("u", pdf)
    assert(e.status == "finished")
    assert(e.spans.exists(_.kind == "attachment:note.txt"))
  }

  test("pdf attachment payload bytes and filespec props round-trip") {
    val data = "attached payload äö".getBytes(StandardCharsets.UTF_8)
    val pdf = PdfGen.build(PdfGen.PdfSpec(Seq(Seq("body")),
      attachments = Seq("note.txt" -> data, "inner.pdf" -> "%PDF-1.4 fake".getBytes)))
    val e = Extractor.extract("u", pdf)
    assert(e.status == "finished")
    assert(e.attachments.map(_.name) == Seq("note.txt", "inner.pdf"))
    assert(java.util.Arrays.equals(e.attachments.head.bytes, data),
      s"got ${new String(e.attachments.head.bytes, StandardCharsets.UTF_8)}")
    assert(e.attachments.head.props("Desc") == "attachment note.txt")
    assert(e.attachments.head.props("CreationDate") == "D:20250101000000Z")
  }

  test("attached PDFs are isolated: no content/flag/filespec leak-through") {
    val innerPdfa = PdfGen.build(PdfGen.PdfSpec(Seq(Seq("INNER SECRET LINE")),
      pdfaMarker = true))
    val innerWithAtt = PdfGen.build(PdfGen.PdfSpec(Seq(Seq("nested body")),
      attachments = Seq("deep.txt" -> "deep".getBytes)))
    val outer = PdfGen.build(PdfGen.PdfSpec(Seq(Seq("outer visible line")),
      attachments = Seq("a.pdf" -> innerPdfa, "b.pdf" -> innerWithAtt)))
    PdfParser.parse(outer) match {
      case PdfParser.PdfText(text, _, atts, _) =>
        assert(text == "outer visible line", s"inner content leaked: $text")
        // inner PDF/A marker must NOT flag the outer document
        assert(atts.map(_.name) == Seq("a.pdf", "b.pdf"))
        assert(java.util.Arrays.equals(atts.head.bytes, innerPdfa))
        assert(java.util.Arrays.equals(atts(1).bytes, innerWithAtt))
      case other => fail(s"unexpected: $other")
    }
    // an attached ENCRYPTED pdf must not mark the outer as encrypted
    val innerEnc = PdfGen.build(PdfGen.PdfSpec(Seq(Seq("x")), encrypted = true))
    val outer2 = PdfGen.build(PdfGen.PdfSpec(Seq(Seq("plain outer")),
      attachments = Seq("enc.pdf" -> innerEnc)))
    PdfParser.parse(outer2) match {
      case PdfParser.PdfText(text, _, atts, _) =>
        assert(text == "plain outer")
        assert(java.util.Arrays.equals(atts.head.bytes, innerEnc))
      case other => fail(s"unexpected: $other")
    }
  }

  test("encryption states: full vs empty-user-password partial") {
    PdfParser.parse(PdfGen.build(PdfGen.PdfSpec(Seq(Seq("x")), encrypted = true))) match {
      case PdfParser.PdfEncrypted(partial) => assert(!partial)
      case other => fail(s"unexpected: $other")
    }
    PdfParser.parse(PdfGen.build(PdfGen.PdfSpec(Seq(Seq("x")), encryptedPartial = true))) match {
      case PdfParser.PdfEncrypted(partial) => assert(partial)
      case other => fail(s"unexpected: $other")
    }
    val e = Extractor.extract("u",
      PdfGen.build(PdfGen.PdfSpec(Seq(Seq("x")), encryptedPartial = true)))
    assert(e.status == "password-protected-partial")
  }

  test("xref-STREAM trailers (PDF 1.5+, no 'trailer' keyword) detect /Encrypt") {
    // hand-built: the cross-reference stream object's dict carries the
    // trailer entries, including /Encrypt — there is no `trailer` keyword
    val pdf = ("%PDF-1.5\n" +
      "1 0 obj\n<< /Type /XRef /Size 3 /W [1 2 1] /Root 2 0 R /Encrypt 3 0 R /Length 4 >>\nstream\n" +
      "    \nendstream\nendobj\n" +
      "3 0 obj\n<< /Filter /Standard /V 2 /R 3 /P -3904 " +
      "/U <0000000000000000000000000000000000000000000000000000000000000000> >>\nendobj\n" +
      "startxref\n9\n%%EOF\n").getBytes(StandardCharsets.ISO_8859_1)
    PdfParser.parse(pdf) match {
      case PdfParser.PdfEncrypted(partial) => assert(!partial)
      case other => fail(s"unexpected: $other")
    }
    val e = Extractor.extract("u", pdf)
    assert(e.status == "password-protected")
  }

  test("probes are structural: /Encrypt and pdfaid:part as TEXT extract fine") {
    val pdf = PdfGen.build(PdfGen.PdfSpec(Seq(Seq(
      "Mentions /Encrypt and pdfaid:part inside prose.", "Second line."))))
    PdfParser.parse(pdf) match {
      case PdfParser.PdfText(text, _, _, _) =>
        assert(text.contains("/Encrypt") && text.contains("pdfaid:part"))
      case other => fail(s"unexpected: $other")
    }
  }

  test("pdfa version is parsed from XMP metadata (part + conformance)") {
    PdfParser.parse(PdfGen.build(PdfGen.PdfSpec(Seq(Seq("x")), pdfaMarker = true))) match {
      case PdfParser.PdfAlreadyPdfa(v) => assert(v == "1B")
      case other => fail(s"unexpected: $other")
    }
    val e = Extractor.extract("u",
      PdfGen.build(PdfGen.PdfSpec(Seq(Seq("x")), pdfaMarker = true)))
    assert(e.status == "non-convertable" && e.pdfVersion == "1B")
  }

  test("zip member probe classifies ooxml/odf/plain archives") {
    assert(Sniffer.sniff(ZipGen.docx(Seq("hello world"))) == Sniffer.MimeDocx)
    assert(Sniffer.sniff(ZipGen.pptx(Seq(Seq("slide text")))) == Sniffer.MimePptx)
    assert(Sniffer.sniff(ZipGen.xlsx(Seq("cell"))) == Sniffer.MimeXlsx)
    assert(Sniffer.sniff(ZipGen.odt("h", Seq("p"))) == Sniffer.MimeOdt)
    assert(Sniffer.sniff(ZipGen.zip(Seq("data/x.bin" -> Array[Byte](1, 2, 3)))) ==
      Sniffer.MimeZip)
    // forged local header claiming a ~4 GB compressed size: the skip must
    // not int-overflow into out-of-bounds reads — plain zip, no throw
    val forged = ZipGen.zip(Seq("data/x.bin" -> Array[Byte](1, 2, 3)))
    forged(18) = 0xff.toByte; forged(19) = 0xff.toByte
    forged(20) = 0xff.toByte; forged(21) = 0xfe.toByte
    assert(Sniffer.sniff(forged) == Sniffer.MimeZip)
  }

  test("ooxml/odf extraction round-trips paragraphs byte-exactly") {
    val paras = Seq("First paragraph with ä & <specials>.", "Second one.")
    val d = Extractor.extract("u", ZipGen.docx(paras))
    assert(d.status == "finished" && d.detectedKind == "ooxml")
    assert(new String(d.text, StandardCharsets.UTF_8) == paras.mkString("\n"))
    assert(d.spans.length == 2 && d.spans.forall(_.kind == "p"))

    val o = Extractor.extract("u", ZipGen.odt("Heading", paras))
    assert(o.status == "finished" && o.detectedKind == "odf")
    assert(new String(o.text, StandardCharsets.UTF_8) ==
      ("Heading" +: paras).mkString("\n"))

    val p = Extractor.extract("u", ZipGen.pptx(Seq(Seq("s1 a", "s1 b"), Seq("s2"))))
    assert(p.status == "finished")
    assert(new String(p.text, StandardCharsets.UTF_8) == "s1 a\ns1 b\ns2")

    val x = Extractor.extract("u", ZipGen.xlsx(Seq("alpha", "beta")))
    assert(x.status == "finished")
    assert(new String(x.text, StandardCharsets.UTF_8) == "alpha\nbeta")
    assert(x.spans.forall(_.kind == "cell"))

    val z = Extractor.extract("u", ZipGen.zip(Seq("a/b.bin" -> Array[Byte](9))))
    assert(z.status == "non-convertable" && z.mimeType == "application/zip")
  }

  test("full ODF family + StarOffice sx* route through the content.xml extractor") {
    val cells = Seq("alpha cell", "beta & <cell>")
    val s = Extractor.extract("u", ZipGen.ods(cells))
    assert(s.status == "finished" && s.detectedKind == "odf")
    assert(s.mimeType == "application/vnd.oasis.opendocument.spreadsheet")
    assert(new String(s.text, StandardCharsets.UTF_8) == "alpha cell\nbeta & <cell>")

    val p = Extractor.extract("u", ZipGen.odp(Seq(Seq("slide one"), Seq("slide two"))))
    assert(p.status == "finished" && p.detectedKind == "odf")
    assert(p.mimeType == "application/vnd.oasis.opendocument.presentation")
    assert(new String(p.text, StandardCharsets.UTF_8) == "slide one\nslide two")

    val g = Extractor.extract("u", ZipGen.odg(Seq("frame text")))
    assert(g.status == "finished" &&
      g.mimeType == "application/vnd.oasis.opendocument.graphics")
    assert(new String(g.text, StandardCharsets.UTF_8) == "frame text")

    val w = Extractor.extract("u", ZipGen.sx("writer", Seq("star writer para")))
    assert(w.status == "finished" && w.detectedKind == "odf")
    assert(w.mimeType == "application/vnd.sun.xml.writer")
    assert(new String(w.text, StandardCharsets.UTF_8) == "star writer para")
  }

  test("odt opener matching is tag-exact: text:page-number is not a paragraph") {
    // hand-built content.xml where <text:page-number> and <text:page-count>
    // PRECEDE the real paragraphs — a prefix match would derail the scan
    val content =
      """<?xml version="1.0"?><office:document-content><office:body><office:text>
        |<text:p>before <text:page-number>7</text:page-number> after</text:p>
        |<text:page-count>9</text:page-count>
        |<text:p>second para</text:p>
        |</office:text></office:body></office:document-content>""".stripMargin
    val payload = graft.corpus.ZipGen.zip(Seq(
      "mimetype" -> "application/vnd.oasis.opendocument.text".getBytes(StandardCharsets.US_ASCII),
      "content.xml" -> content.getBytes(StandardCharsets.UTF_8)))
    val e = Extractor.extract("u", payload)
    assert(e.status == "finished", s"msg=${e.message}")
    assert(new String(e.text, StandardCharsets.UTF_8) ==
      "before 7 after\nsecond para")
  }

  test("rtf: control words stripped, escapes decoded, destinations skipped") {
    val paras = Seq("First paragraph with äöå.", "Second & last {brace}.")
    val e = Extractor.extract("u", graft.corpus.LegacyGen.rtf(paras))
    assert(e.status == "finished" && e.detectedKind == "rtf")
    assert(e.mimeType == "text/rtf")
    assert(new String(e.text, StandardCharsets.UTF_8) == paras.mkString("\n"))
    assert(e.spans.length == 2 && e.spans.forall(_.kind == "p"))
    // hand-written features: \'xx hex escape, \tab, nested skip groups,
    // \uc0 unicode with no fallback, escaped braces
    val rtf = ("{\\rtf1\\ansi{\\fonttbl{\\f0 X;}}" +
      "\\uc0 A\\'e4B\\tab\\u8212 C \\{lit\\}\\par done\\par}").getBytes
    val e2 = Extractor.extract("u", rtf)
    assert(e2.status == "finished", s"msg=${e2.message}")
    assert(new String(e2.text, StandardCharsets.UTF_8) == "AäB\t—C {lit}\ndone")
  }

  test("rtf: \\ucN is group-scoped — a {\\uc0 ...} group must not leak") {
    // inside the group \uc0 -> no fallback skip; after '}' the default
    // \uc1 is restored, so the 'Y' fallback char after 舒 is skipped
    val rtf = "{\\rtf1\\ansi{\\uc0\\u8212 X}\\u8212 Y}".getBytes
    val e = Extractor.extract("u", rtf)
    assert(e.status == "finished", s"msg=${e.message}")
    assert(new String(e.text, StandardCharsets.UTF_8) == "—X—",
      s"got '${new String(e.text, StandardCharsets.UTF_8)}'")
    // an UNCONSUMED pending skip must die at the group boundary too: with
    // \uc2 only 'A' exists inside the group, so 'B' after '}' is body text
    val rtf2 = "{\\rtf1\\ansi{\\uc2\\u8212 A}BC}".getBytes
    val e2 = Extractor.extract("u", rtf2)
    assert(new String(e2.text, StandardCharsets.UTF_8) == "—BC",
      s"got '${new String(e2.text, StandardCharsets.UTF_8)}'")
  }

  test("rtf never throws on truncations and garbage control words") {
    val good = graft.corpus.LegacyGen.rtf(Seq("some paragraph here"))
    (1 until good.length by 13).foreach { cut =>
      val e = Extractor.extract("u", java.util.Arrays.copyOf(good, cut))
      assert(e.status != null)
    }
    val weird = "{\\rtf1\\bin999999999 x\\u-99999?\\'zz\\unknownword123456789{{{".getBytes
    assert(Extractor.extract("u", weird).status != null)
  }

  test("legacy .doc round-trips text through the CFB + piece-table path") {
    import graft.corpus.LegacyGen
    val paras = Seq("First Word paragraph with äöå.", "Second one & more.",
      "Third — em dash and ü.")
    val e = Extractor.extract("u", LegacyGen.doc(paras))
    assert(e.status == "finished", s"msg=${e.message}")
    assert(e.mimeType == "application/msword" && e.detectedKind == "ole2")
    assert(new String(e.text, StandardCharsets.UTF_8) == paras.mkString("\n"))
    assert(e.spans.length == 3 && e.spans.forall(_.kind == "p"))
  }

  test("legacy .xls SST and .ppt text atoms round-trip") {
    import graft.corpus.LegacyGen
    val cells = Seq("alpha cell", "béta cëll", "gamma")
    val x = Extractor.extract("u", LegacyGen.xls(cells))
    assert(x.status == "finished", s"msg=${x.message}")
    assert(x.mimeType == "application/vnd.ms-excel")
    assert(new String(x.text, StandardCharsets.UTF_8) == cells.mkString("\n"))
    assert(x.spans.forall(_.kind == "cell"))

    val slides = Seq(Seq("slide one title", "ünïcode body"), Seq("slide two"))
    val p = Extractor.extract("u", LegacyGen.ppt(slides))
    assert(p.status == "finished", s"msg=${p.message}")
    assert(p.mimeType == "application/vnd.ms-powerpoint")
    assert(new String(p.text, StandardCharsets.UTF_8) ==
      slides.flatten.mkString("\n"))
  }

  test("adversarial xls: zero-advance SST entry terminates immediately") {
    // SST claiming 2^32-1 strings whose first entry advances the cursor by
    // ZERO bytes (cch=0, fExtSt with a wrapping cbExt): the parser must
    // stop on the forward-progress guard, not spin billions of iterations
    val body = new java.io.ByteArrayOutputStream()
    def le16(v: Int) = { body.write(v & 0xff); body.write((v >>> 8) & 0xff) }
    def le32(v: Long) = { (0 until 4).foreach(i => body.write(((v >>> (8 * i)) & 0xff).toInt)) }
    le16(0x0809); le16(16); (0 until 16).foreach(_ => body.write(0)) // BOF
    le16(0x00fc); le16(8 + 3 + 4) // SST record
    le32(0xffffffffL); le32(0xffffffffL) // cstTotal, cstUnique
    le16(0); body.write(0x04) // cch=0, fExtSt
    le32(0xfffffff9L) // cbExt wraps negative as Int
    le16(0x000a); le16(0) // EOF
    val payload = graft.corpus.LegacyGen.cfb("Workbook", body.toByteArray)
    val t0 = System.nanoTime()
    val e = Extractor.extract("u", payload)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(e.status != null && sec < 5.0, s"took $sec s, status=${e.status}")

    // a FINAL rich entry whose run data continues past the record end (the
    // Continue-record layout): its in-record text must be KEPT, then stop
    val b2 = new java.io.ByteArrayOutputStream()
    def l16(v: Int) = { b2.write(v & 0xff); b2.write((v >>> 8) & 0xff) }
    def l32(v: Long) = { (0 until 4).foreach(i => b2.write(((v >>> (8 * i)) & 0xff).toInt)) }
    l16(0x0809); l16(16); (0 until 16).foreach(_ => b2.write(0)) // BOF
    val text = "kept"
    l16(0x00fc); l16(8 + 3 + 2 + text.length) // SST record
    l32(2L); l32(2L) // claims 2 strings; only a partial rich one fits
    l16(text.length); b2.write(0x08) // cch=4, fRichSt
    l16(500) // cRun: 500 runs x 4 B continue past the record end
    text.foreach(c => b2.write(c.toInt))
    l16(0x000a); l16(0) // EOF
    val e2 = Extractor.extract("u",
      graft.corpus.LegacyGen.cfb("Workbook", b2.toByteArray))
    assert(e2.status == "finished", s"msg=${e2.message}")
    assert(new String(e2.text, StandardCharsets.UTF_8) == "kept")
  }

  test("unknown compound files stay typed; OLE2 truncations never throw") {
    import graft.corpus.LegacyGen
    val junk = Array.tabulate[Byte](900)(i => (i * 31).toByte)
    // unknown compound file: generic CFB mimetype, named non-convertable
    val other = Extractor.extract("u", LegacyGen.cfb("SummaryInformation", junk))
    assert(other.mimeType == "application/x-cfb" && other.status == "non-convertable")
    // truncations of a REAL doc: typed when the directory survives,
    // never a throw either way
    val full = LegacyGen.doc(Seq("some body paragraph", "and another"))
    (1 until full.length by 97).foreach { cut =>
      val e = Extractor.extract("u", java.util.Arrays.copyOf(full, cut))
      assert(e.status != null)
    }
    // byte flips in the FAT/directory region never throw
    (0 until 200).foreach { k =>
      val b = full.clone()
      b((k * 37) % b.length) = (k * 13).toByte
      assert(Extractor.extract("u", b).status != null)
    }
  }

  test("csv payloads sniff as text/csv and extract on the text path") {
    val csv = PagesGen.csvPayload(new Rng(7L), "en")
    assert(Sniffer.sniff(csv) == Sniffer.MimeCsv)
    val e = Extractor.extract("u", csv)
    assert(e.status == "finished", s"msg=${e.message}")
    assert(e.mimeType == "text/csv" && e.detectedKind == "text")
    assert(new String(e.text, StandardCharsets.UTF_8) ==
      new String(csv, StandardCharsets.UTF_8).trim)
    // prose with UNEQUAL per-line comma counts stays text/plain
    assert(Sniffer.sniff(
      "One, two, three.\nA different, shorter tail.".getBytes) == Sniffer.MimeText)
    assert(Sniffer.sniff("a,b,c\nd,e\nf,g,h".getBytes) == Sniffer.MimeText)
    // fewer than 3 complete lines is not a table — two comma-bearing
    // prose lines with EQUAL counts must stay text/plain
    assert(Sniffer.sniff("k,v".getBytes) == Sniffer.MimeText)
    assert(Sniffer.sniff(
      "Hello, world\nGoodbye, friend".getBytes) == Sniffer.MimeText)
    assert(Sniffer.sniff("a,b\r\nc,d\r\ne,f".getBytes) == Sniffer.MimeCsv)
  }

  test("over-cap .doc text surfaces as failed, not silently truncated") {
    import graft.corpus.LegacyGen
    // > 4M chars of claimed main-document text
    val big = "word " * (((4 << 20) / 5) + 2048)
    val e = Extractor.extract("u", LegacyGen.doc(Seq(big)))
    assert(e.status == "failed", s"got ${e.status}")
    assert(e.message == "text exceeds the extraction cap", e.message)
    // control: an in-cap doc still finishes
    assert(Extractor.extract("u",
      LegacyGen.doc(Seq("short body"))).status == "finished")
  }

  test("doc piece pointing outside the stream surfaces, not silent finish") {
    import graft.corpus.LegacyGen
    val full = LegacyGen.doc(Seq("first paragraph body", "second paragraph body"))
    // locate the Pcdt (clxt=2, lcb=28 for the two-piece PlcPcd) bytes
    val pat = Array[Byte](2, 28, 0, 0, 0)
    val at = full.indices.find(i => i + 5 <= full.length &&
      pat.indices.forall(k => full(i + k) == pat(k))).get
    val bad = full.clone()
    // PCD[1].fc (le32 at +27): point far past the WordDocument stream end
    bad(at + 27) = 0; bad(at + 28) = 0; bad(at + 29) = -1; bad(at + 30) = 0x3f
    val e = Extractor.extract("u", bad)
    assert(e.status == "failed", s"got ${e.status}: ${e.message}")
    assert(e.message == "piece table incomplete", e.message)
  }

  test("zip probe survives real-world member ordering: leading docProps/_rels") {
    // an OOXML whose first 10 members are metadata parts must still sniff
    // as docx (the r3 walk stopped after 8 local headers)
    val fillers = Seq("[Content_Types].xml", "_rels/.rels", "docProps/app.xml",
      "docProps/core.xml", "docProps/custom.xml", "customXml/item1.xml",
      "customXml/itemProps1.xml", "customXml/_rels/item1.xml.rels",
      "docProps/thumbnail.jpeg", "theme/theme1.xml")
      .map(n => n -> s"<x>$n</x>".getBytes(StandardCharsets.UTF_8))
    val payload = ZipGen.zip(fillers :+
      ("word/document.xml" -> "<w:document/>".getBytes(StandardCharsets.UTF_8)))
    assert(Sniffer.sniff(payload) == Sniffer.MimeDocx)
  }

  test("cfb byte-scan fallback needs the directory-entry NUL terminator") {
    import graft.extract.CfbReader
    def cfbWith(tail: Array[Byte]): Array[Byte] =
      Array[Byte](0xd0.toByte, 0xcf.toByte, 0x11, 0xe0.toByte,
        0xa1.toByte, 0xb1.toByte, 0x1a, 0xe1.toByte) ++
        new Array[Byte](504) ++ tail // zeroed header: directory walk fails
    def utf16(s: String) = s.getBytes(StandardCharsets.UTF_16LE)
    assert(CfbReader.streamNames(cfbWith(utf16("x"))).isEmpty) // fallback active
    // 'Book' inside ordinary UTF-16 stream text must NOT classify as xls
    assert(Sniffer.sniff(cfbWith(utf16("about the NoteBook series"))) ==
      Sniffer.MimeCfb)
    // a real (truncated-directory) entry name carries the trailing NUL
    assert(Sniffer.sniff(cfbWith(utf16("Book") ++ Array[Byte](0, 0))) ==
      Sniffer.MimeXls)
    assert(Sniffer.sniff(cfbWith(utf16("WordDocument") ++ Array[Byte](0, 0))) ==
      Sniffer.MimeDoc)
  }

  test("iWork and epub zips classify by member layout / mimetype member") {
    import graft.corpus.ZipGen
    val junk = Array.tabulate[Byte](64)(_.toByte)
    assert(Sniffer.sniff(ZipGen.iwork("pages", junk)) == "application/x-iwork-pages-sffpages")
    assert(Sniffer.sniff(ZipGen.iwork("keynote", junk)) == "application/x-iwork-keynote-sffkey")
    assert(Sniffer.sniff(ZipGen.iwork("numbers", junk)) == "application/x-iwork-numbers-sffnumbers")
    val ep = Extractor.extract("u", ZipGen.epub(Seq("chapter text")))
    assert(ep.mimeType == "application/epub+zip" && ep.detectedKind == "epub")
    assert(ep.status == "non-convertable")
  }

  test("tiff and heif/heic signatures sniff with the registry mimetypes") {
    assert(Sniffer.sniff(Array[Byte]('I', 'I', 0x2a, 0, 8, 0, 0, 0)) == "image/tiff")
    assert(Sniffer.sniff(Array[Byte]('M', 'M', 0, 0x2a, 0, 0, 0, 8)) == "image/tiff")
    def ftyp(brand: String) =
      Array[Byte](0, 0, 0, 0x20, 'f', 't', 'y', 'p') ++ brand.getBytes ++ new Array[Byte](16)
    assert(Sniffer.sniff(ftyp("heic")) == "image/heic")
    assert(Sniffer.sniff(ftyp("mif1")) == "image/heif")
    assert(Sniffer.sniff(ftyp("isom")) == "video/mp4")
    assert(Sniffer.sniff(ftyp("M4A ")) == "audio/mp4")
  }

  test("ooxml never throws on corrupt members and truncated zips") {
    val good = ZipGen.docx(Seq("some paragraph"))
    (1 until good.length by 37).foreach { cut =>
      val e = Extractor.extract("u", java.util.Arrays.copyOf(good, cut))
      assert(e.status != null)
    }
    // zip with a document.xml that is not valid xml
    val bad = ZipGen.zip(Seq("word/document.xml" -> "<<<not xml".getBytes))
    val e = Extractor.extract("u", bad)
    assert(e.status == "failed" && e.message == "no text content")
    assert(OoxmlParser.decodeXml("&amp;&#65;&#x42;&bogus;&lt;") == "&AB&bogus;<")
  }

  test("flate-compressed content streams decode") {
    // hand-build a PDF whose content stream is deflate-compressed
    val content = "BT /F1 12 Tf 72 720 Td (compressed hello) Tj ET"
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(content.getBytes(StandardCharsets.ISO_8859_1))
    deflater.finish()
    val buf = new Array[Byte](1024)
    val n = deflater.deflate(buf)
    val comp = new String(buf, 0, n, StandardCharsets.ISO_8859_1)
    val pdf = ("%PDF-1.4\n1 0 obj\n<< /Length " + comp.length +
      " /Filter /FlateDecode >>\nstream\n" + comp +
      "\nendstream\nendobj\ntrailer\n<< /Root 1 0 R >>\n%%EOF\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    PdfParser.parse(pdf) match {
      case PdfParser.PdfText(text, _, _, _) => assert(text == "compressed hello")
      case other => fail(s"unexpected: $other")
    }
  }

  test("never throws: random bytes, random html-ish strings, truncations") {
    val r = new Rng(987654321L)
    // arbitrary bytes
    (0 until 400).foreach { _ =>
      val b = new Array[Byte](r.nextInt(2048))
      var i = 0
      while (i < b.length) { b(i) = (r.nextLong() & 0xff).toByte; i += 1 }
      val e = Extractor.extract("fuzz", b)
      assert(e.status != null)
    }
    // html-ish soup
    val frags = Array("<div", ">", "</", "<p>", "&", "&amp", "&#x", "<!--", "-->",
      "<script>", "</script>", "txt ", "<a href='", "'", "\"", "<![CDATA[", "<<>",
      "<html>", "=", "<br/>", "&#12345678901;", "<h1", " class=", "<q", "</html")
    (0 until 400).foreach { _ =>
      val sb = new java.lang.StringBuilder
      (0 until r.nextInt(60)).foreach(_ => sb.append(frags(r.nextInt(frags.length))))
      val root = HtmlParser.parse(sb.toString)
      assert(root != null)
    }
    // truncations of every category
    (0L until 100L).foreach { i =>
      val p = PagesGen.page(i)
      val cut = r.nextInt(math.max(p.html.length, 1))
      val e = Extractor.extract(p.url, java.util.Arrays.copyOf(p.html, cut))
      assert(e.status != null)
    }
  }

  test("bounded work: pathological inputs finish fast (timeout analog)") {
    // 4 MB of tag spam / nesting / entity runs — must stay under the caps
    // (HtmlParser.MaxNodes/MaxDepth) and return promptly (600 s job-timeout
    // analog, config/config.yml:7 — here budgeted at 10 s per doc)
    val spam = ("<div class=x>" * 300000).getBytes(StandardCharsets.UTF_8)
    val nest = ("<p>" + ("<b>" * 200000) + "deep").getBytes(StandardCharsets.UTF_8)
    val amps = ("<p>" + ("&x" * 1000000)).getBytes(StandardCharsets.UTF_8)
    Seq("spam" -> spam, "nest" -> nest, "amps" -> amps).foreach { case (n, b) =>
      val t0 = System.nanoTime()
      val e = Extractor.extract(n, b)
      val sec = (System.nanoTime() - t0) / 1e9
      assert(e.status != null)
      assert(sec < 10.0, s"$n took $sec s")
    }
  }

  test("span offsets are in bounds and ordered for all finished rows") {
    (0L until 300L).foreach { i =>
      val p = PagesGen.page(i)
      val e = Extractor.extract(p.url, p.html)
      if (e.status == "finished") {
        var last = 0L
        e.spans.foreach { sp =>
          assert(sp.start >= last && sp.end >= sp.start && sp.end <= e.textBytes,
            s"idx=$i span=$sp textBytes=${e.textBytes}")
          last = sp.start
        }
      }
    }
  }
}
