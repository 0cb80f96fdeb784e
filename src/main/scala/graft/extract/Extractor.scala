package graft.extract

import java.nio.charset.{Charset, StandardCharsets}
import scala.util.control.NonFatal

import graft.core.{Attachment, Extracted, Heuristics, Span, Status}

/** Per-document extraction dispatcher: sniff -> route -> extract -> validate
  * -> bounded fallback -> error-as-value result. The Spark analog of the
  * reference's task body `process_convertion` (docsbox/docs/tasks.py:80-103):
  * routing by detected type family, a bounded escalation chain (OCR-loop
  * analog, tasks.py:130-138), and a result record that never raises
  * (tasks.py:102-103).
  *
  * Fully deterministic: same bytes -> same Extracted, independent of
  * partitioning, parallelism, JVM, locale. UTF-8 output only.
  */
object Extractor {

  private val Empty = Array.emptyByteArray

  /** Status-row result with no text (errors, gates). */
  private def statusRow(url: String, status: String, mime: String,
      message: String, pdfVersion: String = ""): Extracted =
    Extracted(url, status, mime, Empty, Nil, 0L, message, Heuristics.Version,
      Sniffer.kindOf(mime), pdfVersion, Nil)

  def extract(url: String, payload: Array[Byte]): Extracted = {
    try {
      extractUnsafe(url, payload)
    } catch {
      // never-throw contract (FileInfoException analog) — but only within
      // reason: NonFatal + StackOverflowError (deep-nesting protection).
      // Fatal JVM errors (OOM) and interrupts PROPAGATE: an executor OOM
      // must not become a quiet 'failed' row, and Spark task-kill
      // interrupts must not be swallowed.
      case _: StackOverflowError =>
        statusRow(url, Status.Failed, Sniffer.MimeUnknown, "internal: StackOverflowError")
      case NonFatal(e) =>
        statusRow(url, Status.Failed, Sniffer.MimeUnknown,
          s"internal: ${e.getClass.getSimpleName}")
    }
  }

  private def extractUnsafe(url: String, payload: Array[Byte]): Extracted = {
    val mime = Sniffer.sniff(payload)
    mime match {
      case Sniffer.MimeHtml => extractHtml(url, payload)
      case Sniffer.MimePdf => extractPdf(url, payload)
      case Sniffer.MimeText | Sniffer.MimeCsv =>
        extractPlainText(url, payload, mime)
      case Sniffer.MimeDocx => ooxml(url, mime, OoxmlParser.extractDocx(payload))
      case Sniffer.MimePptx => ooxml(url, mime, OoxmlParser.extractPptx(payload))
      case Sniffer.MimeXlsx => ooxml(url, mime, OoxmlParser.extractXlsx(payload))
      case Sniffer.MimeRtf => ooxml(url, mime, RtfParser.extract(payload))
      // legacy OLE2 Office binaries (config.yml:40-70): hand-written
      // CFB walk + format parsers (MS-DOC piece table / BIFF8 SST / PPT
      // text atoms) where the reference shells out to LibreOffice
      case Sniffer.MimeDoc => ooxml(url, mime, LegacyOffice.extractDoc(payload))
      case Sniffer.MimeXls => ooxml(url, mime, LegacyOffice.extractXls(payload))
      case Sniffer.MimePpt => ooxml(url, mime, LegacyOffice.extractPpt(payload))
      // the WHOLE OpenDocument family (odt/ods/odp/odg, config.yml:134-153)
      // and its StarOffice sx* predecessors (config.yml:75-89) share the
      // content.xml text:p/text:h extraction path
      case m if m.startsWith("application/vnd.oasis.opendocument") ||
          m.startsWith("application/vnd.sun.xml") =>
        ooxml(url, m, OoxmlParser.extractOdt(payload))
      case Sniffer.MimeZip => // archive without a recognized document member
        statusRow(url, Status.NonConvertable, mime,
          "zip archive without a recognized document member")
      case Sniffer.MimeUnknown =>
        val msg = if (payload == null || payload.isEmpty) "empty payload"
        else "unable to detect file type"
        statusRow(url, Status.Corrupted, Sniffer.MimeUnknown, msg)
      case other => // recognized but unsupported media (test15.mp4 analog,
        // tests/test_dependencies.py filesNotConvertable)
        statusRow(url, Status.NonConvertable, other,
          s"mimetype not supported for extraction: $other")
    }
  }

  // --------------------------------------------------------- OOXML / ODF

  private def ooxml(url: String, mime: String, res: OoxmlParser.Result): Extracted =
    res match {
      case OoxmlParser.OoxmlText(text, spans) => finish(url, mime, text, spans)
      case OoxmlParser.OoxmlFailure(msg) =>
        statusRow(url, Status.Failed, mime, msg)
    }

  // ---------------------------------------------------------------- HTML

  private def extractHtml(url: String, payload: Array[Byte]): Extracted = {
    val s = decode(payload)
    // segment once; the relaxed retry re-classifies the same blocks — the
    // strictly-bounded escalation chain (OCR loop analog, tasks.py:130-138)
    val blocks = Boilerplate.segment(HtmlParser.parse(s), s.length + 16)
    var res = blocks.extract(relaxed = false)
    if (res.contentBlocks == 0 && res.totalWords > 10)
      res = blocks.extract(relaxed = true)
    if (res.contentBlocks == 0 && res.totalWords > 50) {
      // conversion produced nothing from a non-trivial page: the analog of
      // "It was not possible to convert the file" (tasks.py:137-138)
      return statusRow(url, Status.Failed, Sniffer.MimeHtml,
        "no main content detected")
    }
    // the text is already UTF-8: no String, no re-encode
    finishBytes(url, Sniffer.MimeHtml, res.bytes, res.spans)
  }

  /** Decode payload bytes to chars: meta-charset sniff (HEIC->PNG
    * normalization analog, utils.py:410-414), UTF-8 default, malformed
    * input replaced — never throws. */
  def decode(payload: Array[Byte]): String = {
    val cs = sniffCharset(payload)
    // String's charset constructor REPLACEs malformed/unmappable input
    // exactly like the explicit CharsetDecoder it replaces (r7: profiled
    // ~8% of extraction in decodeArrayLoop) but takes the JDK's
    // intrinsified per-charset fast paths (ASCII runs are bulk-copied);
    // byte-identity pinned by GoldenSpec across the charset fixtures
    val s = new String(payload, cs)
    // strip BOM + normalize newlines (alpha-flatten analog, utils.py:302-309)
    val noBom = if (s.nonEmpty && s.charAt(0) == '﻿') s.substring(1) else s
    // fast path: most documents have no CR at all — skip the two full-copy
    // replace() passes (hot-loop allocation rate is the multicore limiter)
    if (noBom.indexOf('\r') < 0) noBom
    else noBom.replace("\r\n", "\n").replace('\r', '\n')
  }

  private val CharsetKey = ascii("charset=")

  /** Recognized `charset=` values; anything else decodes as UTF-8. */
  private val Charsets: Seq[(Array[Byte], Charset)] = {
    val cp1252 =
      try Charset.forName("windows-1252")
      catch { case _: Throwable => StandardCharsets.ISO_8859_1 }
    Seq("iso-8859-1" -> StandardCharsets.ISO_8859_1, "latin1" -> StandardCharsets.ISO_8859_1,
      "windows-1252" -> cp1252, "cp1252" -> cp1252,
      "us-ascii" -> StandardCharsets.US_ASCII, "ascii" -> StandardCharsets.US_ASCII)
      .map { case (n, cs) => ascii(n) -> cs }
  }

  private def ascii(s: String): Array[Byte] = s.getBytes(StandardCharsets.US_ASCII)

  /** The `charset=` value in the first 1 KB, matched ASCII
    * case-insensitively in the bytes (Locale.ROOT semantics: a Turkish
    * default locale must not turn `ISO` into `ıso`); UTF-8 when absent or
    * unknown. */
  private def sniffCharset(payload: Array[Byte]): Charset = {
    val m = math.min(payload.length, 1024)
    val i = indexOfLower(payload, m, CharsetKey, 0)
    if (i < 0) return StandardCharsets.UTF_8
    var j = i + CharsetKey.length
    if (j < m && (payload(j) == '"' || payload(j) == '\'')) j += 1
    val st = j
    while (j < m && {
      val c = lowerAscii(payload(j))
      (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '-' || c == '_'
    }) j += 1
    Charsets.collectFirst {
      case (name, cs) if name.length == j - st && indexOfLower(payload, j, name, st) == st => cs
    }.getOrElse(StandardCharsets.UTF_8)
  }

  @inline private def lowerAscii(b: Byte): Int =
    if (b >= 'A' && b <= 'Z') b + 32 else b & 0xff

  /** First index >= from of the lowercase ASCII `key` in b[0, until),
    * ASCII case-insensitively; -1 if none. */
  private def indexOfLower(b: Array[Byte], until: Int, key: Array[Byte], from: Int): Int = {
    var i = from
    while (i <= until - key.length) {
      var k = 0
      while (k < key.length && lowerAscii(b(i + k)) == key(k)) k += 1
      if (k == key.length) return i
      i += 1
    }
    -1
  }

  // ----------------------------------------------------------------- PDF

  private def extractPdf(url: String, payload: Array[Byte]): Extracted = {
    PdfParser.parse(payload) match {
      case PdfParser.PdfText(text, spans, atts, _) =>
        val textBytes = Boilerplate.utf8Len(text)
        // attachment spans carry the name in `kind` (filespec walk analog,
        // utils.py:440-461); zero-length at end-of-text; payload bytes +
        // props travel in the nested attachments column
        val attSpans = atts.map(a => Span(s"attachment:${a.name}", textBytes, textBytes))
        finish(url, Sniffer.MimePdf, text, spans ++ attSpans, attachments = atts)
      case PdfParser.PdfEncrypted(partial) =>
        if (partial)
          statusRow(url, Status.PasswordProtectedPartial, Sniffer.MimePdf,
            "password-protected-partial")
        else
          statusRow(url, Status.PasswordProtected, Sniffer.MimePdf,
            "password-protected")
      case PdfParser.PdfAlreadyPdfa(version) =>
        statusRow(url, Status.NonConvertable, Sniffer.MimePdf,
          "already PDF/A", pdfVersion = version)
      case PdfParser.PdfFailure(msg) =>
        val st =
          if (msg == "truncated payload" || msg == "no content streams")
            Status.Corrupted
          else Status.Failed
        statusRow(url, st, Sniffer.MimePdf, msg)
    }
  }

  // ---------------------------------------------------------------- text

  private def extractPlainText(url: String, payload: Array[Byte],
      mime: String): Extracted = {
    val text = decode(payload).trim
    val spans =
      if (text.isEmpty) Vector.empty[Span]
      else Vector(Span("text", 0L, Boilerplate.utf8Len(text)))
    finish(url, mime, text, spans)
  }

  private def finish(url: String, mime: String, text: String, spans: Seq[Span],
      attachments: Seq[Attachment] = Nil): Extracted =
    finishBytes(url, mime, text.getBytes(StandardCharsets.UTF_8), spans, attachments)

  private def finishBytes(url: String, mime: String, bytes: Array[Byte], spans: Seq[Span],
      attachments: Seq[Attachment] = Nil): Extracted = {
    // post-extract invariants (conversion sanity check analog,
    // utils.py:394-407): span offsets within bounds and non-decreasing
    var ok = true
    var last = 0L
    spans.foreach { sp =>
      if (sp.start < 0 || sp.end < sp.start || sp.end > bytes.length || sp.start < last) ok = false
      last = sp.start
    }
    if (!ok)
      statusRow(url, Status.Failed, mime, "span validation failed")
    else
      Extracted(url, Status.Finished, mime, bytes, spans, bytes.length.toLong,
        null, Heuristics.Version, Sniffer.kindOf(mime), "", attachments)
  }
}
