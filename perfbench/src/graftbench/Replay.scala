package graftbench

import java.nio.charset.StandardCharsets
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.extract._

/** The extract layer measured from outside: replays a workload's winner
  * documents through the scalar core's public functions, in the order
  * `Extractor.extract` calls them, on plain threads, timing each call. The
  * same document then goes through `Extractor.extract` itself; its time
  * minus the layer calls is the dispatcher's self time. Each document is
  * extracted once untimed first, so neither timed pass pays for cold caches. */
object Replay {

  val Layers: Array[String] =
    Array("sniff", "decode", "html_parse", "boilerplate", "encode", "pdf", "office")
  private val Sniff = 0; private val Decode = 1; private val Parse = 2
  private val Boiler = 3; private val Encode = 4; private val Pdf = 5; private val Office = 6

  private val office: PartialFunction[String, Array[Byte] => OoxmlParser.Result] = {
    case Sniffer.MimeDocx => OoxmlParser.extractDocx
    case Sniffer.MimePptx => OoxmlParser.extractPptx
    case Sniffer.MimeXlsx => OoxmlParser.extractXlsx
    case Sniffer.MimeRtf => RtfParser.extract
    case Sniffer.MimeDoc => LegacyOffice.extractDoc
    case Sniffer.MimeXls => LegacyOffice.extractXls
    case Sniffer.MimePpt => LegacyOffice.extractPpt
    case m if m.startsWith("application/vnd.oasis.opendocument") ||
        m.startsWith("application/vnd.sun.xml") => OoxmlParser.extractOdt
  }

  /** Per-thread tallies; `calls` holds (doc, layer, start ns, end ns) with
    * layer -1 for the whole `Extractor.extract` call. */
  private final class Acc {
    val ns = new Array[Long](Layers.length)
    var docs, bytes, html, relaxed, extractNs = 0L
    val docNs = ArrayBuffer.empty[Long]
    val calls = ArrayBuffer.empty[(Long, Int, Long, Long)]
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def run(seed: Long, start: Long, rows: Long, versions: Int, threads: Int,
      spans: Spans, parent: Long): Map[String, Double] = {
    val accs = Array.fill(threads)(new Acc)
    val gc0 = gcMs()
    Corpus.forEachWinner(seed, start, rows, versions, threads) { (w, p) =>
      val a = accs(w)
      val doc = a.docs
      val b = if (p.html == null) Array.emptyByteArray else p.html
      Extractor.extract(p.url, b) // untimed: both timed passes see warm caches
      def timed[T](layer: Int)(f: => T): T = {
        val t0 = System.nanoTime(); val r = f; val t1 = System.nanoTime()
        a.ns(layer) += t1 - t0; a.calls += ((doc, layer, t0, t1)); r
      }
      def encode(s: String): Unit = timed(Encode)(s.getBytes(StandardCharsets.UTF_8))
      timed(Sniff)(Sniffer.sniff(b)) match {
        case Sniffer.MimeHtml =>
          a.html += 1
          val dom = timed(Parse)(HtmlParser.parse(timed(Decode)(Extractor.decode(b))))
          var res = timed(Boiler)(Boilerplate.extract(dom, relaxed = false))
          if (res.contentBlocks == 0 && res.totalWords > 10) {
            a.relaxed += 1
            res = timed(Boiler)(Boilerplate.extract(dom, relaxed = true))
          }
          if (!(res.contentBlocks == 0 && res.totalWords > 50)) encode(res.text)
        case Sniffer.MimePdf =>
          timed(Pdf)(PdfParser.parse(b)) match {
            case PdfParser.PdfText(text, _, _, _) => encode(text)
            case _ =>
          }
        case Sniffer.MimeText | Sniffer.MimeCsv =>
          encode(timed(Decode)(Extractor.decode(b)).trim)
        case m if office.isDefinedAt(m) =>
          timed(Office)(office(m)(b)) match {
            case OoxmlParser.OoxmlText(text, _) => encode(text)
            case _ =>
          }
        case _ =>
      }
      val t0 = System.nanoTime()
      Extractor.extract(p.url, b)
      val t1 = System.nanoTime()
      a.calls += ((doc, -1, t0, t1))
      a.extractNs += t1 - t0; a.docNs += t1 - t0
      a.docs += 1; a.bytes += b.length
    }
    val gc = gcMs() - gc0

    accs.zipWithIndex.foreach { case (a, w) =>
      val byDoc = a.calls.groupBy(_._1)
      byDoc.keys.toSeq.sorted.foreach { d =>
        val cs = byDoc(d)
        val docId = spans.add(parent, s"doc.worker$w", spans.usOf(cs.map(_._3).min), spans.usOf(cs.map(_._4).max))
        cs.foreach { case (_, layer, t0, t1) =>
          spans.add(docId, if (layer < 0) "Extractor.extract" else s"extract.${Layers(layer)}",
            spans.usOf(t0), spans.usOf(t1))
        }
      }
    }

    val docs = accs.map(_.docs).sum
    val layerMs = Layers.indices.map(l => accs.map(_.ns(l)).sum / 1e6)
    val busyMs = accs.map(_.extractNs).sum / 1e6
    val payloadMb = accs.map(_.bytes).sum / 1e6
    val docUs = accs.flatMap(_.docNs).sorted.map(_ / 1e3)
    def pct(p: Double) = docUs(math.min(docUs.length - 1, (p * docUs.length).toInt))
    Map(
      "extract.docs" -> docs.toDouble,
      "extract.payload_mb" -> payloadMb,
      "extract.busy_ms" -> busyMs,
      "extract.mb_per_s_core" -> payloadMb / (busyMs / 1e3),
      "extract.dispatch_ms" -> (busyMs - layerMs.sum),
      "extract.relaxed_retry_frac" -> accs.map(_.relaxed).sum.toDouble / math.max(1L, accs.map(_.html).sum),
      "extract.doc_p50_us" -> pct(0.5),
      "extract.doc_p99_us" -> pct(0.99),
      "extract.gc_ms" -> gc.toDouble) ++
      Layers.indices.map(l => s"extract.${Layers(l)}_ms" -> layerMs(l))
  }
}
