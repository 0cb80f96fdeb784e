package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.core.Heuristics
import graft.corpus.{GenGoldens, PagesGen}
import graft.extract.Extractor

/** Output checker. Every timed job's rows must be exactly the scalar
  * oracle's rows (one per distinct input url), must match the committed
  * goldens where the window covers them, and on seed 0 must hash to the
  * digest pinned below. */
object Checker {

  /** Expectation for one url from `fixtures/expected.tsv` and, for finished
    * rows, the hash of its `fixtures/golden` text. */
  final case class Golden(status: String, textBytes: Long, hash: Option[Long])

  /** Sorted-output digests of seed 0 at the workload's full size. They
    * catch a scalar-core change that the in-process oracle would share. A
    * deliberate heuristics or corpus change bumps one of these versions and
    * regenerates the goldens; the pins are then re-recorded with it. */
  val PinnedVersions: (String, String) = ("c16", "v6")
  val Pins: Map[String, String] = Map(
    "colocated" -> "dcfa9599a66307cec006c5aa564f4e686176f10dd341f7257cccd48c5abc134b",
    "recrawl" -> "65c5d53ca8cf0bcaec02f3a7687506ebe0e61ae87dc1c936eed082239f77083f")

  def pinFor(workload: String): Option[String] =
    if ((PagesGen.CorpusVersion, Heuristics.Version) == PinnedVersions) Pins.get(workload)
    else None

  def loadGoldens(repoRoot: String): Map[String, Golden] = {
    val lines = Files.readAllLines(Paths.get(repoRoot, "fixtures", "expected.tsv")).asScala
    require(lines.size > 1, "fixtures/expected.tsv is empty")
    lines.iterator.drop(1).map { line =>
      val f = line.split("\t", -1)
      val url = f(0)
      val hash =
        if (f(1) != "finished") None
        else Some(Corpus.xxh64(Files.readAllBytes(
          Paths.get(repoRoot, "fixtures", "golden", GenGoldens.sha256(url) + ".txt"))))
      url -> Golden(f(1), f(3).toLong, hash)
    }.toMap
  }

  /** The first defect, naming the first bad url in url order; None if the
    * rows are correct. */
  def check(actual: Seq[OutRow], expected: Map[String, OutRow],
      goldens: Map[String, Golden]): Option[String] = {
    val byUrl = actual.groupBy(_.url)
    def first(urls: Iterable[String]): Option[String] =
      if (urls.isEmpty) None else Some(urls.min)
    first(byUrl.collect { case (u, rs) if rs.size > 1 => u })
      .map(u => s"duplicated url $u (${byUrl(u).size} rows)")
      .orElse(first(expected.keySet -- byUrl.keySet).map(u => s"missing url $u"))
      .orElse(first(byUrl.keySet -- expected.keySet).map(u => s"unexpected url $u"))
      .orElse(first(byUrl.collect { case (u, Seq(r)) if r != expected(u) => u })
        .map(u => s"row for $u differs from the oracle: got ${byUrl(u).head}, want ${expected(u)}"))
      .orElse(first(goldens.collect {
        case (u, g) if byUrl.contains(u) && {
          val r = byUrl(u).head
          r.status != g.status || r.textBytes != g.textBytes || g.hash.exists(_ != r.hash)
        } => u
      }).map(u => s"row for $u differs from fixtures: got ${byUrl(u).head}, want ${goldens(u)}"))
  }

  def digest(rows: Seq[OutRow]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.sortBy(_.url).foreach { r =>
      md.update(s"${r.url}\t${r.tsMicros}\t${r.status}\t${r.textBytes}\t${r.hash}\n"
        .getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Plants each fault the checker must reject into a correct output of a
    * small four-version corpus (seed 0, rows 0-299, inside the golden
    * window) and returns (case, passed). */
  def selfTest(repoRoot: String, threads: Int): Seq[(String, Boolean)] = {
    val versions = 4
    val expected = Corpus.oracle(0L, 0L, 300L, versions, threads)
    val goldens = loadGoldens(repoRoot)
    val good = expected.values.toVector.sortBy(_.url)
    val idx = 5L // an html-clean row: finished, with text, golden-covered
    val url = PagesGen.url(idx)
    val victim = expected(url)
    def rejects(rows: Seq[OutRow]) = check(rows, expected, goldens).exists(_.contains(url))

    val text = Extractor.extract(url, PagesGen.page(idx).html).text.clone()
    text(text.length / 2) = (text(text.length / 2) ^ 1).toByte
    val older = Corpus.outRow(Corpus.version(0L, idx, 1))
    def replaced(r: OutRow) = good.map(g => if (g.url == url) r else g)
    Seq(
      "correct output passes" -> check(good, expected, goldens).isEmpty,
      "victim is finished and golden-covered" ->
        (victim.status == "finished" && goldens.get(url).exists(_.hash.isDefined)),
      "dropped url rejected" -> rejects(good.filterNot(_.url == url)),
      "duplicated url rejected" -> rejects(good :+ victim),
      "flipped text byte rejected" -> rejects(replaced(victim.copy(hash = Corpus.xxh64(text)))),
      "older version as winner rejected" -> rejects(replaced(older)))
  }
}
