package graftbench

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

import graft.core.Page
import graft.corpus.{PagesGen, Rng}
import graft.extract.Extractor

/** One checked output row per url: what a timed job must reproduce. */
final case class OutRow(url: String, tsMicros: Long, status: String, textBytes: Long, hash: Long)

/** Benchmark inputs, a pure function of (seed, row index, version), and the
  * plain-Scala oracle over them. Nothing here touches Spark's execution. */
object Corpus {

  /** Rows come in blocks of 100: the category mix repeats per block and the
    * dup-url pair (rows 83/84) never straddles two blocks. */
  val Block = 100L

  private val DayMs = 86400000L

  /** First row of a seed's window. A multiple of the window size (itself a
    * multiple of 100), so every window has the same category mix; seed 0
    * starts at row 0, which the committed goldens cover. */
  def windowStart(seed: Long, rows: Long): Long = Math.floorMod(seed, 10000L) * rows

  /** Same xxhash64 (seed 42) Spark's `xxhash64(binary)` computes. */
  def xxh64(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)

  def micros(ts: Timestamp): Long = ts.getTime * 1000L + (ts.getNanos / 1000) % 1000

  /** Version `v` of row `idx`. Version 0 is exactly `PagesGen.page(idx)`.
    * An older version keeps the url, is crawled `v` days earlier and carries
    * the payload of another row of the same category (same row mod 100),
    * picked by the seed. */
  def version(seed: Long, idx: Long, v: Int): Page =
    if (v == 0) PagesGen.page(idx)
    else {
      val r = Rng.forRow(seed ^ 0x5eedL, idx)
      var k = 0L
      (0 until v).foreach(_ => k = 1 + Math.floorMod(r.nextLong(), 1000L))
      val donor = PagesGen.page(idx + Block * k)
      Page(PagesGen.url(idx), new Timestamp(PagesGen.warcTs(idx).getTime - v * DayMs),
        donor.html, donor.text, donor.lang)
    }

  /** Last-write-wins winner by the pipeline's order: (warc_ts, xxhash64(html))
    * descending, null html hashing as the empty payload. */
  def winner(versions: Seq[Page]): Page = versions.maxBy { p =>
    (micros(p.warc_ts), xxh64(if (p.html == null) Array.emptyByteArray else p.html))
  }

  /** Calls `f(worker, winnerPage)` for every distinct url of rows
    * [start, start + rows), each with `versions` versions, on `threads`
    * plain threads. Blocks of 100 rows are handed out in order. */
  def forEachWinner(seed: Long, start: Long, rows: Long, versions: Int, threads: Int)(
      f: (Int, Page) => Unit): Unit = {
    val next = new AtomicLong(start)
    val end = start + rows
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val workers = (0 until threads).map { w =>
      val t = new Thread(() => {
        try {
          var b = next.getAndAdd(Block)
          while (b < end && failure.get() == null) {
            (b until math.min(b + Block, end))
              .flatMap(i => (0 until versions).map(v => version(seed, i, v)))
              .groupBy(_.url).valuesIterator.map(winner)
              .toSeq.sortBy(_.url).foreach(p => f(w, p))
            b = next.getAndAdd(Block)
          }
        } catch { case e: Throwable => failure.compareAndSet(null, e) }
      }, s"perfbench-worker-$w")
      t.start(); t
    }
    workers.foreach(_.join())
    if (failure.get() != null) throw failure.get()
  }

  def outRow(p: Page): OutRow = {
    val e = Extractor.extract(p.url, if (p.html == null) Array.emptyByteArray else p.html)
    OutRow(p.url, micros(p.warc_ts), e.status, e.textBytes, xxh64(e.text))
  }

  /** The scalar oracle: url -> expected row, by `Extractor.extract` over each
    * url's last-write-wins winner. */
  def oracle(seed: Long, start: Long, rows: Long, versions: Int, threads: Int): Map[String, OutRow] = {
    val parts = Array.fill(threads)(Vector.newBuilder[OutRow])
    forEachWinner(seed, start, rows, versions, threads)((w, p) => parts(w) += outRow(p))
    parts.iterator.flatMap(_.result()).map(r => r.url -> r).toMap
  }
}
