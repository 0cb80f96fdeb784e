package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.CorpusWriter
import graft.streaming.StreamingExtract
import graft.table.SnapshotTable

/** Structured Streaming extraction: micro-batch processing, exactly-once
  * resume from checkpoint, watermarked url dedup. */
class StreamingSpec extends AnyFunSuite {

  test("file-stream extraction processes batches incrementally with dedup state") {
    val spark = TestSpark.spark
    val in = Files.createTempDirectory("graft-stream-in").toString
    val out = Files.createTempDirectory("graft-stream-out").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString

    // batch 1: rows 0..99 (one parquet file)
    CorpusWriter.pagesDs(spark, 100L, partitions = 1)
      .write.mode("append").parquet(in)

    val q1 = StreamingExtract.start(spark, in, out, ckpt)
    q1.processAllAvailable()
    q1.stop()
    val after1 = spark.read.parquet(out)
    val urls1 = after1.select("url").distinct().count()
    assert(after1.count() == urls1, "stream dedup: one row per url")
    assert(urls1 > 90)

    // batch 2: rows 0..199 re-written — first 100 urls are duplicates and
    // must be dropped by the state store after restart from checkpoint
    CorpusWriter.pagesDs(spark, 200L, partitions = 1)
      .write.mode("append").parquet(in)
    val q2 = StreamingExtract.start(spark, in, out, ckpt)
    q2.processAllAvailable()
    q2.stop()

    val result = spark.read.parquet(out)
    val expectedUrls = (0L until 200L).map(graft.corpus.PagesGen.url).distinct.size
    assert(result.select("url").distinct().count() == expectedUrls)
    assert(result.count() == expectedUrls,
      "duplicate urls across batches must be dropped by checkpointed state")
    assert(result.where(col("status") === "finished").count() > 0)
  }

  test("url-dedup modes: Global keeps backfills with growing state; Bounded evicts state but drops late rows") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def writeBatch(dir: String, ids: Range, tsBase: Long): Unit =
      ids.map(i => (s"https://h.test/u$i",
          new java.sql.Timestamp(tsBase + i * 1000L),
          s"payload number $i with words".getBytes("UTF-8"),
          null: String, "en"))
        .toDF("url", "warc_ts", "html", "text", "lang").repartition(1)
        .write.mode("append").parquet(dir)
    val base = 1735689600000L
    def run(mode: StreamingExtract.UrlDedup): Int = {
      val in = Files.createTempDirectory("graft-wm-in").toString
      val out = Files.createTempDirectory("graft-wm-out").toString
      val ckpt = Files.createTempDirectory("graft-wm-ck").toString
      writeBatch(in, 0 until 30, base + 7200 * 1000L) // recent: sets watermark
      val q1 = StreamingExtract.start(spark, in, out, ckpt, urlDedup = mode)
      q1.processAllAvailable(); q1.stop()
      writeBatch(in, 100 until 130, base) // LATE backfill (T-2h vs watermark)
      writeBatch(in, 0 until 10, base + 7200 * 1000L) // dups within horizon
      val q2 = StreamingExtract.start(spark, in, out, ckpt, urlDedup = mode)
      q2.processAllAvailable(); q2.stop()
      val urls = spark.read.parquet(out).select("url").collect().map(_.getString(0))
      assert(urls.length == urls.distinct.length, "dedup must hold in both modes")
      urls.length
    }
    val globalRows = run(StreamingExtract.UrlDedup.Global)
    assert(globalRows == 60, s"Global: 30 recent + 30 late backfill: $globalRows")
    val boundedRows = run(StreamingExtract.UrlDedup.Bounded)
    assert(boundedRows == 30, s"Bounded: late backfill hard-dropped: $boundedRows")
  }

  test("streaming curate: hygiene chain runs per micro-batch via foreachBatch") {
    val spark = TestSpark.spark
    val in = Files.createTempDirectory("graft-scur-in").toString
    val out = Files.createTempDirectory("graft-scur-out").toString
    val ckpt = Files.createTempDirectory("graft-scur-ckpt").toString
    CorpusWriter.pagesDs(spark, 120L, partitions = 1)
      .write.mode("append").parquet(in)
    val q = StreamingExtract.startCurated(spark, in, out, ckpt,
      graft.pipeline.CurateOptions(cap = 1000, paraMaxDocs = 2,
        block = Seq("example-3.test")))
    q.processAllAvailable()
    // second batch -> its own snapshot
    CorpusWriter.pagesDs(spark, 240L, partitions = 1)
      .write.mode("append").parquet(in)
    q.processAllAvailable()
    q.stop()
    val table = new SnapshotTable(out)
    val cur = table.read(spark).get
    assert(cur.count() > 0)
    // the per-row hygiene stages hold exactly as in the batch job
    assert(cur.where(col("domain") === "example-3.test").count() == 0)
    assert(cur.where(col("text").rlike(graft.ops.TextStats.EmailPat)).count() == 0)
    assert(cur.columns.contains("warc_ts") && cur.columns.contains("n_emails"))
    // cross-batch url dedup held: no url appears in two snapshots
    val urls = cur.select("url").collect().map(_.getString(0))
    assert(urls.length == urls.distinct.length)
    assert(table.readManifest(table.currentSnapshotId.get).meta ==
      Map("job" -> "stream-curate", "streamBatch" -> "1",
        "options" -> "block=example-3.test para-dedup=2"))
    // replay: the checkpoint loses its last commit entry, so the restarted
    // query re-runs batch 1; the table already holds it and skips it
    def countsOfHead = table.readSidecar(spark, "_counts", table.currentSnapshotId.get).get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (rowsBefore, chainBefore, countsBefore) = (cur.count(), table.snapshotChain, countsOfHead)
    Seq("1", ".1.crc").foreach(f => Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", f)))
    val replay = StreamingExtract.startCurated(spark, in, out, ckpt,
      graft.pipeline.CurateOptions(cap = 1000, paraMaxDocs = 2,
        block = Seq("example-3.test")))
    replay.processAllAvailable()
    replay.stop()
    assert(Files.exists(java.nio.file.Paths.get(ckpt, "commits", "1")), "batch 1 was re-run")
    assert(table.read(spark).get.count() == rowsBefore)
    assert(table.snapshotChain == chainBefore && countsOfHead == countsBefore)
  }

  test("streaming curate: per-domain cap holds ACROSS micro-batches") {
    val spark = TestSpark.spark
    val in = Files.createTempDirectory("graft-xcap-in").toString
    val out = Files.createTempDirectory("graft-xcap-out").toString
    val ckpt = Files.createTempDirectory("graft-xcap-ckpt").toString
    // batch 1: rows 0..119; batch 2: DIFFERENT rows 120..359 of the same
    // 7 domains — with a per-batch cap each batch would admit up to 3 per
    // domain again; the cross-batch counts table must stop at 3 total
    import spark.implicits._
    def pagesSlice(from: Long, until: Long) = spark
      .createDataset((from until until).map(graft.corpus.PagesGen.page))
      .toDF().repartition(1)
    pagesSlice(0, 120).write.mode("append").parquet(in)
    val q = StreamingExtract.startCurated(spark, in, out, ckpt,
      graft.pipeline.CurateOptions(cap = 3))
    q.processAllAvailable()
    val table = new SnapshotTable(out)
    val afterB1 = table.read(spark).get
      .groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(afterB1.values.forall(_ <= 3), afterB1)
    pagesSlice(120, 360).write.mode("append").parquet(in)
    q.processAllAvailable()
    q.stop()
    def perDomainNow = table.read(spark).get
      .groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perDomain = perDomainNow
    assert(perDomain.nonEmpty)
    perDomain.foreach { case (d, n) =>
      assert(n <= 3, s"domain $d exceeded the cross-batch cap: $n")
    }
    // a domain already full after batch 1 admitted NOTHING in batch 2
    afterB1.filter(_._2 == 3L).keys.foreach { d =>
      assert(perDomain(d) == 3L, s"full domain $d grew: ${perDomain(d)}")
    }
    // the counts table snapshots are cumulative and atomic-committed
    def countsOf(id: Long) = table.readSidecar(spark, "_counts", id).get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = countsOf(1L)
    assert(counts == perDomain, s"counts $counts != output $perDomain")
    // compact drops the _counts sidecar; batch 3 (new rows, same domains)
    // re-derives the counts from the table and the cap still holds
    val headBatch = table.readManifest(table.currentSnapshotId.get).meta("streamBatch")
    val compacted = table.compact(spark)
    // the new base keeps the chain's replay guard
    assert(table.readManifest(compacted).meta.get("streamBatch").contains(headBatch))
    pagesSlice(360, 480).write.mode("append").parquet(in)
    val q3 = StreamingExtract.startCurated(spark, in, out, ckpt,
      graft.pipeline.CurateOptions(cap = 3))
    q3.processAllAvailable()
    q3.stop()
    assert(table.snapshotChain == Seq(compacted + 1, compacted))
    val afterB3 = perDomainNow
    afterB3.foreach { case (d, n) =>
      assert(n <= 3, s"domain $d exceeded the cap across compaction: $n")
    }
    perDomain.filter(_._2 == 3L).keys.foreach(d => assert(afterB3(d) == 3L, d))
    assert(countsOf(compacted + 1) == afterB3)
    // the stream-curated table is an ordinary snapshot table downstream
    val mixDir = Files.createTempDirectory("graft-xcap-mix").toString
    assert(graft.pipeline.MixJob.run(spark, out, mixDir,
      graft.pipeline.MixOptions(sampleDefault = 0.5)).isDefined)
  }

  test("mapGroupsWithState: per-host running state accumulates across batches") {
    val spark = TestSpark.spark
    val in = Files.createTempDirectory("graft-stream-in3").toString
    CorpusWriter.pagesDs(spark, 70L, partitions = 1).write.mode("append").parquet(in)
    val stats = StreamingExtract.hostStats(StreamingExtract.pagesStream(spark, in))
    val q = stats.writeStream.format("memory").queryName("graft_hosts")
      .outputMode("update").start()
    q.processAllAvailable()
    // second batch: counts must ACCUMULATE in state, not reset
    CorpusWriter.pagesDs(spark, 140L, partitions = 1).write.mode("append").parquet(in)
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "select host, max(docs) docs from graft_hosts group by host").collect()
    assert(rows.nonEmpty)
    // 70 + 140 rows over 7 hosts -> 30 docs per host after both batches
    assert(rows.map(_.getAs[Long]("docs")).sum == 210L)
    // 7 distinct hosts; since c13 five carry PSL-exercising shapes, but
    // every host name still embeds its example-N marker
    assert(rows.forall(_.getAs[String]("host").contains("example-")))
  }

  test("windowed status counts run as a streaming aggregation") {
    val spark = TestSpark.spark
    val in = Files.createTempDirectory("graft-stream-in2").toString
    CorpusWriter.pagesDs(spark, 100L, partitions = 1)
      .write.mode("append").parquet(in)
    val agg = StreamingExtract.windowedStatusCounts(spark, in)
    val q = agg.writeStream.format("memory").queryName("graft_counts")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("select * from graft_counts").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("docs")).sum == 100L)
  }
}
