package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.CorpusWriter
import graft.pipeline.ExtractPipeline
import graft.table.SnapshotTable

/** Snapshot commit / idempotent resume / orphan GC (SURVEY.md §7 M3). */
class SnapshotTableSpec extends AnyFunSuite {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-snap").toString

  test("commit then read returns committed rows; chain appends") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(tmpDir())
    assert(t.currentSnapshotId.isEmpty && t.read(spark).isEmpty)
    val id0 = t.commit(Seq(("a", 1L), ("b", 2L)).toDF("url", "v"))
    assert(id0 == 0 && t.currentSnapshotId.contains(0L))
    assert(t.read(spark).get.count() == 2)
    val id1 = t.commit(Seq(("c", 3L)).toDF("url", "v"))
    assert(id1 == 1 && t.read(spark).get.count() == 3)
    assert(t.snapshotChain == Seq(1L, 0L))
  }

  test("runAndCommit is idempotent: second run is a no-op") {
    val spark = TestSpark.spark
    val root = tmpDir()
    val pages = CorpusWriter.pagesDs(spark, 120L, partitions = 3)
    val id = ExtractPipeline.runAndCommit(spark, pages, root,
      ExtractPipeline.Config(partitions = 4))
    assert(id == 0L)
    val again = ExtractPipeline.runAndCommit(spark, pages, root,
      ExtractPipeline.Config(partitions = 4))
    assert(again == -1L, "all urls already committed -> nothing to do")
    val t = new SnapshotTable(root)
    assert(t.read(spark).get.select("url").distinct().count() ==
      ExtractPipeline.dedupLatest(pages).count())
  }

  test("resume after partial commit completes to the single-run result") {
    val spark = TestSpark.spark
    val root = tmpDir()
    val pages = CorpusWriter.pagesDs(spark, 150L, partitions = 3)
    // simulate a partial first run: only a third of the input was committed
    val firstHalf = pages.where(pmod(xxhash64(col("url")), lit(3)) === 0)
    val id0 = ExtractPipeline.runAndCommit(spark, firstHalf, root,
      ExtractPipeline.Config(partitions = 4))
    assert(id0 == 0L)
    // resume with the full input: only the remainder is extracted + appended
    val id1 = ExtractPipeline.runAndCommit(spark, pages, root,
      ExtractPipeline.Config(partitions = 4))
    assert(id1 == 1L)
    val t = new SnapshotTable(root)
    val resumed = t.read(spark).get
      .select("url", "status", "textBytes").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // reference: one clean run into a fresh table
    val fresh = tmpDir()
    ExtractPipeline.runAndCommit(spark, pages, fresh,
      ExtractPipeline.Config(partitions = 4))
    val single = new SnapshotTable(fresh).read(spark).get
      .select("url", "status", "textBytes").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(resumed == single)
    // counters sidecars exist per snapshot
    assert(Files.exists(java.nio.file.Paths.get(root, "_counters", "snap-0")))
    assert(Files.exists(java.nio.file.Paths.get(root, "_counters", "snap-1")))
  }

  test("compact folds the chain into one base snapshot; history expires") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(tmpDir())
    t.commit(Seq(("a", 1L), ("b", 2L)).toDF("url", "v"))
    t.commit(Seq(("c", 3L)).toDF("url", "v"))
    t.commit(Seq(("d", 4L)).toDF("url", "v"))
    assert(t.snapshotChain.length == 3)
    val id = t.compact(spark)
    assert(t.snapshotChain == Seq(id), "single base snapshot after compact")
    val rows = t.read(spark).get.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows == Set(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L)))
    // old data dirs are gone
    val dataDirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(t.root, "data")).count()
    assert(dataDirs == 1)
    // appends continue from the compacted base
    t.commit(Seq(("e", 5L)).toDF("url", "v"))
    assert(t.read(spark).get.count() == 5)
  }

  test("compact keeps the head's meta: a text-format chain stays text-only") {
    val spark = TestSpark.spark
    val root = tmpDir()
    val pages = CorpusWriter.pagesDs(spark, 60L, partitions = 2)
    val text = ExtractPipeline.Config(partitions = 2, conversionFormat = "text")
    val half = pages.where(pmod(xxhash64(col("url")), lit(2)) === 0)
    assert(ExtractPipeline.runAndCommit(spark, half, root, text) == 0L)
    val t = new SnapshotTable(root)
    val id = t.compact(spark, Map("compactedBy" -> "test"))
    val meta = t.readManifest(id).meta
    assert(meta("conversionFormat") == "text" && meta("compactedBy") == "test")
    // a default-format (spans) extract must still be refused ...
    val e = intercept[IllegalArgumentException] {
      ExtractPipeline.runAndCommit(spark, pages, root, ExtractPipeline.Config(partitions = 2))
    }
    assert(e.getMessage.contains("conversionFormat=text"))
    // ... and a further text-format extract appends the rest
    assert(ExtractPipeline.runAndCommit(spark, pages, root, text) == id + 1)
    assert(t.read(spark).get.select("url").distinct().count() ==
      ExtractPipeline.dedupLatest(pages).count())
  }

  test("compact of a stream-curated table keeps streamBatch on the head") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(tmpDir())
    // the meta stream-curate commits each micro-batch with
    Seq(0, 1, 2).foreach { b =>
      t.commit(Seq((s"u$b", b.toLong)).toDF("url", "v"),
        Map("job" -> "stream-curate", "streamBatch" -> b.toString, "options" -> "cap=3"))
    }
    val id = t.compact(spark)
    assert(t.readManifest(id).meta ==
      Map("job" -> "stream-curate", "streamBatch" -> "2", "options" -> "cap=3"))
  }

  test("commitReplace swaps the whole table atomically; failure keeps the old one") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(tmpDir())
    t.commit(Seq(("a", 1L), ("b", 2L)).toDF("url", "v"))
    // replace: the new content is the WHOLE table (no union with snap-0)
    val id = t.commitReplace(Seq(("c", 3L)).toDF("url", "v"),
      meta = Map("job" -> "curate"))
    assert(id == 1L && t.snapshotChain == Seq(1L))
    assert(t.read(spark).get.collect().map(_.getString(0)).toSeq == Seq("c"))
    assert(t.readManifest(1L).meta("job") == "curate")
    // old base is swept (data + manifest)
    assert(!Files.exists(java.nio.file.Paths.get(t.root, "data", "snap-0")))
    // a KILLED replace (write throws mid-job) must leave the committed
    // table fully readable: no manifest, CURRENT untouched, only orphans
    val boom = spark.range(10).select(col("id").cast("string").as("url"),
      when(col("id") < 5, col("id"))
        .otherwise(raise_error(lit("mid-write failure")).cast("long")).as("v"))
    intercept[Exception] { t.commitReplace(boom) }
    assert(t.currentSnapshotId.contains(1L), "CURRENT must be untouched")
    assert(t.read(spark).get.collect().map(_.getString(0)).toSeq == Seq("c"))
    t.sweepOrphans()
    assert(t.read(spark).get.count() == 1)
  }

  test("binaryFile ingest produces pages-shaped rows the pipeline accepts") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-raw")
    java.nio.file.Files.write(dir.resolve("a.html"),
      "<html><body><p>Ingested raw file with enough words to pass the classifier thresholds easily here.</p></body></html>".getBytes)
    java.nio.file.Files.write(dir.resolve("b.bin"), Array[Byte](0, 1, 2, 3))
    val pages = graft.sources.Ingest.fromBinaryFiles(spark, dir.toString)
    assert(pages.columns.toSeq ==
      Seq("url", "warc_ts", "html", "text", "lang"))
    val out = ExtractPipeline.run(pages, ExtractPipeline.Config(partitions = 2))
      .collect().map(e => e.url.split("/").last -> e.status).toMap
    assert(out("a.html") == "finished")
    assert(out("b.bin") == "corrupted")
  }

  test("meta guard treats a pre-upgrade chain (no key) as the default") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(tmpDir())
    // commit WITHOUT the conversionFormat key (a pre-upgrade manifest)
    t.commit(Seq(("a", 1L)).toDF("url", "v"))
    // same-as-default value passes
    t.requireMetaConsistent("conversionFormat", "spans", defaultForMissing = "spans")
    // a different projection must be refused, not silently accepted
    val e = intercept[IllegalArgumentException] {
      t.requireMetaConsistent("conversionFormat", "text", defaultForMissing = "spans")
    }
    assert(e.getMessage.contains("conversionFormat"))
    // without a default the missing key still skips (generic keys)
    t.requireMetaConsistent("someOtherKey", "anything")
  }

  test("manifest meta round-trips any string, and the meta guard sees it") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(tmpDir())
    val meta = Map(
      "sourceRoot" -> "/data/run{1}/\"x\"\\y",
      "options" -> "block=a}.test,{b\ncap=\"3\"\t\\",
      "conversionFormat" -> "spans",
      "z" -> "plain",
      "{\"odd key\\}" -> "")
    val id = t.commit(Seq(("a", 1L)).toDF("url", "v"), meta)
    val m = t.readManifest(id)
    assert(m.meta == meta)
    assert(m.id == id && m.parentId == -1L && m.rowCount == 1L && m.files.nonEmpty)
    val e = intercept[IllegalArgumentException] {
      t.requireMetaConsistent("conversionFormat", "text", defaultForMissing = "spans")
    }
    assert(e.getMessage.contains("conversionFormat=spans"))
  }

  test("a manifest in the earlier hand-rolled on-disk format still reads") {
    val t = new SnapshotTable(tmpDir())
    val dir = Files.createDirectories(java.nio.file.Paths.get(t.root, "manifests"))
    // byte-for-byte what the earlier writer produced: it escaped only `\`
    // and `"`, so a newline in a value was written raw
    Files.write(dir.resolve("snap-0.json"),
      ("{\"id\": 0, \"parentId\": -1, \"rowCount\": 2,\n" +
        " \"files\": [\"part-00000-a.parquet\", \"part-00001-b.parquet\"],\n" +
        " \"meta\": {\"conversionFormat\": \"spans\", \"job\": \"extract\"}}").getBytes("UTF-8"))
    Files.write(dir.resolve("snap-1.json"),
      ("{\"id\": 1, \"parentId\": 0, \"rowCount\": 0,\n" +
        " \"files\": [],\n" +
        " \"meta\": {\"options\": \"a\nb\", \"path\": \"C:\\\\x \\\"q\\\"\"}}").getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(t.root, "CURRENT"), "1".getBytes("UTF-8"))
    assert(t.readManifest(0L) == t.Manifest(0L, -1L,
      Seq("part-00000-a.parquet", "part-00001-b.parquet"), 2L,
      Map("conversionFormat" -> "spans", "job" -> "extract")))
    assert(t.readManifest(1L) == t.Manifest(1L, 0L, Nil, 0L,
      Map("options" -> "a\nb", "path" -> "C:\\x \"q\"")))
    assert(t.snapshotChain == Seq(1L, 0L))
  }

  test("sidecars commit with their snapshot: a failed sidecar publishes nothing") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(tmpDir())
    def path(parts: String*) = java.nio.file.Paths.get(t.root, parts: _*)
    val perUrl = (df: org.apache.spark.sql.DataFrame) => Map("_x" -> df.groupBy("url").count())
    t.commit(Seq(("a", 1L)).toDF("url", "v"), sidecars = perUrl)
    val next = Seq(("b", 1L), ("c", 2L)).toDF("url", "v")
    // the sidecar fails mid-write, after the data write succeeded
    val boom = (df: org.apache.spark.sql.DataFrame) => Map("_x" -> df.select(col("url"),
      when(col("v") < 2, col("v")).otherwise(raise_error(lit("mid-write failure")).cast("long"))))
    intercept[Exception] { t.commit(next, sidecars = boom) }
    assert(t.currentSnapshotId.contains(0L) && t.snapshotChain == Seq(0L))
    assert(t.read(spark).get.collect().map(_.getString(0)).toSeq == Seq("a"))
    assert(!Files.exists(path("_x", "snap-1")) ||
      Files.walk(path("_x", "snap-1")).noneMatch(_.toString.endsWith(".parquet")))
    // the cleaner takes the debris and names it; it never enters _checkpoints
    Files.createDirectories(path("_x", "snap-99"))
    Files.createDirectories(path("_checkpoints", "snap-7"))
    val removed = t.sweepOrphans()
    assert(removed.contains("snap-1") && removed.contains("_x/snap-99"), removed)
    assert(!Files.exists(path("_x", "snap-99")) && !Files.exists(path("_x", "snap-1")))
    assert(Files.exists(path("_checkpoints", "snap-7")) && Files.exists(path("_x", "snap-0")))
    // a retry commits the same id, with its sidecar
    assert(t.commit(next, sidecars = perUrl) == 1L && t.snapshotChain == Seq(1L, 0L))
    assert(t.readSidecar(spark, "_x", 1L).get.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("b", "c"))
  }

  test("sweepOrphans removes data dirs with no manifest (crashed commit)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = new SnapshotTable(tmpDir())
    t.commit(Seq(("a", 1L)).toDF("url", "v"))
    // orphan: data written but manifest/CURRENT never updated
    val orphan = java.nio.file.Paths.get(t.root, "data", "snap-99")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("junk.parquet"), Array[Byte](1, 2, 3))
    val removed = t.sweepOrphans()
    assert(removed == Seq("snap-99"))
    assert(!Files.exists(orphan))
    assert(t.read(spark).get.count() == 1)
  }
}
