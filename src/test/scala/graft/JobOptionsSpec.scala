package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.ExtractPipeline.Config
import graft.pipeline.JobOptions

/** Option-validation matrix (set_options analog, utils.py:45-96): the
  * expectation-table-as-code for every accept/reject rule. */
class JobOptionsSpec extends AnyFunSuite {

  /** The extract job's trailing args, with a default partition count of 7. */
  private def parse(args: String*) = JobOptions.parseExtract(args, defaultPartitions = 7)

  test("defaults: empty options validate to spans/v3/no thumbnails") {
    assert(parse() == Right(Config(partitions = 7, conversionFormat = "spans",
      outputPdfVersion = "3", thumbnails = None)))
  }

  test("conversion-format=text commits a text-only projection") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-fmt").toString
    val pages = graft.corpus.CorpusWriter.pagesDs(spark, 120L, partitions = 3)
    val id = graft.pipeline.ExtractPipeline.runAndCommit(spark, pages, dir,
      graft.pipeline.ExtractPipeline.Config(partitions = 4, conversionFormat = "text"))
    assert(id >= 0)
    val committed = new graft.table.SnapshotTable(dir).read(spark).get
    val cols = committed.columns.toSet
    assert(!cols.contains("spans") && !cols.contains("attachments"), cols)
    assert(cols.contains("text") && cols.contains("status"))
    // appending a different projection to the same chain must be refused
    val more = graft.corpus.CorpusWriter.pagesDs(spark, 240L, partitions = 3)
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.ExtractPipeline.runAndCommit(spark, more, dir,
        graft.pipeline.ExtractPipeline.Config(partitions = 4, conversionFormat = "spans"))
    }
    assert(e.getMessage.contains("conversionFormat"))
  }

  test("conversion-format: implemented formats only, rejected otherwise") {
    assert(parse("conversion-format=spans").isRight)
    assert(parse("conversion-format=text") ==
      Right(Config(partitions = 7, conversionFormat = "text")))
    // unimplemented/unknown formats are rejected up front (accepting a
    // format the pipeline cannot produce would poison the chain meta)
    Seq("pdfa", "docx", "").foreach { f =>
      val bad = parse(s"conversion-format=$f")
      assert(bad.isLeft && bad.swap.exists(_.contains("not a supported conversion format")), f)
    }
  }

  test("output-pdf-version: 1|2|3 only (the reference's exact rule)") {
    Seq("1", "2", "3").foreach { v =>
      assert(parse(s"output-pdf-version=$v") ==
        Right(Config(partitions = 7, outputPdfVersion = v)))
    }
    Seq("0", "4", "2.0", "", "two").foreach { v =>
      assert(parse(s"output-pdf-version=$v") ==
        Left("Invalid 'output_pdf_version' value. Allowed are 1, 2 and 3"), v)
    }
  }

  test("thumbnails: WxH with positive ints; everything else is a 400") {
    assert(parse("thumbnails=120x80") ==
      Right(Config(partitions = 7, thumbnails = Some((120, 80)))))
    Seq("120", "x", "120x", "x80", "0x80", "120x-1", "axb", "1x2x3").foreach { t =>
      assert(parse(s"thumbnails=$t") ==
        Left("Invalid 'size' value"), t)
    }
  }

  test("unknown keys and malformed args rejected") {
    assert(parse("via-allowed-users=x").isLeft)
    assert(parse("novalue").isLeft)
    assert(parse("output-pdf-version=2", "thumbnails=8x8") ==
      Right(Config(partitions = 7, outputPdfVersion = "2", thumbnails = Some((8, 8)))))
  }

  test("a repeated key is rejected, not resolved to its last value") {
    assert(parse("output-pdf-version=1", "output-pdf-version=3") ==
      Left("option 'output-pdf-version' given more than once"))
    assert(parse("thumbnails=8x8", "conversion-format=text", "thumbnails=8x8").isLeft)
  }

  test("[partitions]: at most one positive integer, in any position") {
    assert(parse("12") == Right(Config(partitions = 12)))
    assert(parse("thumbnails=8x8", "12") ==
      Right(Config(partitions = 12, thumbnails = Some((8, 8)))))
    Seq("abc", "0", "-3", "2.5", "99999999999").foreach { p =>
      assert(parse(p) == Left(s"partitions must be a positive integer: '$p'"), p)
    }
    assert(parse("4", "8").isLeft)
    assert(parse("4", "conversion-format=text", "abc").isLeft)
  }

  test("the default partition count is read only when every check passed") {
    var reads = 0
    def counted = { reads += 1; 5 }
    assert(JobOptions.parseExtract(Seq("thumbnails=0x0"), counted).isLeft)
    assert(JobOptions.parseExtract(Seq("3"), counted) == Right(Config(partitions = 3)))
    assert(reads == 0)
    assert(JobOptions.parseExtract(Nil, counted) == Right(Config(partitions = 5)))
    assert(reads == 1)
  }

  test("split: the one key=value contract, first violation wins") {
    val keys = Set("a", "b")
    assert(JobOptions.split(Seq("a=1", "b=x=y", "a-not"), keys) ==
      Left("not a key=value option: 'a-not'"))
    assert(JobOptions.split(Seq("a=1", "b=x=y"), keys) ==
      Right(Map("a" -> "1", "b" -> "x=y")))
    assert(JobOptions.split(Seq("a="), keys) == Right(Map("a" -> "")))
    assert(JobOptions.split(Seq("c=1", "a=1", "a=2"), keys) ==
      Left("unknown option 'c' (expected a=, b=)"))
    assert(JobOptions.split(Seq("a=1", "a=2", "c=1"), keys) ==
      Left("option 'a' given more than once"))
  }

  test("thumbnails option produces a sized artifact sidecar end-to-end") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-thumb").toString
    val pages = graft.corpus.CorpusWriter.pagesDs(spark, 120L, partitions = 3)
    val id = graft.pipeline.ExtractPipeline.runAndCommit(spark, pages, dir,
      graft.pipeline.ExtractPipeline.Config(partitions = 4,
        thumbnails = Some((24, 16))))
    assert(id >= 0)
    val thumbs = spark.read.parquet(s"$dir/_thumbnails/snap-$id").collect()
    val finished = new graft.table.SnapshotTable(dir).read(spark).get
      .where(org.apache.spark.sql.functions.col("status") === "finished").count()
    assert(thumbs.length.toLong == finished && finished > 0)
    thumbs.foreach { r =>
      assert(r.getAs[Int]("width") == 24 && r.getAs[Int]("height") == 16)
      val png = r.getAs[Array[Byte]]("png")
      // a real PNG: signature + IHDR dims round-trip through the header parser
      assert(graft.ops.Multimodal.pngDims(png) == ((24, 16)))
      assert(graft.extract.Sniffer.sniff(png) == "image/png")
    }
    // thumbnails are deterministic per url (content-seeded pixels)
    val again = graft.ops.Thumbnails.generate(
      graft.pipeline.ExtractPipeline.run(pages,
        graft.pipeline.ExtractPipeline.Config(partitions = 4)), 24, 16)
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](3).toSeq).toMap
    val first = thumbs.map(r => r.getString(0) -> r.getAs[Array[Byte]]("png").toSeq).toMap
    assert(again == first)
  }

  test("attachment policy follows the validated pdf version end-to-end") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    // pages rows 66-68 are pdf-attachments categories
    val pages = graft.corpus.CorpusWriter.pagesDs(spark, 100L, partitions = 4)
    def attCount(version: String): Long =
      graft.pipeline.ExtractPipeline.run(pages,
          graft.pipeline.ExtractPipeline.Config(partitions = 4, outputPdfVersion = version))
        .toDF()
        .agg(sum(size(col("attachments")))).collect().head.getLong(0)
    val v3 = attCount("3")
    val v2 = attCount("2")
    assert(v3 > 0, "corpus must contain pdf attachments")
    assert(attCount("1") == 0, "PDF/A-1 keeps no attachments")
    // corpus mixes .txt and nested-.pdf attachments: the byte-sniffing
    // pdf-only policy must keep some but not all
    assert(v2 > 0 && v2 < v3, s"PDF/A-2 keeps only pdf attachments ($v2 of $v3)")
  }
}
