package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.PagesGen
import graft.pipeline.ExtractPipeline
import graft.table.SnapshotTable

/** A workload: how its input is laid out and how one timed call goes
  * through `ExtractPipeline.run`. `rows` is the size of a seed's row window. */
sealed abstract class Workload(val name: String, val rows: Long, val versions: Int) {

  /** Writes corpus rows [start, start + n) as laid out for `threads` threads. */
  def write(spark: SparkSession, seed: Long, start: Long, n: Long, threads: Int, path: String): Unit

  def config(threads: Int): ExtractPipeline.Config = ExtractPipeline.Config(partitions = 2 * threads)

  /** The timed call: extraction of the input, collected in checked shape. */
  def job(spark: SparkSession, path: String, threads: Int): Seq[OutRow] =
    Workload.collectRows(ExtractPipeline.run(spark.read.parquet(path), config(threads)).toDF())
}

object Workload {

  /** Spark's default `spark.sql.files.maxPartitionBytes`. The session sets
    * the per-file open cost to the same value, so each input file is read
    * as exactly one scan task; every file must stay below it, or Spark
    * would split it. */
  val MaxFileBytes: Long = 128L * 1024 * 1024

  val all: Seq[Workload] = Seq(Colocated, Recrawl)
  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name' (${all.map(_.name).mkString(", ")})"))

  /** The checked shape of an extraction result, collected to the driver. */
  def collectRows(out: DataFrame): Seq[OutRow] =
    out.select(col("url"), col("warc_ts"), col("status"), col("textBytes"), xxhash64(col("text")))
      .collect().toSeq
      .map(r => OutRow(r.getString(0), Corpus.micros(r.getTimestamp(1)), r.getString(2),
        r.getLong(3), r.getLong(4)))

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  def parquetFiles(path: String): Seq[java.nio.file.Path] = {
    val s = Files.list(Paths.get(path))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq finally s.close()
  }

  /** Each committed snapshot's `_counters` and `_lineage` sums (docs,
    * bytes) equal its data rows, and so does its manifest row count. */
  def sidecarCheck(spark: SparkSession, root: String): Option[String] = {
    val table = new SnapshotTable(root)
    table.snapshotChain.flatMap { id =>
      val data = spark.read.parquet(s"$root/data/snap-$id")
        .agg(count(lit(1)), coalesce(sum(col("textBytes")), lit(0L))).head()
      val want = (data.getLong(0), data.getLong(1))
      val rowCount = table.readManifest(id).rowCount
      Seq("_counters", "_lineage").map { side =>
        side -> spark.read.parquet(s"$root/$side/snap-$id")
          .agg(coalesce(sum(col("docs")), lit(0L)), coalesce(sum(col("bytes")), lit(0L))).head()
      }.collectFirst {
        case (side, r) if (r.getLong(0), r.getLong(1)) != want =>
          s"snapshot $id: $side sums (docs, bytes) = (${r.getLong(0)}, ${r.getLong(1)}), data has $want"
      }.orElse(Option.when(rowCount != want._1)(
        s"snapshot $id: manifest rowCount $rowCount != data rows ${want._1}"))
    }.headOption
  }
}

import Workload._

/** Single-version pages bucketed by url hash, read through the
  * zero-shuffle `assumeColocated` path. Eight buckets per thread keep one
  * large bucket from setting the job's makespan. */
object Colocated extends Workload("colocated", 12000L, 1) {
  def write(spark: SparkSession, seed: Long, start: Long, n: Long, threads: Int, path: String): Unit = {
    import spark.implicits._
    val buckets = 8 * threads
    // CorpusWriter.writePagesBucketed's layout, over a row window
    spark.range(start, start + n, 1, threads).map(i => PagesGen.page(i)).toDF()
      .repartition(buckets, pmod(xxhash64(col("url")), lit(buckets)))
      .write.mode("overwrite").parquet(path)
    val big = parquetFiles(path).filter(f => Files.size(f) >= MaxFileBytes)
    require(big.isEmpty, s"bucket files over $MaxFileBytes bytes would be split: ${big.mkString(", ")}")
  }

  override def config(threads: Int): ExtractPipeline.Config =
    super.config(threads).copy(assumeColocated = true)
}

/** Each url crawled `versions` times; the versions of one url sit in
  * different files, like re-crawls in separate crawl segments. Read through
  * the default shuffle path with the giant split on. */
object Recrawl extends Workload("recrawl", 3200L, 4) {
  def write(spark: SparkSession, seed: Long, start: Long, n: Long, threads: Int, path: String): Unit = {
    import spark.implicits._
    val v = versions
    // range slice k covers one contiguous run of i, shorter than n, so a
    // file never holds two versions of one url
    spark.range(0, n * v, 1, v * threads)
      .map(i => Corpus.version(seed, start + i % n, (i / n).toInt)).toDF()
      .write.mode("overwrite").parquet(path)
  }
}
