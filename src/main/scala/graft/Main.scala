package graft

import org.apache.spark.sql.SparkSession

import graft.corpus.CorpusWriter
import graft.pipeline.{CurateOptions, ExtractPipeline, JobOptions, MixOptions}
import graft.table.SnapshotTable

/** spark-submit entry point (north_rule: "run via spark-submit"): the batch
  * extraction job over a pages table, and the subcommands listed in
  * `Commands`. The extract jobs' `[partitions]` is at most one positional, a
  * positive integer, anywhere among the options; it sizes only the giant-doc
  * round-robin exchange (default: the default parallelism); the dedup
  * exchange width is `spark.sql.shuffle.partitions`.
  *
  * Bad usage exits 2 with a one-line message, before the Spark session
  * starts: a missing or extra positional, or any option the job's parser
  * rejects (JobOptions, CurateOptions, MixOptions). Extraction itself never
  * fails on bad rows (error-as-value). Local default master is for the
  * sandbox; under real spark-submit the cluster master wins.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("")
    val synopsis = Commands.toMap.getOrElse(cmd, {
      if (cmd.nonEmpty) System.err.println(s"unknown command: $cmd")
      usage(); sys.exit(2)
    })
    // the required positionals are the synopsis' <...> words; a synopsis
    // with no [...] part takes nothing else
    val head = synopsis.takeWhile(_ != '[')
    val arity = head.split(' ').count(_.startsWith("<"))
    if (args.length - 1 < arity || (head == synopsis && args.length - 1 > arity))
      fail(s"usage: graft.Main $cmd ${synopsis.linesIterator.next()}")
    // the session starts on first use, so every usage and option check
    // above and in the cases below fails before Spark does any work
    lazy val spark = session()
    try {
      args(0) match {
        case "gen" =>
          val rows = rowCount(args(1))
          CorpusWriter.writePages(spark, rows, args(2))
          println(s"[graft] wrote $rows pages -> ${args(2)}")
        case "gen-warc" =>
          // synthetic corpus as Common-Crawl-style WARC archives (one
          // plain + one gzip member) — demo input for extract-warc
          val rows = rowCount(args(1))
          val dir = java.nio.file.Paths.get(args(2))
          java.nio.file.Files.createDirectories(dir)
          val ps = (0L until rows).map(graft.corpus.PagesGen.page)
          val (a, b) = ps.splitAt(ps.length / 2)
          java.nio.file.Files.write(dir.resolve("part-0.warc"),
            graft.corpus.WarcGen.build(a))
          java.nio.file.Files.write(dir.resolve("part-1.warc.gz"),
            graft.corpus.WarcGen.build(b, gzip = true))
          println(s"[graft] wrote $rows pages as WARC -> $dir")
        case "extract" | "extract-warc" =>
          val pagesPath = args(1)
          val outputRoot = args(2)
          // option validation up front (set_options 400 analog,
          // utils.py:45-96): a bad option fails BEFORE the scan starts
          val cfg = orExit(JobOptions.parseExtract(args.drop(3).toSeq,
            spark.sparkContext.defaultParallelism))
          val pages =
            if (args(0) == "extract-warc")
              graft.sources.Ingest.fromWarc(spark, pagesPath)
            else spark.read.parquet(pagesPath)
          val id = ExtractPipeline.runAndCommit(spark, pages, outputRoot, cfg)
          if (id < 0) println("[graft] nothing to do: all urls already committed")
          else {
            println(s"[graft] committed snapshot $id -> $outputRoot")
            cfg.thumbnails.foreach { case (w, h) =>
              println(s"[graft] thumbnails (${w}x$h) -> $outputRoot/_thumbnails/snap-$id")
            }
            new SnapshotTable(outputRoot).readSidecar(spark, "_counters", id).get
              .orderBy("status").collect()
              .foreach(r => println(s"[counters] ${r.getString(0)}: docs=${r.getLong(1)} bytes=${r.get(2)}"))
          }
        case "curate" =>
          // training-data curation: finished rows -> exact text dedup ->
          // optional passage dedup -> domain blocklist -> optional
          // repetition/quality drops -> optional benchmark decontamination
          // -> per-domain cap -> PII redaction + counts
          val opts = orExit(CurateOptions.parse(args.drop(3).toSeq))
          graft.pipeline.Curate.run(spark, args(1), args(2), opts) match {
            case None => fail(s"no committed snapshot under ${args(1)}")
            case Some(r) =>
              println(s"[graft] curated snapshot ${r.curatedSnapshotId} " +
                s"(from source snapshot ${r.snapshotId}): " +
                s"kept=${r.kept} (cap=${opts.cap} per domain, " +
                s"blocklist=${opts.block.size}) -> ${args(2)}")
              // per-stage survivors, observed during the one write pass
              r.stages.foreach { case (stage, rows) =>
                println(s"[curate-stage] $stage: $rows")
              }
          }
        case "sweep" =>
          val removed = new SnapshotTable(args(1)).sweepOrphans()
          println(s"[graft] swept ${removed.length} orphan dirs: ${removed.mkString(", ")}")
        case "compact" =>
          val id = new SnapshotTable(args(1)).compact(spark)
          println(s"[graft] compacted chain into base snapshot $id")
        case "mix" =>
          // training-mix assembly over the CURATED snapshot: per-language
          // hash sampling + token budget, earliest crawls first
          val mOpts = orExit(MixOptions.parse(args.drop(3).toSeq))
          graft.pipeline.MixJob.run(spark, args(1), args(2), mOpts) match {
            case None => fail(s"no committed snapshot under ${args(1)}")
            case Some(r) =>
              println(s"[graft] mix snapshot ${r.mixSnapshotId} " +
                s"(from curated snapshot ${r.sourceSnapshotId}): " +
                s"kept=${r.kept} -> ${args(2)}")
          }
        case "stream" =>
          // drain whatever is currently in the input dir, then exit;
          // re-running resumes from the checkpoint (exactly-once sink)
          val q = graft.streaming.StreamingExtract.start(
            spark, args(1), args(2), args(3))
          q.processAllAvailable()
          q.stop()
          // a zero-batch drain leaves only an empty _spark_metadata dir:
          // reading it throws (no schema) — that is "0 rows", not a crash
          val n = countRowsOrZero(spark, args(2))
          println(s"[graft] stream drained; output now holds $n extracted rows")
        case "stream-curate" =>
          // streaming curation: extract + the curate hygiene chain per
          // micro-batch, one snapshot commit each (see startCurated docs)
          val sOpts = orExit(CurateOptions.parse(args.drop(4).toSeq))
          val qc = graft.streaming.StreamingExtract.startCurated(
            spark, args(1), args(2), args(3), sOpts)
          qc.processAllAvailable()
          qc.stop()
          // a drain with no input commits nothing: 0 rows
          val nc = new SnapshotTable(args(2)).read(spark).fold(0L)(_.count())
          println(s"[graft] stream drained; curated output now holds $nc rows")
      }
    } finally SparkSession.getDefaultSession.foreach(_.stop())
  }

  private def session(): SparkSession = {
    val builder = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // reclaim reliable-checkpoint files once their RDDs are GC'd: the
      // near-dedup stage checkpoints its fixpoint per invocation, and a
      // long-lived stream-curate would otherwise accumulate one checkpoint
      // dataset per micro-batch until JVM exit
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // bound per-event plan rendering (iterative cache-on-cache plans
      // otherwise render exponentially long tree strings on the driver)
      .config("spark.sql.maxPlanStringLength", "131072")
    // under spark-submit the submitted master wins; standalone runs (sandbox,
    // sbt runMain) fall back to all local cores
    if (!sys.props.contains("spark.master") && !sys.env.contains("MASTER")) {
      val cores = Runtime.getRuntime.availableProcessors()
      builder.master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Row count of `stream`'s output, where "nothing was ever written there"
    * (missing path / empty file-sink metadata: no inferable schema) is a
    * legitimate 0 — the zero-batch drain. ONLY those two errors map to 0;
    * any other AnalysisException propagates: a silent "0 rows" must never
    * mask a real read failure. */
  private def countRowsOrZero(spark: SparkSession, path: String): Long =
    try spark.read.parquet(path).count()
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(c =>
            c.startsWith("PATH_NOT_FOUND") ||
              c.startsWith("UNABLE_TO_INFER_SCHEMA")) => 0L
    }

  /** Bad usage: one line on stderr, exit 2, no stack trace. */
  private def fail(msg: String): Nothing = {
    System.err.println(s"[graft] $msg")
    sys.exit(2)
  }

  /** The one parse-or-exit step for every job's options. */
  private def orExit[A](parsed: Either[String, A]): A =
    parsed.fold(msg => fail(s"invalid options: $msg"), identity)

  private def rowCount(s: String): Long =
    s.toLongOption.filter(_ >= 0).getOrElse(fail(s"rows must be a non-negative integer: '$s'"))

  /** Subcommand -> synopsis (continuation lines are notes); `main` derives
    * each subcommand's arity from it. */
  private val Commands = Seq(
    "gen" -> "<rows> <pagesParquet>",
    "gen-warc" -> "<rows> <warcDir>",
    "extract" -> "<pagesParquet> <outputRoot> [partitions] [key=value...]",
    "extract-warc" -> """<warcDir> <outputRoot> [partitions] [key=value...]
        |  partitions: at most one, a positive integer; the width of the giant-doc
        |              round-robin exchange only (default: the default parallelism);
        |              the dedup exchange width is spark.sql.shuffle.partitions
        |  options: conversion-format=text|spans
        |           output-pdf-version=1|2|3   (attachment re-attach policy)
        |           thumbnails=WxH""".stripMargin,
    "stream" -> "<pagesDir> <outputDir> <checkpointDir>",
    "stream-curate" -> "<pagesDir> <curatedDir> <checkpointDir> [curate options]",
    "curate" -> """<outputRoot> <curatedDir> [cap=N] [block=dom1,dom2] [para-dedup=N]
        |  [min-quality=F] [max-dup-word=F] [max-top-bigram=F] [min-tokens=N]
        |  [near-dedup=J] [decontaminate=<benchParquet>] [holdout=testF,valF]
        |  [excise=K]""".stripMargin,
    "mix" -> "<curatedDir> <mixDir> [sample=en:0.5,de:0.25,default:0.1] [budget=N]",
    "sweep" -> "<outputRoot>",
    "compact" -> "<outputRoot>")

  private def usage(): Unit =
    System.err.println(Commands
      .map { case (c, s) => s"graft.Main $c " + s.replace("\n", "\n       ") }
      .mkString("usage: ", "\n       ", ""))
}
