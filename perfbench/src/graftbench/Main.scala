package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, length, sum}

import graft.pipeline.ExtractPipeline
import graft.table.SnapshotTable

/** Output that differs from the oracle, the goldens or the pinned digest. */
final class Mismatch(msg: String) extends RuntimeException(msg)

/** One benchmark run of one workload:
  * `graftbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <repo root>`.
  * Prints `BENCH_DETAIL <json>` (everything measured, with host stamps and
  * sample counts) and then `BENCH_RESULT <json>` (the metrics of the mode). */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, repo) = args
    val run = new Run(Workload.byName(workload), seed.toLong, seconds.toDouble, trace == "1", work, repo)
    val ok = run.execute()
    System.exit(if (ok) 0 else 1)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Nearest-rank percentile with the median of an even count averaged. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (p == 0.5 && s.size % 2 == 0) (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    else s(math.min(s.size - 1, (p * s.size).toInt))
  }

  def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }
}

import Main._

final class Run(w: Workload, seed: Long, seconds: Double, traced: Boolean, work: String, repo: String) {
  private val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val jvmS = (System.currentTimeMillis() - startMs) / 1e3
  private val threads = Host.threads
  private val start = Corpus.windowStart(seed, w.rows)
  /** The 1-thread scaling pass runs 1/threads of the window. */
  private val smallRows = math.max(Corpus.Block, w.rows / threads / Corpus.Block * Corpus.Block)
  private val input = s"$work/input"
  private val smallInput = s"$work/input-1t"
  private val spans = new Spans
  private val recorder = new Recorder
  private val detail = mutable.LinkedHashMap[String, Any]()
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val tracedJobs = ArrayBuffer.empty[Map[String, Any]]
  private lazy val goldens = Checker.loadGoldens(repo)
  private var spark: SparkSession = _
  private var attempted = 0
  private var failed = 0

  private def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Unit of a layer metric, from its name's suffix. */
  private def unitOf(name: String): String =
    if (name.endsWith("mb_per_s_core")) "MB/s"
    else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_us")) "us"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_frac") || name.endsWith("_skew") || name.endsWith("_share_of_tasks")) "ratio"
    else "count"
  private def say(msg: String): Unit =
    println(f"[perfbench] ${w.name} ${(System.currentTimeMillis() - startMs) / 1e3}%6.1f s: $msg")

  /** The timed call, then the output check. Returns the job's wall seconds
    * and docs, or None if the call threw. */
  private def job(in: String, t: Int, expected: Map[String, OutRow],
      parent: Long, traceJob: Boolean = false): Option[(Double, Long)] = {
    System.gc() // every timed call starts from a collected heap
    attempted += 1
    val s0 = spans.nowUs()
    // the listener is attached only around the timed call
    if (traceJob) spark.sparkContext.addSparkListener(recorder)
    val timed = try Right(secondsOf(w.job(spark, in, t))) catch { case NonFatal(e) => Left(e) }
    val id = spans.add(parent, "job", s0, spans.nowUs())
    if (traceJob) {
      recordSpark(id, timed.map(_._2).getOrElse(Double.NaN))
      spark.sparkContext.removeSparkListener(recorder)
    }
    val (rows, dt) = timed match {
      case Right(r) => r
      case Left(e) =>
        failed += 1
        say(s"job failed: $e")
        e.printStackTrace()
        return None
    }
    Checker.check(rows, expected, goldens).foreach(m => throw new Mismatch(m))
    if (t == threads && seed == 0L && !detail.contains("digest")) {
      val d = Checker.digest(rows)
      detail("digest") = d
      Checker.pinFor(w.name).foreach { pin =>
        if (pin != d) throw new Mismatch(s"seed-0 output digest $d != pinned $pin")
      }
    }
    Some((dt, rows.size.toLong))
  }

  /** Spark's jobs, stages and tasks of the call just timed, as spans and as
    * the pipeline layer's metrics. */
  private def recordSpark(jobSpan: Long, wallS: Double): Unit = {
    val (jobs, stages, tasks) = recorder.take()
    jobs.foreach { j =>
      val js = spans.add(jobSpan, s"spark.job.${j.jobId}", j.startMs * 1000, j.endMs * 1000)
      stages.filter(s => j.stageIds.contains(s.stageId)).foreach { s =>
        spans.add(js, s"spark.stage.${s.stageId}", s.submitMs * 1000, s.endMs * 1000)
      }
    }
    def mb(f: TaskRec => Long, ts: Seq[TaskRec]) = ts.map(f).sum / 1e6
    val perStage = stages.sortBy(_.stageId).map { s =>
      val ts = tasks.filter(_.stageId == s.stageId)
      val r = ts.map(_.runMs.toDouble)
      Map("stage" -> s.stageId, "name" -> s.name, "tasks" -> ts.size,
        "wall_ms" -> (s.endMs - s.submitMs), "task_run_ms" -> r.sum, "task_p50_ms" -> pct(r, 0.5),
        "task_max_ms" -> (if (r.isEmpty) 0.0 else r.max), "gc_ms" -> ts.map(_.gcMs).sum,
        "spill_mb" -> mb(_.spillBytes, ts), "shuffle_read_mb" -> mb(_.shuffleReadBytes, ts),
        "shuffle_write_mb" -> mb(_.shuffleWriteBytes, ts))
    }
    // task percentiles and skew are those of the stage with the most task time
    val heavy = perStage.maxBy(_("task_run_ms").asInstanceOf[Double])
    def h(k: String) = heavy(k).asInstanceOf[Double]
    val run = tasks.map(_.runMs.toDouble).sum
    val pipeline = Map[String, Double](
      "pipeline.stages" -> stages.size,
      "pipeline.tasks" -> tasks.size,
      "pipeline.task_run_ms" -> run,
      "pipeline.task_cpu_ms" -> tasks.map(_.cpuMs).sum,
      "pipeline.gc_ms" -> tasks.map(_.gcMs).sum.toDouble,
      "pipeline.task_p50_ms" -> h("task_p50_ms"),
      "pipeline.task_max_ms" -> h("task_max_ms"),
      "pipeline.task_skew" -> h("task_max_ms") / math.max(h("task_p50_ms"), 1.0),
      "pipeline.idle_core_frac" -> (1 - run / (threads * wallS * 1000)),
      "pipeline.input_mb" -> Workload.parquetFiles(input).map(Files.size).sum / 1e6,
      "pipeline.shuffle_write_mb" -> mb(_.shuffleWriteBytes, tasks),
      "pipeline.shuffle_read_mb" -> mb(_.shuffleReadBytes, tasks),
      "pipeline.spill_mb" -> mb(_.spillBytes, tasks))
    tracedJobs += Map("job_s" -> wallS, "spark_jobs" -> jobs.size, "metrics" -> pipeline,
      "stages" -> perStage)
  }

  /** Closed loop, one job in flight, for `secs` seconds (at least 3 jobs,
    * or 3 of each kind when `alternate` interleaves untraced and traced
    * jobs). Returns (wall seconds, docs, traced). */
  private def loop(secs: Double, parent: Long, alternate: Boolean,
      expected: Map[String, OutRow]): Seq[(Double, Long, Boolean)] = {
    val out = ArrayBuffer.empty[(Double, Long, Boolean)]
    val end = System.nanoTime() + (secs * 1e9).toLong
    val min = if (alternate) 6 else 3
    while (System.nanoTime() < end || (out.size < min && failed == 0)) {
      val traceJob = alternate && out.size % 2 == 1
      out ++= job(input, threads, expected, parent, traceJob)
        .map { case (s, d) => (s, d, traceJob) }
    }
    out.toSeq
  }

  /** Commits the 1/threads input with `runAndCommit` and checks the table,
    * then times five no-op resumes over it, after a warm-up one. */
  private def noopResume(parent: Long, expected: Map[String, OutRow]): Unit = {
    val root = s"$work/committed"
    Workload.deleteTree(root)
    if (traced) recorder.take()
    ExtractPipeline.runAndCommit(spark, spark.read.parquet(smallInput), root, w.config(threads))
    if (traced) tableMetrics(root, recorder.take()._1.size)
    Checker.check(Workload.collectRows(new SnapshotTable(root).read(spark).get), expected, goldens)
      .orElse(Workload.sidecarCheck(spark, root)).foreach(m => throw new Mismatch(m))
    val probes = (0 to 5).map { _ =>
      if (traced) recorder.take()
      val (id, s) = secondsOf(ExtractPipeline.runAndCommit(spark, spark.read.parquet(smallInput), root,
        w.config(threads)))
      require(id == -1L, s"no-op resume committed snapshot $id")
      if (traced) metric("table.noop_probe_jobs", recorder.take()._1.size, "count")
      s
    }
    spans.add(parent, "noop_resume", spans.nowUs() - (probes.sum * 1e6).toLong, spans.nowUs())
    metric("noop_resume_s", median(probes.tail), "s") // the first probe warms up
    detail("noop_resume_samples") = probes
    if (traced) {
      val reads = (1 to 3).map(_ => secondsOf(new SnapshotTable(root).read(spark).get.count())._2)
      metric("table.read_ms", median(reads) * 1e3, "ms")
    }
  }

  /** Files and bytes of the newest snapshot at `root`. */
  private def tableMetrics(root: String, sparkJobs: Int): Unit = {
    val id = new SnapshotTable(root).currentSnapshotId.get
    val walk = Files.walk(Paths.get(root))
    val files = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.toString.contains(s"snap-$id") && !p.getFileName.toString.startsWith(".")).toSeq
    } finally walk.close()
    metric("table.jobs", sparkJobs, "count")
    metric("table.files_written", files.size, "count")
    metric("table.bytes_written_mb", files.map(Files.size).sum / 1e6, "MB")
  }

  /** 1-thread pass over 1/threads of the window: the weak-scaling base. */
  private def scalingPass(parent: Long, docsPerS: Double, expected: Map[String, OutRow]): Unit = {
    spark.stop()
    spark = Host.session(1, work)
    job(smallInput, 1, expected, parent) // the new session's warm-up
    val one = (1 to 3).flatMap(_ => job(smallInput, 1, expected, parent))
    val eff = docsPerS / (threads * median(one.map { case (s, d) => d / s }))
    metric("scaling_eff", eff, "ratio")
    say(f"scaling pass: efficiency $eff%.3f")
    detail("scaling") = Map("rows_1t" -> smallRows, "job_s_1t" -> one.map(_._1), "docs_1t" -> one.map(_._2))
  }

  def execute(): Boolean = {
    val calibStart = Host.calib()
    var error: Option[String] = None
    spans.span(0L, s"workload.${w.name}") { root =>
      try body(root) catch {
        case m: Mismatch => error = Some(m.getMessage)
      }
    }
    if (spark != null) spark.stop()
    val calibEnd = Host.calib()
    val host = Map[String, Double]("nproc" -> threads, "mem_total_mb" -> Host.memTotalMb,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "calib_start_s" -> calibStart, "calib_end_s" -> calibEnd)
    metric("peak_rss_mb", Host.peakRssMb, "MB")
    if (traced) host.foreach { case (k, v) => metric(s"host.$k", v, unitOf(k)) }
    error.foreach(e => say(s"INCORRECT: $e"))
    detail ++= Seq("workload" -> w.name, "seed" -> seed, "trace" -> traced,
      "rows" -> w.rows, "versions" -> w.versions, "window_start" -> start, "host" -> host,
      "correct" -> error.isEmpty, "error" -> error, "attempted" -> attempted, "failed" -> failed,
      "failed_frac" -> failed.toDouble / math.max(1, attempted),
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "traced_jobs" -> tracedJobs)
    Files.write(Paths.get(work, "detail.json"), Json(detail).getBytes(StandardCharsets.UTF_8))
    if (traced) spans.write(Paths.get(work, "spans.jsonl"))
    println("BENCH_DETAIL " + Json(detail))
    println("BENCH_RESULT " + Json(Map("correct" -> error.isEmpty, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics.filter { case (k, _) => traced == k.contains(".") }
        .map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
    error.isEmpty && failed == 0
  }

  private def body(root: Long): Unit = {
    val (s, sessionS) = secondsOf(Host.session(threads, work))
    spark = s
    var expected = Map.empty[String, OutRow]

    // set-up rounds: each writes the input, runs the oracle and one
    // untimed warm-up job; set-up time is their median
    val rounds = (1 to (if (traced) 1 else 3)).map { r =>
      spans.span(root, s"setup.round$r") { id =>
        val (_, corpusS) = secondsOf(spans.span(id, "corpus") { _ =>
          w.write(spark, seed, start, w.rows, threads, input)
        })
        val (oracle, oracleS) = secondsOf(spans.span(id, "oracle") { _ =>
          Corpus.oracle(seed, start, w.rows, w.versions, threads)
        })
        expected = oracle
        val (_, warmupS) = secondsOf(job(input, threads, expected, id))
        say(f"setup round $r: corpus $corpusS%.2f s, oracle $oracleS%.2f s, warm-up $warmupS%.2f s")
        Map("corpus_s" -> corpusS, "oracle_s" -> oracleS, "warmup_s" -> warmupS)
      }
    }
    val roundS = rounds.map(_.values.sum)
    metric("setup_s", jvmS + sessionS + median(roundS), "s")
    detail("setup") = Map("jvm_s" -> jvmS, "session_s" -> sessionS, "rounds" -> rounds)
    if (traced) {
      metric("setup.session_s", sessionS, "s")
      Seq("corpus_s", "oracle_s", "warmup_s").foreach(k => metric(s"setup.$k", median(rounds.map(_(k))), "s"))
    }

    val samples = loop(seconds, root, alternate = traced, expected)
    val jobS = samples.collect { case (s, _, false) => s }
    detail("job_s_samples") = jobS
    metric("job_s", median(jobS), "s")
    val docsPerS = median(samples.collect { case (s, d, false) => d / s })
    metric("docs_per_s", docsPerS, "1/s")
    say(f"${jobS.size} jobs, median ${median(jobS)}%.3f s, $docsPerS%.0f docs/s")

    if (traced) {
      val tracedS = samples.collect { case (s, _, true) => s }
      metric("trace.overhead_ms", (median(tracedS) - median(jobS)) * 1e3, "ms")
      tracedJobs.map(_("metrics").asInstanceOf[Map[String, Double]]).flatMap(_.keys).distinct
        .foreach { k =>
          metric(k, median(tracedJobs.map(_("metrics").asInstanceOf[Map[String, Double]](k)).toSeq), unitOf(k))
        }
      spark.sparkContext.addSparkListener(recorder)
      metric("pipeline.dedup_survivor_frac", expected.size.toDouble / (w.rows * w.versions), "ratio")
      val scans = (1 to 3).map(_ => secondsOf(
        spark.read.parquet(input).select(sum(length(col("html")))).collect())._2)
      metric("pipeline.scan_ms", median(scans) * 1e3, "ms")
    }

    w.write(spark, seed, start, smallRows, 1, smallInput)
    val smallExpected = Corpus.oracle(seed, start, smallRows, w.versions, threads)
    noopResume(root, smallExpected)
    say("no-op resume probed")

    if (traced) {
      val extract = spans.span(root, "replay") { id =>
        Replay.run(seed, start, w.rows, w.versions, threads, spans, id)
      }
      (extract + ("extract.busy_share_of_tasks" ->
        extract("extract.busy_ms") / metrics("pipeline.task_run_ms")._1))
        .foreach { case (k, v) => metric(k, v, unitOf(k)) }
    } else scalingPass(root, docsPerS, smallExpected)
  }
}
