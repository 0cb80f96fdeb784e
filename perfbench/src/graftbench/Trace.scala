package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Spark's own task metrics for one task, as the listener saw them. */
final case class TaskRec(stageId: Int, runMs: Long, cpuMs: Double, gcMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

final case class StageRec(stageId: Int, name: String, submitMs: Long, endMs: Long)
final case class JobRec(jobId: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

/** Records Spark jobs, stages and tasks. Registered only on traced runs. */
final class Recorder extends SparkListener {
  private val jobs = ArrayBuffer.empty[JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private var open = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time, -1L, e.stageIds); open += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = jobs.indexWhere(_.jobId == e.jobId)
    if (i >= 0) jobs(i) = jobs(i).copy(endMs = e.time)
    open -= 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stages += StageRec(s.stageId, s.name, s.submissionTime.getOrElse(-1L), s.completionTime.getOrElse(-1L))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime / 1e6,
      m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  /** Waits until the listener bus has delivered the end of every job it
    * started (one queue per listener, so earlier task events came first),
    * then returns and clears what was recorded. */
  def take(): (Seq[JobRec], Seq[StageRec], Seq[TaskRec]) = {
    val deadline = System.nanoTime() + 10000000000L
    while (synchronized(open) > 0 && System.nanoTime() < deadline) Thread.sleep(2)
    synchronized {
      require(open == 0, "listener bus did not deliver every job end within 10 s")
      val r = (jobs.toList, stages.toList, tasks.toList)
      jobs.clear(); stages.clear(); tasks.clear()
      r
    }
  }
}

/** A span: name, start, end (epoch microseconds) and the span that caused it. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long)

/** In-memory span store, written out once when the benchmark ends. */
final class Spans {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  private val buf = ArrayBuffer.empty[Span]
  private var nextId = 0L

  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
  def usOf(nanoTime: Long): Long = baseUs + (nanoTime - baseNs) / 1000L

  def add(parent: Long, name: String, startUs: Long, endUs: Long): Long = synchronized {
    nextId += 1; buf += Span(nextId, parent, name, startUs, endUs); nextId
  }

  /** Runs `f` with the id of a new span that covers the call. */
  def span[T](parent: Long, name: String)(f: Long => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val s = nowUs()
    try f(id) finally synchronized { buf += Span(id, parent, name, s, nowUs()) }
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try synchronized {
      buf.sortBy(_.id).foreach { s =>
        w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_us" -> s.startUs, "end_us" -> s.endUs)))
        w.newLine()
      }
    } finally w.close()
  }
}

/** Minimal JSON encoder for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case other => apply(other.toString)
  }
}
