package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Host shape and the Spark session the benchmark runs on. */
object Host {

  val threads: Int = Runtime.getRuntime.availableProcessors

  private def procField(file: String, key: String): Long =
    Files.readAllLines(Paths.get(file)).asScala.find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def memTotalMb: Double = procField("/proc/meminfo", "MemTotal") / 1024.0
  def peakRssMb: Double = procField("/proc/self/status", "VmHWM") / 1024.0

  /** Seconds for the ALU loop of `graft.Bench.hostCalib` (best of 3, 100M
    * steps): taken before and after a run, it shows a slowed-down host. */
  def calib(): Double = (1 to 3).map { _ =>
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 100000000L) { h ^= i; h *= 0xC2B2AE3D27D4EB4FL; h ^= (h >>> 29); i += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    if (h == 42L) System.err.print("")
    s
  }.min

  def session(threads: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * threads).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.files.maxPartitionBytes", Workload.MaxFileBytes.toString)
      .config("spark.sql.files.openCostInBytes", Workload.MaxFileBytes.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
