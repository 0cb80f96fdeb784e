package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.json.JsonMapper

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iceberg-style snapshot layer over Parquet (no Iceberg runtime offline —
  * SURVEY.md §0): append-only snapshots, manifest JSON per snapshot, an
  * atomically-replaced CURRENT pointer, idempotent resume, and orphan GC.
  *
  * Layout:
  * {{{
  *   <root>/data/snap-<id>/part-*.parquet     one dir per snapshot's appends
  *   <root>/_<name>/snap-<id>/part-*.parquet  its sidecars (_counters, _counts, ...)
  *   <root>/manifests/snap-<id>.json          manifest (id, parent, files, meta)
  *   <root>/CURRENT                           latest committed snapshot id
  * }}}
  *
  * Commit protocol (analog of the reference's Redis result store becoming
  * queryable only when the RQ job completes, docsbox/docs/tasks.py:16-18):
  * data files and sidecars are invisible until the manifest is moved into
  * place and CURRENT is atomically replaced; a crash mid-write leaves only
  * orphan dirs, which `sweepOrphans` collects (TTL cleaner analog,
  * docsbox/cleaner/__init__.py:10-37). Every job commits through here.
  */
final class SnapshotTable(val root: String) {

  /** Directory listing with the stream CLOSED (Files.list leaks the
    * directory fd until the stream is closed — driver-side, bounded, but a
    * long-lived driver sweeping many tables would accumulate them). */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def dataDir(id: Long): Path = Paths.get(root, "data", s"snap-$id")
  private def manifestPath(id: Long): Path = Paths.get(root, "manifests", s"snap-$id.json")
  private def currentPath: Path = Paths.get(root, "CURRENT")

  def currentSnapshotId: Option[Long] =
    if (Files.exists(currentPath))
      Some(new String(Files.readAllBytes(currentPath), StandardCharsets.UTF_8).trim.toLong)
    else None

  case class Manifest(id: Long, parentId: Long, files: Seq[String],
      rowCount: Long, meta: Map[String, String])

  private def writeManifest(m: Manifest): Unit = {
    Files.createDirectories(manifestPath(m.id).getParent)
    val json = SnapshotTable.Json.createObjectNode()
      .put("id", m.id).put("parentId", m.parentId).put("rowCount", m.rowCount)
    val files = json.putArray("files")
    m.files.sorted.foreach(f => files.add(f))
    val meta = json.putObject("meta")
    m.meta.toSeq.sortBy(_._1).foreach { case (k, v) => meta.put(k, v) }
    val tmp = manifestPath(m.id).resolveSibling(s".tmp-snap-${m.id}.json")
    Files.write(tmp, SnapshotTable.Json.writerWithDefaultPrettyPrinter().writeValueAsBytes(json))
    Files.move(tmp, manifestPath(m.id), StandardCopyOption.ATOMIC_MOVE)
  }

  def readManifest(id: Long): Manifest = {
    val json = SnapshotTable.Json.readTree(Files.readAllBytes(manifestPath(id)))
    def longField(name: String): Long = json.path(name).asLong(-1L)
    val files = json.path("files").elements().asScala.map(_.asText).toSeq
    val meta = json.path("meta").properties().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    Manifest(longField("id"), longField("parentId"), files, longField("rowCount"), meta)
  }

  /** Guard against appending a snapshot whose schema-affecting meta value
    * differs from the chain's (e.g. a text-only commit onto a full-rows
    * table — the union read would fail on mixed schemas). A non-empty chain
    * whose manifest predates the key is treated as `defaultForMissing`
    * (when given) rather than skipped — otherwise a pre-upgrade chain would
    * accept exactly the mixed-schema append the guard exists to prevent. */
  def requireMetaConsistent(key: String, value: String,
      defaultForMissing: String = null): Unit =
    currentSnapshotId.foreach { cur =>
      readManifest(cur).meta.get(key)
        .orElse(Option(defaultForMissing))
        .foreach { prev =>
          require(prev == value,
            s"table at $root has $key=$prev; refusing to append $key=$value " +
              "(mixed snapshot schemas would break reads)")
        }
    }

  /** Chain of snapshot ids from CURRENT back to the first. */
  def snapshotChain: Seq[Long] = currentSnapshotId match {
    case None => Nil
    case Some(cur) =>
      val ids = Seq.newBuilder[Long]
      var id = cur
      while (id >= 0) {
        ids += id
        id = readManifest(id).parentId
      }
      ids.result()
  }

  private def sidecarDir(name: String, id: Long): Path = Paths.get(root, name, s"snap-$id")

  /** Shared commit core: write `df` under snap-`id`, then its sidecars,
    * then manifest, then the atomic CURRENT swap — nothing is visible until
    * the swap; a crash at ANY point leaves the previous CURRENT fully
    * readable (debris: orphan dirs / an unreferenced manifest for the
    * cleaner). `sidecars` gets the WRITTEN snapshot (read back by the known
    * schema, no footer scan). `meta` is BY-NAME, evaluated AFTER the
    * writes, when values observed during them (per-stage curate counts)
    * are complete. The manifest row count is captured DURING the write via
    * `observe` — no re-read of the output (a full extra scan at 100 TB). */
  private def writeAndSwap(df: DataFrame, id: Long, parentId: Long,
      meta: => Map[String, String], sidecars: DataFrame => Map[String, DataFrame]): Long = {
    val dir = dataDir(id)
    val obs = org.apache.spark.sql.Observation(s"graft-commit-$id")
    df.observe(obs, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("rows"))
      .write.mode("overwrite").parquet(dir.toString)
    sidecars(df.sparkSession.read.schema(df.schema).parquet(dir.toString)).foreach {
      case (name, frame) => require(SnapshotTable.isSidecar(name), s"not a sidecar: '$name'")
        frame.write.mode("overwrite").parquet(sidecarDir(name, id).toString)
    }
    val files = listDir(dir)
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
    val rows = obs.get("rows").asInstanceOf[Long]
    writeManifest(Manifest(id, parentId, files, rows, meta))
    val tmp = Paths.get(root, ".CURRENT.tmp")
    Files.write(tmp, id.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, currentPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    id
  }

  /** Append `df` (and its `sidecars`) as a new snapshot; returns the
    * committed snapshot id. Visible only after the atomic CURRENT replace. */
  def commit(df: DataFrame, meta: => Map[String, String] = Map.empty,
      sidecars: DataFrame => Map[String, DataFrame] = _ => Map.empty): Long = {
    val parent = currentSnapshotId.getOrElse(-1L)
    writeAndSwap(df, parent + 1, parent, meta, sidecars)
  }

  /** Commit `df` as a REPLACEMENT: the new snapshot becomes a fresh base
    * (no parent) and the previous chain's manifests, data and sidecars are
    * swept AFTER the atomic CURRENT swap. For re-derived product tables —
    * the curated output, where each job recomputes the WHOLE table rather
    * than appending an increment (appending would union stale rows into
    * every read). Same crash guarantee as [[commit]]: until the swap,
    * readers see the previous table; a kill mid-write leaves orphans,
    * never a half-replaced table. */
  def commitReplace(df: DataFrame, meta: => Map[String, String] = Map.empty,
      sidecars: DataFrame => Map[String, DataFrame] = _ => Map.empty): Long = {
    val oldChain = snapshotChain
    val id = oldChain.headOption.getOrElse(-1L) + 1
    writeAndSwap(df, id, -1L, meta, sidecars)
    oldChain.foreach(old => Files.deleteIfExists(manifestPath(old)))
    sweepOrphans()
    id
  }

  /** Read the table as of CURRENT (union of the snapshot chain's data dirs).
    * Empty (schema-less) if nothing is committed — callers guard. */
  def read(spark: SparkSession): Option[DataFrame] = {
    val dirs = snapshotChain.map(dataDir(_).toString)
      .filter(d => Files.exists(Paths.get(d)))
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs: _*))
  }

  /** The `name` sidecar committed with snapshot `id`, if it has one. */
  def readSidecar(spark: SparkSession, name: String, id: Long): Option[DataFrame] =
    Option.when(Files.isDirectory(sidecarDir(name, id)))(
      spark.read.parquet(sidecarDir(name, id).toString))

  /** Compact the snapshot chain: rewrite the table as-of CURRENT into one
    * fresh base snapshot, point CURRENT at it, and sweep the old chain's
    * data+manifests. This is the retention/expiry maintenance action (the
    * reference's TTL cleaner analog, docsbox/cleaner/__init__.py:10-37,
    * RESULT_FILE_TTL config.yml:8): history older than the compacted base
    * is gone; readers always see a consistent CURRENT (the swap is the
    * same atomic rename as a commit). The new base carries the head
    * manifest's meta (`conversionFormat`, `streamBatch`, ...), overridden
    * by `meta`, so the chain's guards survive compaction. Returns the new
    * snapshot id. */
  def compact(spark: SparkSession, meta: Map[String, String] = Map.empty): Long = {
    val current = read(spark).getOrElse(
      throw new IllegalStateException("nothing committed; cannot compact"))
    val headMeta = currentSnapshotId.fold(Map.empty[String, String])(readManifest(_).meta)
    commitReplace(current, headMeta ++ meta) // rewrite-as-of-CURRENT is a replacement
  }

  /** Delete data dirs and `_<name>/snap-<id>` sidecar dirs not in the
    * CURRENT chain — debris of crashed commits and expired snapshots
    * (cleaner analog); `_checkpoints` is never touched. Returns the dirs
    * removed (`snap-<id>` for data). */
  def sweepOrphans(): Seq[String] = {
    if (!Files.isDirectory(Paths.get(root))) return Nil
    val live = snapshotChain.map(id => s"snap-$id").toSet
    val dead = listDir(Paths.get(root)).map(_.getFileName.toString)
      .filter(d => (d == "data" || SnapshotTable.isSidecar(d)) && Files.isDirectory(Paths.get(root, d)))
      .sortBy(d => (d != "data", d))
      .flatMap(d => listDir(Paths.get(root, d)).map(d -> _.getFileName.toString))
      .filter { case (d, n) => !live(n) && (d == "data" || n.startsWith("snap-")) }
    dead.map { case (d, n) =>
      deleteRecursively(Paths.get(root, d, n))
      if (d == "data") n else s"$d/$n"
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}

object SnapshotTable {

  /** Manifest JSON codec (Spark's jackson-databind). Reads also accept the
    * raw newlines the earlier hand-rolled writer left in meta values. */
  private val Json = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS).build()

  /** `_` then word characters, but not the curate jobs' `_checkpoints`. */
  private def isSidecar(name: String): Boolean =
    name.matches("_\\w+") && name != "_checkpoints"
}
