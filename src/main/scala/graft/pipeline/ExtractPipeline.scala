package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{ExtractedRow, Heuristics, RawDoc}
import graft.extract.Extractor
import graft.table.SnapshotTable

/** The main extraction job: the Spark re-expression of the reference's
  * convert pipeline (docsbox/docs/views.py:158-202 + tasks.py:80-166) as a
  * declarative plan:
  *
  * {{{
  *   scan pages -> narrow to (url, warc_ts, html)
  *     -> dedup latest per url: ONE payload shuffle (leaves data
  *        hash-partitioned on url = the salted url-hash repartition), or
  *        per scan task for url-bucketed input (assumeColocated)
  *     -> [resume anti-join vs committed urls]
  *     -> giant/small split on winner length; giants spread round-robin
  *        (~1% of bytes; shuffle path only)
  *     -> mapPartitions(sniff -> route -> extract -> validate -> stamp)
  *     -> output + _counters + _lineage
  * }}}
  *
  * Scale notes (designed for 10^12 rows / 1000 executors, tested local):
  *
  *  - ONE full-payload shuffle. `groupBy(url).max_by(html, (warc_ts, hash))`
  *    fuses last-write-wins dedup with url-hash placement: the aggregation
  *    exchange IS the "salted repartition keyed on url-hash" (Murmur3 on the
  *    key — placement uncorrelated with url lexicographics), and map-side
  *    partial max_by drops duplicate payloads BEFORE they travel — at real
  *    crawl dup rates (30-60%) that halves the wire bytes.
  *  - Crawler columns (text, lang) are projected away before the shuffle —
  *    they are not inputs to extraction (FIXTURES.md §1), so Parquet column
  *    pruning plus the narrow projection keeps them off the wire entirely.
  *  - Skew (north_rule "explicit skew handling"): docs above giantThreshold
  *    are byte-skew outliers (100 MB nginx cap analog, nginx.conf:46-47).
  *    The split is POST-dedup on winner length: the small branch keeps the
  *    aggregate's hash(url) partitioning (a filter preserves partitioning,
  *    no exchange), the giant branch (~1% of rows) gets a dedicated
  *    round-robin exchange for one-giant-per-task placement. The branches
  *    form a filter diamond over the SAME aggregate and ReuseExchange
  *    collapses their identical shuffle subtrees — payload scanned once,
  *    shuffle-written once, shuffle-read twice (the deliberate, bounded
  *    cost). Nothing is collected or broadcast, so the plan is size-
  *    independent: it survives 10^12 docs where a giant-URL broadcast
  *    (1% of urls >> broadcast limit) breaks.
  *  - Extraction is a narrow typed map with per-partition init (UnoServer
  *    warmup analog, docsbox/__init__.py:64-65); it never throws — bad rows
  *    become status rows (tasks.py:102-103).
  *  - Resume: left_anti against committed urls, planned AFTER dedup so it
  *    joins narrow unique rows; Catalyst broadcast-selects when the
  *    committed side is small, SMJ otherwise (the deduped side is already
  *    hash-partitioned on url, so only the committed side moves).
  */
object ExtractPipeline {

  // derived once per JVM, not per `run`: one ExpressionEncoder derivation
  // takes 10-15 ms of planning time
  private implicit val rawDocEncoder: Encoder[RawDoc] = Encoders.product[RawDoc]
  private implicit val extractedRowEncoder: Encoder[ExtractedRow] = Encoders.product[ExtractedRow]

  case class Config(
      /** Width of the giant branch's round-robin exchange, and nothing
        * else: the dedup exchange is a `groupBy`, so its width comes from
        * `spark.sql.shuffle.partitions` (which AQE may coalesce), and the
        * colocated path has no exchange at all. */
      partitions: Int = 32,
      giantThreshold: Int = 100 * 1024,
      inputSnapshotId: Long = 0L,
      /** Input is bucketed by url-hash (CorpusWriter.writePagesBucketed /
        * the production ingest layout), so dedup happens per partition in
        * the map — ZERO shuffles. The contract is exact: every input file's
        * rows are read by ONE task (all versions of a url share a file, and
        * no file is split across read tasks). It is trusted, not checked:
        * a split file yields one row per url per split. Each task's winner
        * map must fit in task memory (buckets are sized at write time);
        * residual skew is handled by the per-doc work caps
        * (HtmlParser.MaxNodes).
        *
        * A guard that tests `_metadata.file_block_start == 0` alone is NOT
        * the contract: parquet hands a row group to the split holding its
        * midpoint, so a split file whose single row group lands in a later
        * split is read whole by that later task — legal — yet that task's
        * block starts past 0. `graft.Bench` reads 64 bucket files at
        * `maxPartitionBytes=8m` and may produce exactly that layout
        * (unverified) — check it before writing any guard. */
      assumeColocated: Boolean = false,
      /** Target PDF/A version: drives the attachment re-attach policy
        * (ops.Attachments, utils.py:464-507). "3" = keep all (default). */
      outputPdfVersion: String = "3",
      /** Committed output projection (conversion-format analog,
        * utils.py:57-64): "spans" (default) = full rows incl. spans +
        * attachments; "text" = text-only table (structural columns
        * dropped at commit). Per-table, validated by JobOptions. */
      conversionFormat: String = "spans",
      /** Thumbnail artifact size WxH (thumbnails-option analog,
        * utils.py:99-115, tasks.py:186-201): when set, runAndCommit also
        * writes a `_thumbnails/snap-<id>` sidecar with one real PNG of this
        * size per finished document. None (default) = no artifact pass. */
      thumbnails: Option[(Int, Int)] = None)

  /** Last-write-wins per url via a window — the reference implementation of
    * the dedup semantics (Redis key overwrite analog, views.py:255,271);
    * kept for tests/oracle use. The hot path uses the fused aggregate in
    * [[run]] (same winners, one shuffle, narrow rows). */
  def dedupLatest(pages: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("url"))
      .orderBy(col("warc_ts").desc, tieHash(col("html")).desc)
    pages.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
  }

  /** Dedup tie-break hash. NULL html hashes as the EMPTY payload — the
    * same normalization the extract stages apply — so the shuffle,
    * window, and colocated paths all pick the same winner for a
    * same-timestamp (null, non-null) duplicate pair (invariant 1). */
  private def tieHash(html: org.apache.spark.sql.Column) =
    xxhash64(coalesce(html, lit(Array.emptyByteArray)))

  /** Fused dedup + placement on narrow rows: (url, warc_ts, html) ->
    * (url, warc_ts, html) with ONE winner row per url, hash-partitioned by
    * url. Winner ordering matches [[dedupLatest]]: (warc_ts, tieHash(html))
    * descending; the winner's warc_ts rides along in the max_by payload
    * struct (12 bytes next to the html bytes) for downstream curation. */
  private def dedupNarrow(narrow: DataFrame): DataFrame =
    narrow.groupBy(col("url"))
      .agg(max_by(struct(col("warc_ts"), col("html")),
        struct(col("warc_ts"), tieHash(col("html")))).as("_w"))
      .select(col("url"), col("_w.warc_ts").as("warc_ts"), col("_w.html").as("html"))

  /** The one place a [[RawDoc]] becomes an [[ExtractedRow]]: per
    * partition, a null html is the empty payload ('corrupted' status row,
    * invariant 4), then sniff -> route -> extract -> validate, then stamp
    * the partition id and input snapshot id. Never throws on bad input. */
  private def extractPartition(inputSnapshotId: Long): Iterator[RawDoc] => Iterator[ExtractedRow] = { it =>
    val pid = TaskContext.getPartitionId()
    it.map { d =>
      val e = Extractor.extract(d.url, if (d.html == null) Array.emptyByteArray else d.html)
      ExtractedRow(e.url, d.warc_ts, e.status, e.mimeType, e.text, e.spans,
        e.textBytes, e.message, e.heuristicsVersion, e.detectedKind,
        e.pdfVersion, e.attachments, pid, inputSnapshotId)
    }
  }

  /** The typed map stage over [[extractPartition]]. */
  def extractStage(docs: Dataset[RawDoc], cfg: Config): Dataset[ExtractedRow] = {
    docs.mapPartitions(extractPartition(cfg.inputSnapshotId))
  }

  /** Last-write-wins inside one partition, for url-bucketed input where all
    * versions of a url are co-located: the winner is the max of
    * (warc_ts, tie hash), the same order as [[dedupLatest]]. */
  private def latestPerUrl(it: Iterator[RawDoc]): Iterator[RawDoc] = {
    val best = new java.util.HashMap[String, (RawDoc, Long)]()
    it.foreach { d =>
      // same tie hash as tieHash(html): null hashes as the empty payload
      val html = if (d.html == null) Array.emptyByteArray else d.html
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        html, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, html.length, 42L)
      val prev = best.get(d.url)
      val cmp = if (prev == null) 1 else d.warc_ts.compareTo(prev._1.warc_ts)
      if (cmp > 0 || (cmp == 0 && h > prev._2)) best.put(d.url, (d, h))
    }
    best.values().iterator().asScala.map(_._1)
  }

  /** Build the extraction input: one winner per url, minus the committed
    * urls `done` (None on a first run), placed for the extract stage.
    *
    * Colocated input (`cfg.assumeColocated`) dedups inside each scan task
    * with [[latestPerUrl]]; nothing moves unless the resume anti-join
    * shuffles the winners (only when the committed side is too big to
    * broadcast).
    *
    * Otherwise giant handling (north_rule "explicit skew handling") is
    * POST-dedup: the global winner set is computed once by the fused
    * aggregate (the one payload shuffle), then split by winner length — the
    * small branch keeps the aggregate's hash(url) partitioning untouched
    * (filter preserves partitioning), the giant branch (~1% of rows) gets a
    * dedicated round-robin exchange for one-giant-per-task placement. The
    * two branches are a filter diamond over the SAME aggregate: Spark's
    * ReuseExchange collapses their identical shuffle subtrees, so payload
    * bytes are scanned once and shuffle-WRITTEN once (the reduce side reads
    * the shuffle twice — asserted in PipelineSpec). No url set is ever
    * collected or broadcast, so the plan survives 10^12 docs where the
    * round-1 giant-url broadcast (1% of urls >> broadcast limit) breaks. */
  private def planInput(pages: DataFrame, cfg: Config, done: Option[DataFrame]): Dataset[RawDoc] = {
    val narrow = pages.where(validUrl).select(col("url"), col("warc_ts"), col("html"))
    if (cfg.assumeColocated)
      minusDone(narrow.as[RawDoc].mapPartitions(latestPerUrl).toDF(), done).as[RawDoc]
    else {
      val winners = minusDone(dedupNarrow(narrow), done)
      // null html must land in the SMALL branch (length(null) is NULL and
      // would fail BOTH predicates, silently dropping the row): the
      // extract stage maps it to an empty payload -> 'corrupted' status
      // row, preserving the error-as-value contract (invariant 4)
      val htmlLen = coalesce(length(col("html")), lit(0))
      val small = winners.where(htmlLen <= cfg.giantThreshold)
      val giant = winners.where(htmlLen > cfg.giantThreshold)
        .repartition(cfg.partitions)
      small.unionByName(giant).as[RawDoc]
    }
  }

  /** Narrow emptiness probe for resume: reads ONLY the url column (parquet
    * column pruning), anti-joins committed urls, early-exits on the first
    * remaining row. Replaces the round-1 `todo.isEmpty`, which executed the
    * full payload shuffle once for the probe and again for the real run. */
  private def hasWork(pages: DataFrame, done: Option[DataFrame]): Boolean =
    !minusDone(pages.where(validUrl).select(col("url")), done).isEmpty

  /** Input validation at the scan (uuid-check analog, utils.py:263-264): a
    * null/empty url cannot be keyed, joined, or golden-compared. */
  private def validUrl = col("url").isNotNull && length(col("url")) > 0

  /** The rows of `df` whose url is not among the committed urls `done`. */
  private def minusDone(df: DataFrame, done: Option[DataFrame]): DataFrame =
    done.fold(df)(d => df.join(d.select(col("url")).distinct(), Seq("url"), "left_anti"))

  /** The one planner behind [[run]] and [[runAndCommit]]. */
  private def plan(pages: DataFrame, cfg: Config, done: Option[DataFrame]): Dataset[ExtractedRow] =
    applyAttachmentPolicy(extractStage(planInput(pages, cfg, done), cfg), cfg)

  /** Full pipeline (no sink): pages DataFrame -> extracted Dataset. */
  def run(pages: DataFrame, cfg: Config = Config()): Dataset[ExtractedRow] =
    plan(pages, cfg, None)

  /** Attachment re-attach policy as a nested codegen'd filter over the
    * attachments column (identity for the default "3" = keep-all). */
  private def applyAttachmentPolicy(
      out: Dataset[ExtractedRow], cfg: Config): Dataset[ExtractedRow] = {
    if (cfg.outputPdfVersion == "3") out
    else {
      out.toDF()
        .withColumn("attachments",
          graft.ops.Attachments.applyPolicy(col("attachments"), cfg.outputPdfVersion))
        .as[ExtractedRow]
    }
  }

  /** Per-status counters (log_task_completion analog, tasks.py:203-220):
    * partial+final HashAggregate, map-side combined by Catalyst. */
  def counters(extracted: Dataset[ExtractedRow]): DataFrame =
    extracted.groupBy(col("status"))
      .agg(count(lit(1)).as("docs"), sum(col("textBytes")).as("bytes"))

  /** Per-partition lineage (north_rule: partition id, input snapshot id,
    * heuristics version, row counts). */
  def lineage(extracted: Dataset[ExtractedRow]): DataFrame =
    extracted.groupBy(col("partitionId"))
      .agg(
        count(lit(1)).as("docs"),
        sum(col("textBytes")).as("bytes"),
        first(col("inputSnapshotId")).as("inputSnapshotId"),
        first(col("heuristicsVersion")).as("heuristicsVersion"))

  /** End-to-end job with commit + idempotent resume: extract only urls not in
    * the committed output (read-through-cache analog, views.py:249-272),
    * append a snapshot with its `_counters`/`_lineage` (and optional
    * `_thumbnails`) sidecars, all visible at once.
    * Returns the committed snapshot id, or -1 if nothing was left to do. */
  def runAndCommit(
      spark: SparkSession,
      pages: DataFrame,
      outputRoot: String,
      cfg: Config = Config()): Long = {
    val table = new SnapshotTable(outputRoot)
    // refuse to mix committed projections in one chain (schema consistency);
    // manifests that predate the key mean the pre-upgrade default "spans"
    table.requireMetaConsistent("conversionFormat", cfg.conversionFormat,
      defaultForMissing = "spans")
    val done = table.read(spark).map(_.select(col("url")))
    if (!hasWork(pages, done)) return -1L
    val extracted = plan(pages, cfg, done)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val projected = cfg.conversionFormat match {
        case "text" => extracted.toDF().drop("spans", "attachments")
        case _ => extracted.toDF()
      }
      table.commit(projected, Map(
          "heuristicsVersion" -> Heuristics.Version,
          "inputSnapshotId" -> cfg.inputSnapshotId.toString,
          "conversionFormat" -> cfg.conversionFormat,
          "outputPdfVersion" -> cfg.outputPdfVersion),
        // every sidecar, incl. the thumbnail fan-out (A21 analog: one WxH PNG
        // per finished doc), reads the SAME persisted extraction
        sidecars = _ => Map("_counters" -> counters(extracted), "_lineage" -> lineage(extracted)) ++
          cfg.thumbnails.map { case (w, h) =>
            "_thumbnails" -> graft.ops.Thumbnails.generate(extracted, w, h) })
    } finally extracted.unpersist()
  }
}
