package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.RawDoc
import graft.pipeline.ExtractPipeline

/** Structured Streaming variant of the extraction pipeline: the reference's
  * poll-based RQ queue (docsbox/docs/tasks.py:16-18, views.py:139) re-expressed
  * as a file stream — new page files appear, micro-batches extract them,
  * results append to the output table. Extraction itself is per-row and
  * stateless, so the batch extractor is reused verbatim; the only streaming
  * state is the optional url-dedup store (see [[StreamingExtract.UrlDedup]]
  * for the exact-vs-bounded trade-off).
  *
  * Scale notes: the map stage is narrow (scales with executors exactly like
  * the batch job); the url-dedup state store is either exact-but-unbounded
  * (Global) or watermark-bounded-but-late-dropping (Bounded) — the two real
  * choices Spark offers, exposed explicitly rather than papered over.
  * Checkpointing gives exactly-once file sink semantics (the streaming
  * analog of the snapshot-commit protocol).
  */
object StreamingExtract {

  val PagesSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** File-source stream of pages. */
  def pagesStream(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream
      .schema(PagesSchema)
      .option("maxFilesPerTrigger", "8")
      .parquet(inputDir)

  /** Stateless extraction over a (possibly deduped) pages stream. */
  def extracted(pages: DataFrame, cfg: ExtractPipeline.Config): DataFrame = {
    import pages.sparkSession.implicits._
    ExtractPipeline.extractStage(
      pages.select(col("url"), col("warc_ts"), col("html")).as[RawDoc], cfg).toDF()
  }

  /** Url-dedup modes for the streaming source — two honest trade-offs,
    * empirically pinned (StreamingSpec):
    *
    *  - `Global` (default): `dropDuplicates("url")` — EXACT first-wins over
    *    the run's whole history, and late backfill rows (old crawls
    *    replayed later) are still processed. The cost, stated plainly:
    *    state holds one entry per distinct url and the watermark does NOT
    *    evict it (eviction requires the event-time column among the dedup
    *    keys) — unbounded at open-crawl scale, fine for bounded drains;
    *    the snapshot table's dedup remains the global source of truth.
    *  - `Bounded`: `dropDuplicatesWithinWatermark("url")` — state IS
    *    evicted at the watermark horizon, but the operator HARD-DROPS rows
    *    whose event time is older than the watermark (measured: a
    *    T-minus-2h backfill batch vanishes entirely). Right for live
    *    tailing where late data is noise; WRONG for backfills.
    *  - `Off`: no dedup; every page row is extracted.
    */
  sealed trait UrlDedup
  object UrlDedup {
    case object Off extends UrlDedup
    case object Global extends UrlDedup
    case object Bounded extends UrlDedup
  }

  /** Dedup a pages stream per [[UrlDedup]].
    *
    * Global mode declares NO watermark at all — on purpose. A watermark
    * with url-only dedup keys evicts nothing (eviction needs the
    * event-time column among the keys), and worse, if the event-time
    * column survives into the dedup operator's input schema the operator
    * hard-drops rows older than the watermark; an earlier cut only kept
    * backfills because Catalyst's ColumnPruning happened to remove the
    * derived event-time column below the Deduplicate node — a correctness
    * property hanging off an optimizer rule. Plain `dropDuplicates` is
    * behaviorally identical (measured) with no such dependency.
    *
    * Bounded mode declares the watermark on a DERIVED copy of warc_ts
    * dropped after the dedup, so the carried-through output column never
    * acquires event-time metadata; the within-watermark operator reads the
    * event time by design and hard-drops late rows regardless. */
  private def dedupStream(src: org.apache.spark.sql.DataFrame,
      mode: UrlDedup, watermark: String): org.apache.spark.sql.DataFrame =
    mode match {
      case UrlDedup.Off => src
      case UrlDedup.Global => src.dropDuplicates("url")
      case UrlDedup.Bounded =>
        src.withColumn("_event_ts", col("warc_ts"))
          .withWatermark("_event_ts", watermark)
          .dropDuplicatesWithinWatermark("url")
          .drop("_event_ts")
    }

  /** Start the extraction stream: inputDir (parquet pages) -> outputDir
    * (parquet extracted rows), exactly-once via checkpoint. `urlDedup`
    * picks the dedup/state trade-off — see [[UrlDedup]]. */
  def start(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      cfg: ExtractPipeline.Config = ExtractPipeline.Config(),
      urlDedup: UrlDedup = UrlDedup.Global,
      watermark: String = "1 hour"): StreamingQuery = {
    val src = pagesStream(spark, inputDir)
    val unique = dedupStream(src, urlDedup, watermark)
    extracted(unique, cfg)
      .writeStream
      .format("parquet")
      .option("path", outputDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
  }

  /** Streaming curation: the batch curate chain (extract -> exact dedup ->
    * optional passage dedup -> blocklist -> quality/repetition filters ->
    * per-domain cap -> PII redaction) applied INSIDE each micro-batch via
    * foreachBatch — proving the hygiene operators compose with the
    * streaming source unchanged.
    *
    * Semantics, stated plainly: DEDUP is per-micro-batch here (streaming
    * cannot window over data it has not seen; the url-dedup state store
    * still spans batches upstream), and global cross-batch dedup remains
    * a batch/compaction concern. The per-domain CAP, however, is enforced
    * ACROSS batches: the cumulative (domain, kept) counts, committed as
    * each snapshot's `_counts` sidecar, feed
    * [[graft.pipeline.Curate.curate]]'s `priorDomainKept`, so each batch
    * admits only the cap REMAINDER per domain (within a batch the
    * earliest-crawl rule applies, across batches arrival order wins — a
    * stream cannot reorder the past). foreachBatch runs batches
    * sequentially, so read-prior/write-next is race-free; NOT
    * mapGroupsWithState, because the cap decision needs the whole curate
    * chain's SURVIVORS. The per-row stages are identical to the batch job.
    *
    * Sink: each micro-batch is one [[graft.table.SnapshotTable.commit]]
    * into `outputDir` (meta `streamBatch`), so it reads, mixes, compacts
    * and sweeps like every other table. A batch at or below the head's
    * `streamBatch` is a replay (foreachBatch is at-least-once): it is
    * drained, not committed. */
  def startCurated(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      opts: graft.pipeline.CurateOptions,
      cfg: ExtractPipeline.Config = ExtractPipeline.Config(),
      urlDedup: UrlDedup = UrlDedup.Global,
      watermark: String = "1 hour"): StreamingQuery = {
    // near-dedup checkpoints default to the (shared-storage) output root,
    // exactly like Curate.run — never the driver-local fallback
    if (opts.nearDedup.isDefined && spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(s"$outputDir/_checkpoints")
    // the decontaminate option is honored here exactly like Curate.run:
    // the benchmark is a BATCH table, read + validated once up front (a
    // bad path/schema fails at start, not mid-stream). Its distinct
    // gram-hash set is derived ONCE and persisted — without this, every
    // micro-batch would re-scan + re-shingle + re-distinct the benchmark,
    // and for a long-lived stream of small batches that repeated work
    // dominates the (tiny) per-batch probe cost.
    val benchGrams = opts.decontaminatePath.map { p =>
      val bg = graft.ops.Dedup.benchGramHashes(
        graft.pipeline.Curate.readBench(spark, p))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bg.count() // materialize before the stream starts
      bg
    }
    val src = pagesStream(spark, inputDir)
    val unique = dedupStream(src, urlDedup, watermark)
    def keptPerDomain(df: DataFrame) = df.groupBy(col("domain")).agg(count(lit(1)).as("kept"))
    def commitBatch(batch: DataFrame, batchId: Long): Unit = {
      val table = new graft.table.SnapshotTable(outputDir)
      val head = table.currentSnapshotId.map(table.readManifest)
      if (head.flatMap(_.meta.get("streamBatch")).exists(_.toLong >= batchId))
        // a replay still drains the batch: the url-dedup state stores must
        // commit it (Spark fails a batch that left a state partition idle)
        batch.write.format("noop").mode("overwrite").save()
      else {
        // cumulative counts as of the head: its `_counts` sidecar, or derived
        // from the table once when compact or batch curate wrote the head
        val prior = head.flatMap(h => table.readSidecar(spark, "_counts", h.id)
          .orElse(table.read(spark).map(keptPerDomain)))
        // the extracted batch is referenced from BOTH curate chains (the
        // tapped output and the metadata cap-rank twin) — persist it for
        // the batch's duration so extraction runs once per row, not
        // twice; a micro-batch (maxFilesPerTrigger-bounded) is safe to
        // cache at any corpus scale
        val rows = extracted(batch, cfg).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try table.commit(graft.pipeline.Curate.curate(rows, opts, benchGrams, priorDomainKept = prior),
            meta = Map("job" -> "stream-curate", "streamBatch" -> batchId.toString, "options" -> opts.render),
            // the cumulative counts AFTER this batch, from its written rows
            sidecars = written => Map("_counts" -> (prior.toSeq :+ keptPerDomain(written))
              .reduce(_.unionByName(_)).groupBy(col("domain")).agg(sum(col("kept")).as("kept"))))
        finally rows.unpersist()
      }
    }
    unique.writeStream
      .foreachBatch(commitBatch _)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
  }

  /** Per-host crawl-session state (custom keyed state via
    * mapGroupsWithState): tracks, per url host, a running doc count, byte
    * total, and last-seen event time; a processing-time timeout closes idle
    * hosts and emits their final summary. The streaming analog of the
    * reference's per-worker bookkeeping (log_task_completion,
    * docsbox/docs/tasks.py:203-220) with bounded keyed state. */
  case class HostState(docs: Long, bytes: Long, lastTs: Long)
  case class HostUpdate(host: String, docs: Long, bytes: Long, closed: Boolean)

  def hostStats(pages: DataFrame, idleTimeout: Option[String] = None)
      : org.apache.spark.sql.Dataset[HostUpdate] = {
    import pages.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val byHost = pages
      .select(col("url"), col("warc_ts"), length(col("html")).cast("long").as("sz"))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey { case (url, _, _) =>
        val i = url.indexOf("//")
        val rest = if (i >= 0) url.substring(i + 2) else url
        val j = rest.indexOf('/')
        if (j >= 0) rest.substring(0, j) else rest
      }
    // NB: a processing-time timeout keeps the query triggering even with no
    // new input (that is its point: closing idle hosts) — so drain-style
    // callers (processAllAvailable) should pass None
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    byHost.mapGroupsWithState(timeoutConf) {
      (host: String, rows: Iterator[(String, java.sql.Timestamp, Long)],
       state: GroupState[HostState]) =>
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          HostUpdate(host, s.docs, s.bytes, closed = true)
        } else {
          var docs = 0L
          var bytes = 0L
          var last = 0L
          rows.foreach { case (_, ts, sz) =>
            docs += 1; bytes += sz; last = math.max(last, ts.getTime)
          }
          val prev = state.getOption.getOrElse(HostState(0L, 0L, 0L))
          val next = HostState(prev.docs + docs, prev.bytes + bytes,
            math.max(prev.lastTs, last))
          state.update(next)
          idleTimeout.foreach(state.setTimeoutDuration)
          HostUpdate(host, next.docs, next.bytes, closed = false)
        }
    }
  }

  /** Event-time status counts per window — the live-counters surface
    * (status-view analog, views.py:28-60): watermarked tumbling window so
    * late pages beyond the watermark are dropped and state stays bounded. */
  def windowedStatusCounts(
      spark: SparkSession,
      inputDir: String,
      cfg: ExtractPipeline.Config = ExtractPipeline.Config(),
      window: String = "10 minutes",
      watermark: String = "1 hour"): DataFrame = {
    // keep warc_ts through extraction for event-time grouping; the single
    // watermark is declared on the post-extraction frame (redefining one
    // across a map boundary is disallowed)
    val ex = extracted(pagesStream(spark, inputDir), cfg)
    ex.withWatermark("warc_ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("warc_ts"), window), col("status"))
      .agg(count(lit(1)).as("docs"), sum(col("textBytes")).as("bytes"))
  }
}
