package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.CorpusWriter
import graft.pipeline.ExtractPipeline
import graft.table.SnapshotTable

/** Partitioning-invariance + counters/lineage properties (SURVEY.md §5.2.3):
  * table CONTENT must be independent of partition count and placement —
  * the sandbox evidence for multi-executor determinism. */
class PipelineSpec extends AnyFunSuite {

  private def contentFingerprint(partitions: Int, genParts: Int): Map[String, (String, Long, String)] = {
    val spark = TestSpark.spark
    val pages = CorpusWriter.pagesDs(spark, 300L, partitions = genParts)
    ExtractPipeline.run(pages, ExtractPipeline.Config(partitions = partitions))
      .collect()
      .map { e =>
        val sha = java.security.MessageDigest.getInstance("SHA-256").digest(e.text)
          .map(b => f"$b%02x").mkString
        e.url -> ((e.status, e.textBytes, sha + "|" + e.spans.mkString(",")))
      }.toMap
  }

  test("output content is invariant to partitioning (3x5 vs 17x2)") {
    val a = contentFingerprint(partitions = 3, genParts = 5)
    val b = contentFingerprint(partitions = 17, genParts = 2)
    assert(a == b)
  }

  test("counters: per-status docs sum to input urls; bytes match") {
    val spark = TestSpark.spark
    val pages = CorpusWriter.pagesDs(spark, 300L, partitions = 4)
    val extracted = ExtractPipeline.run(pages, ExtractPipeline.Config(partitions = 6))
    val cnt = ExtractPipeline.counters(extracted).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val urls = ExtractPipeline.dedupLatest(pages).count()
    assert(cnt.values.sum == urls)
    assert(cnt.keySet.subsetOf(graft.core.Status.All.toSet))
    assert(cnt("finished") > 0 && cnt.getOrElse("corrupted", 0L) > 0)
  }

  test("lineage: every row carries partition + snapshot id; rows cover input") {
    val spark = TestSpark.spark
    val pages = CorpusWriter.pagesDs(spark, 200L, partitions = 4)
    val extracted = ExtractPipeline.run(pages,
      ExtractPipeline.Config(partitions = 5, inputSnapshotId = 7L))
    val lin = ExtractPipeline.lineage(extracted)
    val rows = lin.collect()
    assert(rows.map(_.getAs[Long]("docs")).sum == ExtractPipeline.dedupLatest(pages).count())
    assert(rows.forall(_.getAs[Long]("inputSnapshotId") == 7L))
    assert(rows.forall(_.getAs[String]("heuristicsVersion") == graft.core.Heuristics.Version))
  }

  test("colocated (bucketed, zero-shuffle) mode equals the shuffle pipeline") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    CorpusWriter.writePagesBucketed(spark, 300L, dir, buckets = 6)
    val bucketed = spark.read.parquet(dir)
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      (r.getString(0), r.getString(1), r.getLong(2),
        java.util.Arrays.hashCode(r.getAs[Array[Byte]](3)))
    }.toSet
    val colocated = ExtractPipeline.run(bucketed,
      ExtractPipeline.Config(assumeColocated = true))
      .select("url", "status", "textBytes", "text").collect()
    val shuffled = ExtractPipeline.run(bucketed, ExtractPipeline.Config(partitions = 5))
      .select("url", "status", "textBytes", "text").collect()
    assert(key(colocated) == key(shuffled))
    assert(colocated.length == ExtractPipeline.dedupLatest(bucketed).count())
  }

  test("plan shape: payload shuffle written once; colocated plan has no exchange") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    val spark = TestSpark.spark
    val plans = new AdaptiveSparkPlanHelper {}
    // un-bucketed input: the small/giant diamond shares ONE dedup exchange
    val shuffled = ExtractPipeline.run(CorpusWriter.pagesDs(spark, 300L, partitions = 3),
      ExtractPipeline.Config(partitions = 4))
    shuffled.collect() // executes THIS query, so AQE finalizes its plan
    val fin = shuffled.queryExecution.executedPlan
    assert(plans.collect(fin) { case r: ReusedExchangeExec => r }.nonEmpty,
      s"giant branch must reuse the dedup exchange:\n$fin")
    // bucketed input on the colocated path: no exchange of any kind
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-shape").toString
    CorpusWriter.writePagesBucketed(spark, 200L, dir, buckets = 4)
    val colocated = ExtractPipeline.run(spark.read.parquet(dir),
      ExtractPipeline.Config(assumeColocated = true))
    colocated.collect()
    val cfin = colocated.queryExecution.executedPlan
    assert(plans.collect(cfin) { case e: Exchange => e }.isEmpty,
      s"colocated path must not exchange:\n$cfin")
  }

  test("runAndCommit: colocated resume over growing bucketed input equals the shuffle path") {
    val spark = TestSpark.spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-colocated-resume").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "status", "textBytes", "text").collect().map { r =>
        (r.getString(0), r.getString(1), r.getLong(2),
          java.util.Arrays.hashCode(r.getAs[Array[Byte]](3)))
      }.toSet
    val steps = Seq(150L, 300L).zipWithIndex.map { case (n, step) =>
      val in = s"$tmp/in-$step"
      CorpusWriter.writePagesBucketed(spark, n, in, buckets = 4)
      val pages = spark.read.parquet(in)
      val ids = (
        ExtractPipeline.runAndCommit(spark, pages, s"$tmp/colocated",
          ExtractPipeline.Config(assumeColocated = true)),
        ExtractPipeline.runAndCommit(spark, pages, s"$tmp/shuffle",
          ExtractPipeline.Config(partitions = 4)))
      (ids, pages.select("url").distinct().count())
    }
    assert(steps.map(_._1) == Seq((0L, 0L), (1L, 1L)))
    val Seq(firstUrls, allUrls) = steps.map(_._2)
    // the second step resumed: it extracted only the urls the first lacked
    assert(spark.read.parquet(s"$tmp/colocated/data/snap-1").count() == allUrls - firstUrls)
    val colocated = rows(new SnapshotTable(s"$tmp/colocated").read(spark).get)
    assert(colocated.size == allUrls)
    assert(colocated == rows(new SnapshotTable(s"$tmp/shuffle").read(spark).get))
  }

  test("cross-tier dedup: a url with small AND giant versions keeps one global winner") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.core.Page
    def ts(ms: Long) = new java.sql.Timestamp(1735689600000L + ms)
    val small = "small version".getBytes("UTF-8")
    val giant = ("<html><body><article>" +
      ("<p>" + ("giant words repeated here for classifier volume " * 20) + "</p>") * 60 +
      "</article></body></html>").getBytes("UTF-8")
    assert(giant.length > 10 * 1024)
    val rows = Seq(
      Page("https://x.test/doc-a", ts(1000), small, null, "en"), // older small
      Page("https://x.test/doc-a", ts(9000), giant, null, "en"), // newer GIANT wins
      Page("https://x.test/doc-b", ts(9000), small, null, "en"), // newer small wins
      Page("https://x.test/doc-b", ts(1000), giant, null, "en"))
    val pages = spark.createDataset(rows).toDF().repartition(3)
    // threshold between the two sizes puts the versions in DIFFERENT tiers
    val out = ExtractPipeline.run(pages,
      ExtractPipeline.Config(partitions = 4, giantThreshold = 10 * 1024))
      .collect().map(e => e.url -> e.textBytes).toMap
    assert(out.size == 2, s"one row per url, got ${out.keySet}")
    val gOut = graft.extract.Extractor.extract("u", giant).textBytes
    val sOut = graft.extract.Extractor.extract("u", small).textBytes
    assert(out("https://x.test/doc-a") == gOut, "doc-a must keep the giant (newer)")
    assert(out("https://x.test/doc-b") == sOut, "doc-b must keep the small (newer)")
  }

  test("null-html rows survive the giant split as corrupted status rows") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.core.Page
    def ts(ms: Long) = new java.sql.Timestamp(1735689600000L + ms)
    val rows = Seq(
      Page("https://x.test/null-doc", ts(1000), null, null, "en"),
      Page("https://x.test/ok-doc", ts(1000),
        "plain text body with enough words".getBytes("UTF-8"), null, "en"))
    val pages = spark.createDataset(rows).toDF().repartition(2)
    val out = ExtractPipeline.run(pages, ExtractPipeline.Config(partitions = 2))
      .collect().map(e => e.url -> e.status).toMap
    assert(out.size == 2, s"null-html row dropped: ${out.keySet}")
    assert(out("https://x.test/null-doc") == "corrupted")
    // and identically through the zero-shuffle colocated path
    val out2 = ExtractPipeline.run(pages,
        ExtractPipeline.Config(assumeColocated = true))
      .collect().map(e => e.url -> e.status).toMap
    assert(out2 == out)
  }

  test("curate: exact dedup + blocklist on crafted rows") {
    val spark = TestSpark.spark
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(1735689600000L + s * 1000L)
    val crafted = Seq(
      ("https://a.x.test/2", ts(1), "finished", "text/plain", 9L, "same text"),
      ("https://a.x.test/1", ts(2), "finished", "text/plain", 9L, "same text"),
      ("https://b.y.test/1", ts(3), "finished", "text/plain", 10L, "other text"),
      ("https://c.z.test/1", ts(4), "finished", "text/plain", 7L, "z words"),
      ("https://d.x.test/9", ts(5), "failed", "text/plain", 0L, ""))
      .toDF("url", "warc_ts", "status", "mimeType", "textBytes", "text")
    val out = graft.pipeline.Curate.curate(crafted,
        graft.pipeline.CurateOptions(cap = 10, block = Seq("z.test")))
      .collect().map(_.getString(0)).toSet
    // dup text: smallest url wins; blocklisted z.test dropped; failed dropped
    assert(out == Set("https://a.x.test/1", "https://b.y.test/1"))
  }

  test("curate: per-domain cap keeps the EARLIEST crawls, not smallest urls") {
    val spark = TestSpark.spark
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(1735689600000L + s * 1000L)
    // warc_ts order is the REVERSE of url order: a url-ordered cap would
    // keep /1 and /2; the earliest-crawl cap must keep /4 and /3
    val crafted = (1 to 4).map(i =>
      (s"https://one.dom.test/$i", ts(10 - i), "finished", "text/plain",
        6L + i, s"doc number $i"))
      .toDF("url", "warc_ts", "status", "mimeType", "textBytes", "text")
    val kept = graft.pipeline.Curate.curate(crafted,
        graft.pipeline.CurateOptions(cap = 2))
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("https://one.dom.test/4", "https://one.dom.test/3"),
      s"cap must order by (warc_ts, url): $kept")
  }

  test("curate: skew-safe cap equals the direct window and shuffles no text") {
    val spark = TestSpark.spark
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(1735689600000L + s * 1000L)
    // skewed domains (7/3/1 docs), distinct texts so dedup keeps all
    val crafted = (
      (1 to 7).map(i => (s"https://hot.a.test/$i", ts(20 - i), s"hot doc $i body")) ++
      (1 to 3).map(i => (s"https://warm.b.test/$i", ts(i), s"warm doc $i body")) ++
      Seq(("https://cold.c.test/1", ts(9), "cold doc body")))
      .map { case (u, t, x) => (u, t, "finished", "text/plain", 10L, x) }
      .toDF("url", "warc_ts", "status", "mimeType", "textBytes", "text")
    val curated = graft.pipeline.Curate.curate(crafted,
      graft.pipeline.CurateOptions(cap = 2))
    // reference: the DIRECT window formulation (rank the full rows) — the
    // r5 shape; the metadata-rank + semi-join rewrite must keep the
    // identical row set
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(graft.ops.Urls.registeredDomain(col("url")))
      .orderBy(col("warc_ts"), col("url"))
    val ref = crafted.where(col("status") === "finished")
      .withColumn("_rn", row_number().over(w)).where(col("_rn") <= 2)
      .select("url").collect().map(_.getString(0)).toSet
    val got = curated.select("url").collect().map(_.getString(0)).toSet
    assert(got == ref, s"got $got, want $ref")
    // plan audit: no window operator in the curate plan may consume text —
    // payloads must never enter the skewed domain-key exchange (r5 verdict
    // What's wrong #1). Checked on the OPTIMIZED logical plan (column
    // pruning already applied, and AQE hides physical children).
    val windows = curated.queryExecution.optimizedPlan.collect {
      case n: org.apache.spark.sql.catalyst.plans.logical.Window => n
    }
    assert(windows.nonEmpty, "expected a window operator in the cap stage")
    windows.foreach { n =>
      val cols = n.child.output.map(_.name)
      assert(!cols.contains("text"),
        s"window operator reads text payloads: ${n.nodeName} <- $cols")
    }
  }

  test("curate: end-to-end over a committed snapshot (cap, pii redaction)") {
    val spark = TestSpark.spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-curate-").toString
    val pages = CorpusWriter.pagesDs(spark, 300L, partitions = 4)
    val id = ExtractPipeline.runAndCommit(spark, pages, s"$tmp/out",
      ExtractPipeline.Config(partitions = 8))
    assert(id >= 0)
    val res = graft.pipeline.Curate.run(spark, s"$tmp/out", s"$tmp/curated",
      graft.pipeline.CurateOptions(cap = 10, block = Seq("example-3.test"),
        paraMaxDocs = 2))
    assert(res.exists(_.kept > 0))
    // stage counters observed during the write: monotone non-increasing
    // through the chain, starting at the finished-row count
    val stages = res.get.stages
    assert(stages.map(_._1) ==
      Seq("finished", "deduped", "para-deduped", "unblocked"), stages)
    assert(stages.map(_._2) == stages.map(_._2).sorted.reverse, stages)
    assert(stages.last._2 >= res.get.kept)
    // curated output is a committed SNAPSHOT table (atomic manifest +
    // CURRENT), not a bare parquet dir — with full lineage in the manifest
    val curTable = new graft.table.SnapshotTable(s"$tmp/curated")
    assert(curTable.currentSnapshotId.contains(res.get.curatedSnapshotId))
    val manifest = curTable.readManifest(res.get.curatedSnapshotId)
    assert(manifest.rowCount == res.get.kept)
    assert(manifest.meta("sourceSnapshot") == id.toString)
    assert(manifest.meta("job") == "curate")
    assert(manifest.meta("options") == "block=example-3.test cap=10 para-dedup=2")
    assert(manifest.meta.contains("stage.finished"), manifest.meta)
    val cur = curTable.read(spark).get
    assert(cur.where(col("domain") === "example-3.test").count() == 0)
    assert(cur.groupBy("domain").count()
      .agg(max("count")).head().getLong(0) <= 10)
    // redaction: PII-bearing docs exist and their text carries no email
    assert(cur.where(col("n_emails") > 0).count() > 0)
    assert(cur.where(col("text").rlike(graft.ops.TextStats.EmailPat)).count() == 0)
    assert(cur.where(col("text").rlike(graft.ops.TextStats.PhonePat)).count() == 0)
    // the para-dedup stage stripped the planted cross-page disclaimers
    graft.corpus.PagesGen.Disclaimers.foreach { d =>
      assert(cur.where(col("text").contains(d)).count() == 0, d.take(30))
    }
  }

  test("curate: unmaterialized expensive input is computed once, not per branch") {
    val spark = TestSpark.spark
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(1735689600000L + s * 1000L)
    val n = 40
    val base = (1 to n).map(i =>
      (s"https://g$i.dom.test/$i", ts(i), "finished", "text/plain", 20L,
        s"unique body $i\nshared para\nmore unique $i words here"))
      .toDF("url", "warc_ts", "status", "mimeType", "textBytes", "text")
    // a typed map playing the role of a live extraction pipeline: the
    // accumulator counts how many times each row is COMPUTED. The r6
    // contract ("persist before calling curate") was scaladoc-only — this
    // pins the r7 guard: a non-file-backed input is checkpointed once,
    // so the multi-branch chain (dedup winners, paragraph hot set, cap
    // rank, tapped + raw twins) computes each row exactly once.
    val acc = spark.sparkContext.longAccumulator("curate-input-scans")
    val counted = base
      .as[(String, java.sql.Timestamp, String, String, Long, String)]
      .map { r => acc.add(1); r }
      .toDF("url", "warc_ts", "status", "mimeType", "textBytes", "text")
    assert(!graft.pipeline.Curate.isCheapRescan(counted))
    assert(graft.pipeline.Curate.isCheapRescan(base))
    val out = graft.pipeline.Curate.curate(counted,
      graft.pipeline.CurateOptions(cap = 5, paraMaxDocs = 2,
        minTokens = Some(2)))
    val kept = out.collect()
    assert(kept.nonEmpty)
    assert(acc.value == n,
      s"input must be computed exactly once (got ${acc.value} for $n rows)")
  }

  test("curate: repetition/quality filters and decontamination drop the right docs") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.pipeline.{Curate, CurateOptions, StageMetrics}
    def ts(s: Long) = new java.sql.Timestamp(1735689600000L + s * 1000L)
    val good = "the quick brown fox jumps over the lazy dog and it is a fine day for all of this"
    val spammy = ("buy now " * 30).trim              // dup_word_frac ≈ 0.97
    val gibberish = "zzz qqq kkk www vvv"            // no stopwords -> low quality
    val leaky = "the secret benchmark answer is exactly forty two here"
    val tiny = "too short entirely"                  // 3 tokens
    val crafted = Seq(
      ("https://a.t.test/good", ts(1), "finished", "text/plain", 10L, good),
      ("https://a.t.test/spam", ts(2), "finished", "text/plain", 10L, spammy),
      ("https://a.t.test/gib", ts(3), "finished", "text/plain", 10L, gibberish),
      ("https://a.t.test/tiny", ts(5), "finished", "text/plain", 10L, tiny),
      ("https://a.t.test/leak", ts(4), "finished", "text/plain", 10L, leaky))
      .toDF("url", "warc_ts", "status", "mimeType", "textBytes", "text")
    // bench shares a 5-gram with `leaky` only
    val bench = Seq("we know the secret benchmark answer is exactly right")
      .toDF("text")
    val metrics = new StageMetrics
    val out = Curate.curate(crafted,
        CurateOptions(cap = 10, maxDupWord = Some(0.5), minQuality = Some(0.4),
          minTokens = Some(5)),
        benchGrams = Some(graft.ops.Dedup.benchGramHashes(bench)),
        metrics = Some(metrics))
      .collect()
    val kept = out.map(_.getString(0)).toSet
    assert(kept == Set("https://a.t.test/good"), s"kept: $kept")
    // the curated lang column carries the d04 guess
    assert(out.map(_.getAs[String]("lang")).toSeq == Seq("en"), out.toSeq)
    val counts = metrics.counts.toMap
    assert(counts("finished") == 5 && counts("deduped") == 5 &&
      counts("unblocked") == 5, counts)
    assert(counts("filtered") == 2, s"spam+gibberish+tiny dropped: $counts")
    assert(counts("decontaminated") == 1, s"leak dropped: $counts")
  }

  test("curate: fuzzy near-dedup keeps one representative per near-dup component") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.pipeline.{Curate, CurateOptions, StageMetrics}
    def ts(s: Long) = new java.sql.Timestamp(1735689600000L + s * 1000L)
    val base = "the quick brown fox jumps over the lazy dog and keeps running through the field today"
    val crafted = Seq(
      ("https://n.t.test/a1", ts(1), "finished", "text/plain", 10L, base),
      // near-dup of a1 (one word appended -> high trigram jaccard), NOT exact
      ("https://n.t.test/a2", ts(2), "finished", "text/plain", 10L, base + " indeed"),
      ("https://n.t.test/b", ts(3), "finished", "text/plain", 10L,
        "completely different content about catalyst optimizer rules and physical planning"))
      .toDF("url", "warc_ts", "status", "mimeType", "textBytes", "text")
    val metrics = new StageMetrics
    val kept = Curate.curate(crafted,
        CurateOptions(cap = 10, nearDedup = Some(0.7)),
        metrics = Some(metrics))
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("https://n.t.test/a1", "https://n.t.test/b"),
      s"near-dup a2 must collapse into a1: $kept")
    val counts = metrics.counts.toMap
    assert(counts("deduped") == 3 && counts("near-deduped") == 2, counts)
  }

  test("curate options: strict parse (unknown/dup keys, fractions, paths)") {
    import graft.pipeline.CurateOptions
    val ok = CurateOptions.parse(Seq("cap=50", "block=a.test,b.test",
      "para-dedup=3", "min-quality=0.25", "max-dup-word=0.5",
      "max-top-bigram=0.18", "min-tokens=40", "near-dedup=0.85",
      "decontaminate=/tmp/bench", "holdout=0.1,0.05", "excise=6")).toOption.get
    assert(ok == CurateOptions(cap = 50, block = Seq("a.test", "b.test"),
      paraMaxDocs = 3, minQuality = Some(0.25), maxDupWord = Some(0.5),
      maxTopBigram = Some(0.18), minTokens = Some(40),
      nearDedup = Some(0.85), decontaminatePath = Some("/tmp/bench"),
      holdout = Some((0.1, 0.05)), exciseWindow = 6))
    assert(CurateOptions.parse(Nil) == Right(CurateOptions()))
    assert(CurateOptions.parse(Seq("min-tokens=0")).isLeft)         // min 1
    assert(CurateOptions.parse(Seq("near-dedup=0")).isLeft)         // (0,1]
    assert(CurateOptions.parse(Seq("cap=5", "cap=9")).isLeft)       // dup key
    assert(CurateOptions.parse(Seq("caps=5")).isLeft)               // unknown
    assert(CurateOptions.parse(Seq("cap=0")).isLeft)                // min 1
    assert(CurateOptions.parse(Seq("min-quality=1.5")).isLeft)      // >1
    assert(CurateOptions.parse(Seq("max-dup-word=x")).isLeft)       // NaN
    assert(CurateOptions.parse(Seq("bare")).isLeft)                 // no '='
    // empty path (unset shell var) must fail, not silently disable
    assert(CurateOptions.parse(Seq("decontaminate=")).isLeft)
    // holdout: exactly two nonnegative fractions, train share non-empty
    assert(CurateOptions.parse(Seq("holdout=")).isLeft)
    assert(CurateOptions.parse(Seq("holdout=0.1")).isLeft)
    assert(CurateOptions.parse(Seq("holdout=0.6,0.5")).isLeft)      // sum >= 1
    assert(CurateOptions.parse(Seq("holdout=0.1,x")).isLeft)        // NaN
    // excise: a window must span >= 2 tokens; 0 = disabled
    assert(CurateOptions.parse(Seq("excise=1")).isLeft)
    assert(CurateOptions.parse(Seq("excise=0")).toOption.get.exciseWindow == 0)
    // render is the canonical line parse accepts back, for every accepted case
    assert(ok.render == "block=a.test,b.test cap=50 decontaminate=/tmp/bench excise=6 " +
      "holdout=0.1,0.05 max-dup-word=0.5 max-top-bigram=0.18 min-quality=0.25 min-tokens=40 " +
      "near-dedup=0.85 para-dedup=3")
    Seq(ok, CurateOptions.parse(Nil).toOption.get, CurateOptions.parse(Seq("excise=0")).toOption.get)
      .foreach(o => assert(CurateOptions.parse(o.render.split(' ').toSeq.filter(_.nonEmpty)) == Right(o)))
  }

  test("mix options: strict parse (sample entries, default, budget, no-op)") {
    import graft.pipeline.MixOptions
    val ok = MixOptions.parse(
      Seq("sample=en:0.5,de:0.25,default:0.1", "budget=5000")).toOption.get
    assert(ok == MixOptions(sample = Map("en" -> 0.5, "de" -> 0.25),
      sampleDefault = 0.1, budget = Some(5000L)))
    // 'default' is a reserved entry, not a group; bare sample= is uniform
    assert(MixOptions.parse(Seq("sample=default:0.5")).toOption.get ==
      MixOptions(sampleDefault = 0.5))
    assert(MixOptions.parse(Nil).isLeft)                          // no-op mix
    assert(MixOptions.parse(Seq("budget=0")).isLeft)              // min 1
    assert(MixOptions.parse(Seq("sample=en:1.5")).isLeft)         // frac > 1
    assert(MixOptions.parse(Seq("sample=:0.5")).isLeft)           // empty group
    assert(MixOptions.parse(Seq("sample=en:0.5,en:0.2")).isLeft)  // dup group
    assert(MixOptions.parse(Seq("budget=5", "budget=9")).isLeft)  // dup key
    assert(MixOptions.parse(Seq("mixx=1")).isLeft)                // unknown
    // render is the canonical line parse accepts back, for every accepted case
    assert(ok.render == "budget=5000 sample=de:0.25,default:0.1,en:0.5")
    Seq(ok, MixOptions.parse(Seq("sample=default:0.5")).toOption.get)
      .foreach(o => assert(MixOptions.parse(o.render.split(' ').toSeq) == Right(o)))
  }

  test("mix job: sampling then per-lang budget keeps the earliest-crawl prefix") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.pipeline.{MixJob, MixOptions}
    def ts(s: Long) = new java.sql.Timestamp(1735689600000L + s * 1000L)
    // aa: four 5-token docs in reverse url order; bb sampled away at 0.0
    val curated = Seq(
      ("https://m.test/a4", ts(4), "aa", "one two three four five"),
      ("https://m.test/a3", ts(3), "aa", "one two three four five"),
      ("https://m.test/a2", ts(2), "aa", "one two three four five"),
      ("https://m.test/a1", ts(1), "aa", "one two three four five"),
      ("https://m.test/b1", ts(1), "bb", "short text here"))
      .toDF("url", "warc_ts", "lang", "text")
    val opts = MixOptions(sample = Map("aa" -> 1.0, "bb" -> 0.0),
      budget = Some(12L))
    val out = MixJob.assemble(curated, opts)
      .select("url", "running_tokens").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    // budget 12 over 5-token docs: earliest two crawls fit (5, 10), the
    // third would run to 15; bb is sampled out entirely
    assert(out == Seq(
      ("https://m.test/a1", 5L), ("https://m.test/a2", 10L)), out.toString)
    // end-to-end through the snapshot tables with lineage
    val dir = java.nio.file.Files.createTempDirectory("mixjob").toString
    new graft.table.SnapshotTable(s"$dir/curated").commitReplace(curated)
    val r = MixJob.run(spark, s"$dir/curated", s"$dir/mix", opts).get
    assert(r.kept == 2 && r.sourceSnapshotId == 0)
    val back = new graft.table.SnapshotTable(s"$dir/mix")
    assert(back.read(spark).get.count() == 2)
    assert(back.readManifest(r.mixSnapshotId).meta("job") == "mix")
    assert(back.readManifest(r.mixSnapshotId).meta("options") == "budget=12 sample=aa:1.0,bb:0.0")
  }

  test("curate: excise cuts cross-doc repeated spans; untouched docs byte-identical") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.pipeline.{Curate, CurateOptions, StageMetrics}
    def ts(s: Long) = new java.sql.Timestamp(1735689600000L + s * 1000L)
    // k=5 over an 8-token shared run: every 5-window inside the run is
    // hot (it appears in a, b and d); boundary windows are doc-unique
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    val cText = "unique content with  doubled  spaces staying byte identical"
    val crafted = Seq(
      ("https://e.t.test/a", ts(1), "finished", "text/plain", 10L, s"a1 a2 $shared a3"),
      ("https://e.t.test/b", ts(2), "finished", "text/plain", 10L, s"b1 $shared b2 b3"),
      ("https://e.t.test/c", ts(3), "finished", "text/plain", 10L, cText),
      ("https://e.t.test/d", ts(4), "finished", "text/plain", 10L, shared))
      .toDF("url", "warc_ts", "status", "mimeType", "textBytes", "text")
    val metrics = new StageMetrics
    val out = Curate.curate(crafted,
        CurateOptions(cap = 10, exciseWindow = 5), metrics = Some(metrics))
      .collect().map(r => r.getString(0) -> r.getAs[String]("text")).toMap
    // d was NOTHING BUT the shared run -> excised to empty -> dropped
    assert(out.keySet == Set("https://e.t.test/a", "https://e.t.test/b",
      "https://e.t.test/c"), out.keySet.toString)
    assert(out("https://e.t.test/a") == "a1 a2 a3")
    assert(out("https://e.t.test/b") == "b1 b2 b3")
    // a doc with no excised span keeps its ORIGINAL text byte-for-byte —
    // no token-stream re-serialization (the doubled spaces survive)
    assert(out("https://e.t.test/c") == cText)
    val stageCounts = metrics.counts.toMap
    assert(stageCounts("excised") == 3, stageCounts.toString)
  }

  test("curate: holdout option stamps a deterministic split on the url") {
    val spark = TestSpark.spark
    import graft.pipeline.{Curate, CurateOptions}
    val pages = CorpusWriter.pagesDs(spark, 200L, partitions = 4)
    val data = ExtractPipeline.run(pages, ExtractPipeline.Config(partitions = 8)).toDF()
    val cur = Curate.curate(data,
      CurateOptions(cap = 1000, holdout = Some((0.25, 0.25))))
    val rows = cur.select("url", "bucket", "split").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.nonEmpty)
    // assignment must equal Mix.holdoutSplit on the same urls (same salt,
    // same fractions) — the curate wiring adds no drift
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { case (url, bucket, split) =>
      val hex = md.digest(s"split:$url".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 4)
      assert(bucket == hex, url)
      val want = if (hex < "4000") "test"
        else if (hex < "8000") "validation" else "train"
      assert(split == want, s"$url $hex")
    }
    // without the option the curated schema is unchanged
    val plain = Curate.curate(data, CurateOptions(cap = 1000))
    assert(!plain.columns.contains("split") && !plain.columns.contains("bucket"))
  }

  test("driver contract: entry() returns rows; every query has a function") {
    val spark = TestSpark.spark
    assert(SparkEntry.entry(spark).count() > 0)
    // every oracle key must have a matching query
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet -- qs
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("giant documents are split out but extracted identically") {
    val spark = TestSpark.spark
    val pages = CorpusWriter.pagesDs(spark, 300L, partitions = 4)
    val giants = pages.where(length(col("html")) > 100 * 1024)
    assert(giants.count() > 0, "corpus must contain giant docs")
    // tiny giant threshold: everything routed through the giant path
    val allGiant = ExtractPipeline.run(pages,
      ExtractPipeline.Config(partitions = 4, giantThreshold = 1))
      .select("url", "textBytes", "status").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val normal = ExtractPipeline.run(pages, ExtractPipeline.Config(partitions = 4))
      .select("url", "textBytes", "status").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(allGiant == normal)
  }
}
