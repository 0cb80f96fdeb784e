package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Mix, TextStats}
import graft.table.SnapshotTable

/** Validated options for the mix job — the same strict contract as
  * CurateOptions: unknown keys, malformed values, repeated keys and
  * out-of-range numbers are hard errors BEFORE any scan. At least one of
  * `sample`/`budget` must be given (a no-op mix is a table copy — that is
  * `compact`'s job, not this one's). */
case class MixOptions(
    sample: Map[String, Double] = Map.empty,
    sampleDefault: Double = 1.0,
    budget: Option[Long] = None) {

  /** The sorted `key=value` line [[MixOptions.parse]] accepts back. */
  def render: String = {
    val groups = sample ++ Option.when(sampleDefault != 1.0)("default" -> sampleDefault)
    JobOptions.render("budget" -> budget, "sample" -> Option.when(groups.nonEmpty)(
      groups.toSeq.sorted.map { case (g, f) => s"$g:$f" }.mkString(",")))
  }
}

object MixOptions {
  val Keys: Set[String] = Set("sample", "budget")

  /** Parse `key=value` args; Left(message) on ANY invalid input.
    * `sample=en:0.5,de:0.25[,default:0.1]` / `budget=<tokensPerLang>`. */
  def parse(args: Seq[String]): Either[String, MixOptions] =
    JobOptions.split(args, Keys).flatMap { m =>
      for {
        parsed <- m.get("sample") match {
          case None => Right((Map.empty[String, Double], 1.0))
          case Some(v) =>
            val entries = v.split(",", -1).toSeq.map { e =>
              e.split(":", 2) match {
                case Array(g, f) if g.nonEmpty =>
                  f.toDoubleOption.filter(d => d >= 0.0 && d <= 1.0)
                    .map(g -> _)
                    .toRight(s"sample fraction for '$g' must be in [0,1]: '$f'")
                case _ => Left(s"sample entries are '<group>:<frac>': '$e'")
              }
            }
            entries.collectFirst { case Left(msg) => msg }
              .toLeft(entries.collect { case Right(kv) => kv })
              .flatMap { es =>
                es.groupBy(_._1).collectFirst {
                  case (g, vs) if vs.length > 1 => g
                } match {
                  case Some(g) => Left(s"sample group '$g' given more than once")
                  case None =>
                    val all = es.toMap
                    Right((all - "default",
                      all.getOrElse("default", 1.0)))
                }
              }
        }
        budget <- JobOptions.value(m, "budget", "an integer >= 1")(
          _.toLongOption.filter(_ >= 1L))
        _ <- {
          val (fr, dflt) = parsed
          if (fr.isEmpty && dflt >= 1.0 && budget.isEmpty)
            Left("mix needs sample= and/or budget= (a no-op mix is 'compact')")
          else Right(())
        }
      } yield MixOptions(
        sample = parsed._1, sampleDefault = parsed._2, budget = budget)
    }
}

/** Training-mix assembly over the CURATED snapshot — the step after
  * hygiene: reweight languages by deterministic hash sampling (d21) and
  * cut each language to a token budget, earliest crawls first (d16),
  * committed as its own snapshot table with lineage.
  *
  * Plan shape at scale: sampling is a zero-exchange narrow CASE filter;
  * the budget uses the BUCKETED two-phase prefix sum because bare `lang`
  * is exactly the coarse-key anti-pattern the window formulation warns
  * about — a handful of languages would funnel the whole corpus into
  * that many window tasks. The bucket is the crawl DATE, a coarse prefix
  * of the (warc_ts, url) order key, so the required order-alignment
  * holds and the big sort spreads over (lang x day) tasks while a
  * metadata-sized offset frame reconciles exact running totals. */
object MixJob {
  case class Result(sourceSnapshotId: Long, kept: Long, mixSnapshotId: Long)

  /** The selection itself, exposed for tests: requires url, warc_ts,
    * lang and text columns (the curated schema). */
  def assemble(data: DataFrame, opts: MixOptions): DataFrame = {
    val missing = Seq("url", "warc_ts", "lang", "text")
      .filterNot(data.columns.contains)
    require(missing.isEmpty, s"mix input lacks columns: ${missing.mkString(", ")}")
    val sampled =
      if (opts.sample.isEmpty && opts.sampleDefault >= 1.0) data
      else Mix.hashSample(data, col("url"), col("lang"),
        opts.sample, default = opts.sampleDefault)
    opts.budget match {
      case None => sampled
      case Some(b) =>
        Mix.tokenBudgetPerGroupBucketed(
          sampled.withColumn("n_tokens",
            size(TextStats.tokens(col("text"))).cast("long")),
          groupCol = col("lang"),
          bucketCol = to_date(col("warc_ts")),
          orderBy = Seq(col("warc_ts"), col("url")),
          tokensCol = col("n_tokens"),
          budget = b)
    }
  }

  /** Read the committed curated snapshot, assemble, COMMIT to `mixDir`
    * (atomic replace, like curate): the manifest meta records the source
    * snapshot id (captured before the write) and the full option set. */
  def run(spark: SparkSession, curatedDir: String, mixDir: String,
      opts: MixOptions): Option[Result] = {
    val source = new SnapshotTable(curatedDir)
    for {
      id <- source.currentSnapshotId
      data <- source.read(spark)
    } yield {
      val mixTable = new SnapshotTable(mixDir)
      val mixId = mixTable.commitReplace(
        assemble(data, opts),
        meta = Map(
          "job" -> "mix",
          "sourceRoot" -> curatedDir,
          "sourceSnapshot" -> id.toString,
          "options" -> opts.render))
      Result(id, mixTable.readManifest(mixId).rowCount, mixId)
    }
  }
}
