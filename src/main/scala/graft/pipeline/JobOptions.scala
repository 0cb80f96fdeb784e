package graft.pipeline

/** Job-level option validation — the Spark re-expression of the reference's
  * set_options request-validation matrix (docsbox/docs/utils.py:45-96).
  * Invalid input is rejected up front with a message (the 400-response
  * analog) — a bad option must fail the job BEFORE a 100 TB scan starts,
  * not per row.
  *
  * [[split]] is the one `key=value` contract every `graft.Main` job goes
  * through (extract here, curate/stream-curate via CurateOptions, mix via
  * MixOptions); each job then checks its own values. */
object JobOptions {

  /** Split `key=value` args into a map over the allowed `keys`.
    * Left(message) on the FIRST arg that is not `key=value`, names an
    * unknown key, or repeats a key (a repeat must fail, not silently keep
    * the last value). */
  def split(args: Seq[String], keys: Set[String]): Either[String, Map[String, String]] =
    args.foldLeft[Either[String, Map[String, String]]](Right(Map.empty)) { (acc, a) =>
      acc.flatMap { kv =>
        a.split("=", 2) match {
          case Array(k, _) if !keys(k) =>
            Left(s"unknown option '$k' (expected ${keys.toSeq.sorted.map(_ + "=").mkString(", ")})")
          case Array(k, _) if kv.contains(k) => Left(s"option '$k' given more than once")
          case Array(k, v) => Right(kv + (k -> v))
          case _ => Left(s"not a key=value option: '$a'")
        }
      }
    }

  /** The value of `key` in a [[split]] map, parsed by `parse`; a value
    * that `parse` rejects is Left("<key> must be <rule>: '<value>'"). */
  def value[A](kv: Map[String, String], key: String, rule: String)(
      parse: String => Option[A]): Either[String, Option[A]] =
    kv.get(key).fold[Either[String, Option[A]]](Right(None)) { v =>
      parse(v).map(Some(_)).toRight(s"$key must be $rule: '$v'")
    }

  /** A job's canonical options line (its manifest `options` meta): the
    * keys given a value, i.e. not at their default, as sorted `key=value`. */
  def render(kv: (String, Option[Any])*): String =
    kv.sortBy(_._1).collect { case (k, Some(v)) => s"$k=$v" }.mkString(" ")

  /** The conversion formats the pipeline implements — the
    * CONVERTABLE_MIMETYPES["formats"] analog (config/config.yml:34-153).
    * "spans" = full rows; "text" = text-only projection. Accepting an
    * unimplemented format would poison the snapshot chain's meta for no
    * behavior. */
  val ConversionFormats: Set[String] = Set("spans", "text")

  private val ExtractKeys =
    Set("conversion-format", "output-pdf-version", "thumbnails")

  /** Parse the extract job's trailing args `[partitions] [key=value...]`
    * into its Config. `partitions` is at most one positional, a positive
    * integer; when absent, `defaultPartitions` is evaluated, and only
    * after every other check passed. Options: `conversion-format`
    * (see [[ConversionFormats]]), `output-pdf-version` in {1,2,3} (the
    * attachment re-attach policy), `thumbnails=WxH` with positive ints.
    * Left(message) on the first violation — mirrors set_options raising
    * ValueError. */
  def parseExtract(args: Seq[String],
      defaultPartitions: => Int): Either[String, ExtractPipeline.Config] = {
    val (positional, options) = args.partition(!_.contains('='))
    for {
      kv <- split(options, ExtractKeys)
      partitions <- positional match {
        case Seq() => Right(None)
        case Seq(p) => p.toIntOption.filter(_ > 0).map(Some(_))
          .toRight(s"partitions must be a positive integer: '$p'")
        case ps => Left(s"at most one [partitions] argument, got: ${ps.mkString(" ")}")
      }
      format <- kv.get("conversion-format") match {
        case Some(f) if !ConversionFormats(f) =>
          Left(s"'$f' is not a supported conversion format " +
            s"(allowed: ${ConversionFormats.toSeq.sorted.mkString(", ")})")
        case f => Right(f)
      }
      pdfVersion <- kv.get("output-pdf-version") match {
        case Some(v) if !Set("1", "2", "3")(v) =>
          Left("Invalid 'output_pdf_version' value. Allowed are 1, 2 and 3")
        case v => Right(v)
      }
      thumbnails <- kv.get("thumbnails") match {
        case None => Right(None)
        case Some(t) => t.split("x", -1).map(_.trim.toIntOption) match {
          case Array(Some(w), Some(h)) if w > 0 && h > 0 => Right(Some((w, h)))
          case _ => Left("Invalid 'size' value")
        }
      }
    } yield {
      val d = ExtractPipeline.Config()
      d.copy(partitions = partitions.getOrElse(defaultPartitions),
        conversionFormat = format.getOrElse(d.conversionFormat),
        outputPdfVersion = pdfVersion.getOrElse(d.outputPdfVersion),
        thumbnails = thumbnails)
    }
  }
}
