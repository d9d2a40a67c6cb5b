package graft.cli

import org.apache.spark.sql.SparkSession

import graft.detect.{AllocFormat, FinError}

/** Argument-parsing CLI main binding argv to the pipeline handlers — the
  * engine's equivalent of the reference family's `finport` command
  * (reference/README.md:33-37; the reference repo itself ships handlers
  * only, the argv binding lives in the sibling FINporterCLI repo):
  *
  * {{{
  *   graft.cli.Main transform <input.csv> [--importer ID] [--schema NAME]
  *     [--time-of-day HH:mm] [--zone ZONE] [--format csv|tsv|json]
  *   graft.cli.Main detect <input.csv>
  * }}}
  *
  * `run` is the testable core: pure argv → output-text-or-error, no
  * printing, no exit, caller supplies the session. `main` wraps it with a
  * local session, stdout, and exit-code 1 on any [[FinError]] or usage
  * error — errors carry the reference taxonomy's human messages.
  */
object Main {

  val usage: String =
    """usage:
      |  transform <input> [--importer ID] [--schema NAME]
      |            [--time-of-day HH:mm] [--zone ZONE] [--format csv|tsv|json]
      |  detect <input>""".stripMargin

  /** Parse argv and run the matching handler. Left = error text (usage or
    * FinError message), Right = output text for stdout.
    */
  def run(spark: SparkSession, args: Seq[String]): Either[String, String] =
    try {
      args.toList match {
        case "transform" :: input :: flags => parseFlags(flags).map { f =>
          val res = Handlers.handleTransform(spark, input,
            importerId = f.importer,
            outputSchema = f.schema,
            defTimeOfDay = f.timeOfDay,
            timeZone = f.zone,
            exportFormat = f.format)
          res.release()
          res.output
        }
        case "detect" :: input :: Nil =>
          Right(Handlers.handleDetect(spark, input).mkString("\n"))
        case "detect" :: _ :: extra =>
          Left(s"detect takes no flags (got: ${extra.mkString(" ")})\n$usage")
        case _ => Left(usage)
      }
    } catch {
      case e: FinError => Left(e.message)
    }

  private final case class Flags(
      importer: Option[String] = None,
      schema: Option[String] = None,
      timeOfDay: String = "13:00",
      zone: String = "America/New_York",
      format: AllocFormat = AllocFormat.CSV)

  @annotation.tailrec
  private def parseFlags(rest: List[String], acc: Flags = Flags()): Either[String, Flags] =
    rest match {
      case Nil => Right(acc)
      case "--importer" :: v :: t => parseFlags(t, acc.copy(importer = Some(v)))
      case "--schema" :: v :: t => parseFlags(t, acc.copy(schema = Some(v)))
      case "--time-of-day" :: v :: t => parseFlags(t, acc.copy(timeOfDay = v))
      case "--zone" :: v :: t => parseFlags(t, acc.copy(zone = v))
      case "--format" :: v :: t =>
        v.toLowerCase match {
          case "csv" => parseFlags(t, acc.copy(format = AllocFormat.CSV))
          case "tsv" => parseFlags(t, acc.copy(format = AllocFormat.TSV))
          case "json" => parseFlags(t, acc.copy(format = AllocFormat.JSON))
          case other => Left(s"unknown format '$other' (csv|tsv|json)\n$usage")
        }
      case flag :: _ => Left(s"unknown or valueless flag '$flag'\n$usage")
    }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
    spark.sparkContext.setLogLevel("WARN")
    val outcome = run(spark, args.toSeq)
    spark.stop()
    outcome match {
      case Right(out) => println(out)
      case Left(err) => System.err.println(err); sys.exit(1)
    }
  }
}
