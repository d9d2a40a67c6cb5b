package graft.detect

import org.apache.spark.sql.SparkSession

import graft.decode.OrderedTextInputFormat
import graft.schema.{AllocRegistry, EntitySpec}

/** Format/schema detection and importer resolution — the reference's
  * prospect/resolve front end (A3-A5), driver-side by design: detection
  * reads the first N lines of the input on the driver, with no Spark job
  * ([[Prospector.sniffPrefix]]), and resolution is pure registry logic
  * with the reference's exactly-one rules
  * (reference/Sources/Handlers/TransformHandler.swift:57-108,
  * reference/Sources/Core/FINprospector.swift:33-60).
  */
sealed trait AllocFormat { def delimiter: Option[String] }
object AllocFormat {
  case object CSV extends AllocFormat { val delimiter = Some(",") }
  case object TSV extends AllocFormat { val delimiter = Some("\t") }
  case object JSON extends AllocFormat { val delimiter = None }
  val all: Seq[AllocFormat] = Seq(CSV, TSV, JSON)
}

/** The 11-case error taxonomy with the reference's human messages
  * (A17, reference/Sources/Helpers/FINporterError.swift:22-63).
  */
sealed abstract class FinError(val message: String) extends Exception(message)
object FinError {
  case object NotImplemented extends FinError("Not implemented.")
  final case class EncodingError(msg: String)
      extends FinError(s"Failure to encode. $msg")
  final case class DecodingError(msg: String)
      extends FinError(s"Failure to decode. $msg")
  final case class DecodingKeyError(key: String, classType: String, msg: String)
      extends FinError(s"Failure to decode '$key' in $classType. $msg")
  final case class NeedExplicitOutputSchema(supported: Seq[String])
      extends FinError(
        s"Requires explicit target schema: '${supported.mkString("[", ", ", "]")}'.")
  final case class TargetSchemaNotSupported(supported: Seq[String])
      extends FinError(
        s"Supported target schema: '${supported.mkString("[", ", ", "]")}'.")
  final case class MultipleImportersMatch(importers: Seq[Importer])
      extends FinError("Multiple importers match. Need to disambiguate. " +
        s"Importers: [${importers.map(_.id).mkString(", ")}]")
  final case class MultipleDetectedSchemasMatch(schemas: Seq[String])
      extends FinError("Multiple detected schemas match. Need to disambiguate. " +
        s"Schemas: [${schemas.mkString(", ")}]")
  final case class MultipleOutputSchemasMatch(schemas: Seq[String])
      extends FinError("Multiple output schemas match. Need to disambiguate. " +
        s"Schemas: [${schemas.mkString(", ")}]")
  case object SourceFormatNotRecognized
      extends FinError("Source format not recognized.")
  final case class ImporterNotRecognized(msg: String)
      extends FinError(s"Importer not recognized. $msg")
}

/** Importer contract (reference/Sources/Core/FINporter.swift:23-49):
  * identity + declared source formats / output schemas + prefix-based
  * detection. `detect` returns schema → matching formats; empty map means
  * unrecognized.
  */
trait Importer {
  def id: String
  def name: String = id
  def description: String = ""
  def sourceFormats: Seq[AllocFormat]
  def outputSchemas: Seq[String]
  def detect(prefix: String): Map[String, Seq[AllocFormat]]
}

/** Built-in importer recognizing an AllocData-native delimited file for
  * one entity by its header signature: the first line must contain every
  * required field name of the entity (comma- or tab-delimited).
  */
final class AllocDelimitedImporter(spec: EntitySpec) extends Importer {
  override def id: String = s"alloc_${spec.entity}"
  override def sourceFormats: Seq[AllocFormat] = Seq(AllocFormat.CSV, AllocFormat.TSV)
  override def outputSchemas: Seq[String] = Seq(spec.entity)
  override def detect(prefix: String): Map[String, Seq[AllocFormat]] = {
    val header = prefix.linesIterator.take(1).toSeq.headOption.getOrElse("")
    val formats = Seq(AllocFormat.CSV -> ",", AllocFormat.TSV -> "\t").collect {
      case (fmt, sep) if {
            val cols = header.split(sep, -1).map(_.trim).toSet
            spec.fields.map(_.name).forall(cols.contains) && cols.size > 1
          } => fmt
    }
    if (formats.isEmpty) Map.empty else Map(spec.entity -> formats)
  }
}

final class Prospector(val importers: Seq[Importer]) {

  private val sourceMap: Map[AllocFormat, Seq[Importer]] =
    importers.flatMap(i => i.sourceFormats.map(_ -> i))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  def get(importerId: String): Option[Importer] =
    importers.find(_.id == importerId)

  /** Candidate importers for a data prefix, keyed by importer
    * (FINprospector.prospect, FINprospector.swift:45-60).
    */
  def prospect(prefix: String,
      sourceFormats: Seq[AllocFormat] = AllocFormat.all)
      : Map[Importer, Map[String, Seq[AllocFormat]]] = {
    val candidates = sourceFormats.flatMap(sourceMap.getOrElse(_, Nil)).distinct
    candidates.flatMap { imp =>
      val res = imp.detect(prefix)
      if (res.nonEmpty) Some(imp -> res) else None
    }.toMap
  }

  /** Bounded prefix sniff (the reference's dataPrefix bound,
    * FINporter.swift:35): the first `maxLines` lines, blank ones kept, of
    * the first non-empty file in [[graft.decode.Decoder.readRaw]]'s path
    * order, read on the driver by readRaw's line reader. Starts no Spark
    * job and reads only the start of that file; an empty input gives "".
    */
  def sniffPrefix(spark: SparkSession, path: String, maxLines: Int = 8): String =
    OrderedTextInputFormat.headLines(spark, path, maxLines).mkString("\n")

  /** The exactly-one resolution rules (getPair,
    * TransformHandler.swift:57-108): explicit importer id else exactly one
    * detected; explicit schema must be supported; else exactly one output
    * schema.
    *
    * Like the reference's getPair, the no-explicit-schema arm keys off the
    * importer's DECLARED outputSchemas (TransformHandler.swift:99-105),
    * and `MultipleDetectedSchemasMatch` / `NeedExplicitOutputSchema` are
    * defined in the taxonomy but not thrown by this path — parity
    * includes reproducing which cases the reference actually exercises.
    */
  @throws[FinError]
  def resolve(prefix: String,
      importerId: Option[String] = None,
      outputSchema: Option[String] = None): (Importer, String) = {
    val (importer, detectedSchemas) = importerId match {
      case Some(fid) =>
        val imp = get(fid).getOrElse(throw FinError.ImporterNotRecognized(fid))
        (imp, imp.outputSchemas)
      case None =>
        val detected = prospect(prefix)
        detected.keys.toSeq.sortBy(_.id) match {
          case Seq() => throw FinError.SourceFormatNotRecognized
          case Seq(single) => (single, detected(single).keys.toSeq)
          case many => throw FinError.MultipleImportersMatch(many)
        }
    }
    outputSchema match {
      case Some(schema) =>
        if (!detectedSchemas.contains(schema))
          throw FinError.TargetSchemaNotSupported(detectedSchemas)
        (importer, schema)
      case None =>
        importer.outputSchemas match {
          case Seq() => throw FinError.TargetSchemaNotSupported(Nil)
          case Seq(single) => (importer, single)
          case many => throw FinError.MultipleOutputSchemasMatch(many)
        }
    }
  }
}

object Prospector {
  /** Default registry: one delimited importer per AllocData entity. */
  def default: Prospector = new Prospector(
    AllocRegistry.entities.values.toSeq.sortBy(_.entity)
      .map(new AllocDelimitedImporter(_)))
}
