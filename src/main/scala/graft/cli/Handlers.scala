package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.decode.Decoder
import graft.detect.{AllocFormat, FinError, Prospector}
import graft.io.DelimitedWriter
import graft.schema.AllocRegistry

/** End-to-end pipeline entry points — the engine equivalents of the
  * reference's CLI handlers (EP1/EP2, SURVEY §3):
  *
  *  - [[Handlers.handleTransform]]: sniff → resolve (exactly-one rules) →
  *    typed decode with reject routing → export
  *    (reference/Sources/Handlers/TransformHandler.swift:25-55)
  *  - [[Handlers.handleDetect]]: sniff → prospect → "schema: fmt,fmt"
  *    report lines (A19,
  *    reference/Sources/Handlers/DetectHandler.swift:24-36)
  *
  * Sniffing, resolution and report formatting are driver-side (registry
  * logic over a bounded prefix read without a Spark job); decode and
  * export execute distributed, in the export's job.
  */
object Handlers {

  final case class TransformResult(
      importerId: String,
      schema: String,
      /** reference-parity export bytes (header + rows, driver-side) */
      output: String,
      /** typed good rows (a selection of the decoded leaf, for at-scale sinks) */
      good: DataFrame,
      /** reject channel: raw columns + first-failing-field reason */
      rejects: DataFrame,
      /** frees the decoded leaf behind `good` and `rejects` */
      release: () => Unit)

  /** Sniff on the driver, resolve, then decode the input ONCE in one
    * Spark job: rendering `output` is the first action on
    * [[Decoder.decode]]'s lazy leaf, so that job parses the input over
    * ordered size-aware splits, stores the typed leaf and renders from it.
    * `good`/`rejects` are returned as selections of the leaf, so further
    * sinks read the same parse without rescanning the file. Every call
    * parses its input anew; nothing is shared across calls. The caller
    * frees the leaf with `release` when done with both frames (Spark's
    * ContextCleaner frees it once they are dropped otherwise).
    */
  @throws[FinError]
  def handleTransform(spark: SparkSession,
      inputPath: String,
      prospector: Prospector = Prospector.default,
      importerId: Option[String] = None,
      outputSchema: Option[String] = None,
      defTimeOfDay: String = "13:00",
      timeZone: String = "America/New_York",
      exportFormat: AllocFormat = AllocFormat.CSV): TransformResult = {
    val prefix = prospector.sniffPrefix(spark, inputPath)
    val (importer, schema) = prospector.resolve(prefix, importerId, outputSchema)
    val spec = AllocRegistry.entities.getOrElse(schema,
      throw FinError.NotImplemented)
    val inputDelimiter = importer.detect(prefix).get(schema)
      .flatMap(_.headOption).flatMap(_.delimiter).getOrElse(",")
    val raw = Decoder.readRaw(spark, inputPath, spec, inputDelimiter)
    val decoded = Decoder.decode(raw, spec, defTimeOfDay, timeZone)
    val output = exportFormat match {
      case AllocFormat.JSON => DelimitedWriter.jsonArrayString(decoded.good)
      case f => DelimitedWriter.delimitedBytes(decoded.good, f.delimiter.getOrElse(","))
    }
    TransformResult(importer.id, schema, output, decoded.good, decoded.rejects,
      decoded.release)
  }

  /** Detection report: one "schema: fmt,fmt" line per detected schema,
    * sorted for determinism (A19 formatting).
    */
  def handleDetect(spark: SparkSession, inputPath: String,
      prospector: Prospector = Prospector.default): Seq[String] = {
    val prefix = prospector.sniffPrefix(spark, inputPath)
    prospector.prospect(prefix).toSeq
      .flatMap { case (_, bySchema) => bySchema.toSeq }
      .map { case (schema, formats) =>
        s"$schema: ${formats.map(_.toString).mkString(",")}"
      }
      .sorted
  }
}
