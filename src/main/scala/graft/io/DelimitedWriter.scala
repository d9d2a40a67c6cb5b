package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.DoublePlainString

/** Export sinks with byte-parity to the reference's DelimitedEncoder
  * (A9-A11, reference/Sources/Core/FINporter.swift:51-69,
  * reference/Sources/Helpers/DelimitedEncoder.swift:22-191):
  *
  *  - nil → empty cell (DelimitedEncoder.swift:78-80,138)
  *  - Date/Timestamp → ISO8601 `yyyy-MM-ddTHH:mm:ssZ` (:130-131)
  *  - `"` → `\"` ALWAYS (backslash escape, not quote doubling — :135)
  *  - wrap in quotes IFF the raw cell contains the delimiter (:134-136)
  *  - doubles as `BigDecimal(Double.toString(d)).toPlainString`
  *    ([[graft.functions.RenderKernel.plainString]]): never scientific
  *    (DelimitedEncoderTests.swift:80-89), but not always the shortest
  *    digits (`1.0E-4` renders `0.00010`)
  *
  * The kernel is pure codegen'd column expressions — cells render inside
  * the scan stage and the writer just emits pre-rendered strings (Spark's
  * CSV writer quoting is disabled since escaping already happened). This
  * distributes: every partition writes its own file; header-per-part is
  * the standard distributed-CSV contract.
  */
object DelimitedWriter {

  /** Render one cell to its reference-parity string form (never null). */
  def renderCell(c: Column, dt: DataType, delimiter: String): Column = {
    val rendered = dt match {
      case StringType =>
        val escaped = call_function("replace", c, lit("\""), lit("\\\""))
        when(c.contains(delimiter), concat(lit("\""), escaped, lit("\"")))
          .otherwise(escaped)
      case TimestampType | DateType =>
        date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'")
      case DoubleType => DoublePlainString.plain(c)
      case FloatType => DoublePlainString.plain(c.cast(DoubleType))
      case _ => c.cast(StringType)
    }
    coalesce(rendered, lit(""))
  }

  /** Whole rows rendered to single delimited lines (column `line`).
    * Runs [[graft.GraftSession.install]] on the frame's session: the
    * catalog (for `double_plain`) and fork-free local file writes.
    */
  def renderLines(df: DataFrame, delimiter: String = ","): DataFrame = {
    graft.GraftSession.install(df.sparkSession)
    val cells = df.schema.fields.map(f =>
      renderCell(col(f.name), f.dataType, delimiter))
    df.select(concat_ws(delimiter, cells: _*).as("line"))
  }

  /** CSV/TSV export (A9), distributed: whole rows are pre-rendered with
    * the reference's escaping and written via the text sink (one file per
    * partition, no header — Spark's CSV writer can't emit pre-escaped
    * cells verbatim because its quoting kernel is quote-doubling, not
    * backslash escaping). For reference-exact single-file bytes use
    * [[delimitedBytes]].
    */
  def writeDelimited(df: DataFrame, path: String, delimiter: String = ","): Unit =
    renderLines(df, delimiter).write.mode("overwrite").text(path)

  /** Reference-exact export bytes: header, rows in order, trailing
    * newline (FINporter.swift:60-67 + DelimitedEncoder.swift:39-43,
    * 171-175). Driver-side — the reference's exports are single in-memory
    * files; use [[writeDelimited]] at scale.
    */
  def delimitedBytes(df: DataFrame, delimiter: String = ",",
      header: Boolean = true): String = {
    val head =
      if (header) df.columns.mkString("", delimiter, "\n") else ""
    val lines = renderLines(df, delimiter).collect().map(_.getString(0))
    // emptiness is decided on the row COUNT, not the joined string — a
    // single all-empty-cells row legitimately renders as "" and must
    // still emit its line
    head + (if (lines.isEmpty) "" else lines.mkString("", "\n", "\n"))
  }

  /** JSON export (A10): JSONL via the native writer — the scalable form.
    * Installs the session as [[renderLines]] does. */
  def writeJson(df: DataFrame, path: String): Unit = {
    graft.GraftSession.install(df.sparkSession)
    df.write.mode("overwrite").json(path)
  }

  /** Array-of-objects JSON string for small exports — the reference's
    * exact shape (`JSONEncoder().encode(elements)`,
    * FINporter.swift:53-59). Driver-side; use [[writeJson]] at scale.
    */
  def jsonArrayString(df: DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")
}
