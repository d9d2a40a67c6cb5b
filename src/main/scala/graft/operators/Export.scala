package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftQuery, Tables}
import graft.io.DelimitedWriter

/** Export serialization kernel (A11) as an oracle-checked query: rows of
  * `orders` rendered to reference-parity CSV lines — quote escaping
  * (`"`→`\"`), wrap-iff-delimiter, nil→empty, ISO8601 timestamps, plain
  * (non-scientific) doubles — entirely in codegen'd expressions, so the
  * render pipeline runs inside the scan stage at any scale.
  */
object Export {

  /** q37: each order rendered as a delimited line with cells that exercise
    * every kernel rule: plain long, embedded-delimiter cell (wrapped),
    * embedded-quote cell (escaped, unwrapped), ISO8601 date, nil cell,
    * plain double.
    */
  private val q37 = GraftQuery(
    "q37_csv_render",
    """SELECT o_orderkey,
      |  CAST(o_orderkey AS VARCHAR) || ',' ||
      |  '"' || replace(o_orderpriority || ',' || o_orderstatus, '"', '\"') || '"' || ',' ||
      |  replace('he said "' || o_orderstatus || '"', '"', '\"') || ',' ||
      |  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') || ',' ||
      |  coalesce(nullif(o_orderstatus, 'O'), '') || ',' ||
      |  CAST(o_totalprice AS VARCHAR) AS line
      |FROM orders
      |WHERE o_orderkey % 50 = 0
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val cells = Tables.orders(s, d)
      .where(col("o_orderkey") % 50 === 0)
      .select(
        col("o_orderkey"),
        concat(col("o_orderpriority"), lit(","), col("o_orderstatus")).as("pri_status"),
        concat(lit("he said \""), col("o_orderstatus"), lit("\"")).as("quoted"),
        col("o_orderdate"),
        nullif(col("o_orderstatus"), lit("O")).as("nil_cell"),
        col("o_totalprice"))
    import DelimitedWriter.renderCell
    cells.select(
      col("o_orderkey"),
      concat_ws(",",
        renderCell(col("o_orderkey"), LongType, ","),
        renderCell(col("pri_status"), StringType, ","),
        renderCell(col("quoted"), StringType, ","),
        renderCell(col("o_orderdate"), TimestampType, ","),
        renderCell(col("nil_cell"), StringType, ","),
        renderCell(col("o_totalprice"), DoubleType, ",")).as("line"))
      .orderBy("o_orderkey")
  }

  val queries: Seq[GraftQuery] = Seq(q37)
}
