package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-serialization kernel pieces needing exact reference parity
  * (reference/Sources/Helpers/DelimitedEncoder.swift:122-142).
  *
  * Doubles render WITHOUT scientific notation — the reference golden pins
  * `-0.00033` (not `-3.3E-4`,
  * reference/Tests/Helpers/DelimitedEncoderTests.swift:80-89), while
  * Java's `Double.toString` goes scientific below 1e-3 and from 1e7 up.
  * `plainString` sends every finite value through
  * `new BigDecimal(Double.toString(d)).toPlainString`, which keeps the
  * digits AND the scale of `Double.toString`, so the bytes are not always
  * the shortest form: `1.0E-4` renders `0.00010` (trailing zero),
  * `1.0E7` renders `10000000` while `9999999.0` renders `9999999.0`, and
  * `-0.0` renders `0.0`. NaN and the infinities keep `Double.toString`.
  * DelimitedWriterSpec pins these bytes.
  */
object RenderKernel {
  def plainString(d: Double): UTF8String = {
    val s =
      if (d.isNaN || d.isInfinite) java.lang.Double.toString(d)
      else new java.math.BigDecimal(java.lang.Double.toString(d)).toPlainString
    UTF8String.fromString(s)
  }
}

/** Codegen'd double→plain-string expression (stays inside whole-stage
  * codegen; every finite value takes the BigDecimal path of
  * [[RenderKernel.plainString]]).
  */
case class DoublePlainString(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"double_plain requires double input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    RenderKernel.plainString(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RenderKernel.plainString($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column form of the catalog's `double_plain(x)` (Spark 4 exposes no
  * public Expression→Column constructor).
  */
object DoublePlainString {
  def plain(c: Column): Column = {
    import org.apache.spark.sql.functions.call_function
    call_function("double_plain", c)
  }
}
