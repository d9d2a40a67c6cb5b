package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** 64-bit SimHash over an array of feature hashes: bit b of the result is
  * set iff the majority of inputs have bit b set (2·count > n).
  *
  * A custom codegen expression because no built-in composition computes
  * this in one pass: the HOF formulation (64 nested lambdas) is
  * CodegenFallback + gets inlined per reference, and the explode +
  * 64-sum-aggregates formulation pays a 4M-row shuffle-agg with 65-column
  * partial rows. This kernel is one tight JIT'd loop per document —
  * 64 counter increments per element, no allocation.
  */
object SimHashKernel {
  /** Null elements are skipped (they contribute to neither the counts nor
    * the majority denominator); in practice the hash arrays carry no
    * nulls and the value equals the all-elements majority.
    */
  def hash64(hv: ArrayData): Long = {
    val len = hv.numElements()
    val counts = new Array[Int](64)
    var n = 0
    var i = 0
    while (i < len) {
      if (!hv.isNullAt(i)) {
        n += 1
        val h = hv.getLong(i)
        var b = 0
        while (b < 64) {
          counts(b) += ((h >>> b) & 1L).toInt
          b += 1
        }
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 64) {
      if (2 * counts(b) > n) sim |= (1L << b)
      b += 1
    }
    sim
  }
}

case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<bigint> input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    SimHashKernel.hash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashKernel.hash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  def of(c: Column): Column = {
    import org.apache.spark.sql.functions.call_function
    call_function("simhash64", c)
  }
}
