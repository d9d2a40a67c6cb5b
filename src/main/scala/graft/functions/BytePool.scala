package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 1-D average-pooling "resize" over a payload's code points: the k-th
  * code point lands in window floor(k·n/L), each window emits its mean
  * value as a micro-unit integer (sum·1e6 / count, integer division so
  * both engines agree bit-exactly). This is the downsample/resize step of
  * the multimodal pipeline (q53) applied to the stand-in text payloads —
  * a real image resize replaces the kernel body, not the plan shape: one
  * codegen'd pass per row, fixed-size output, no intermediate per-element
  * arrays (the SQL HOF formulation materializes L-element lists per row
  * and runs interpreted).
  */
object BytePoolKernel {
  /** Walks UTF-8 bytes directly (no String copy), decoding code points as
    * [[PolyHashKernel.hash]] does; empty windows (L < n) emit 0.
    */
  def pool(s: UTF8String, n: Int): Array[Long] = {
    val total = s.numChars()
    val sums = new Array[Long](n)
    val counts = new Array[Long](n)
    val nBytes = s.numBytes()
    var i = 0
    var k = 0L
    while (i < nBytes) {
      val b0 = s.getByte(i) & 0xFF
      var cp = 0
      var len = 1
      if (b0 < 0x80) { cp = b0 }
      else if ((b0 & 0xE0) == 0xC0) { cp = b0 & 0x1F; len = 2 }
      else if ((b0 & 0xF0) == 0xE0) { cp = b0 & 0x0F; len = 3 }
      else if ((b0 & 0xF8) == 0xF0) { cp = b0 & 0x07; len = 4 }
      else { cp = 0xFFFD }
      var j = 1
      while (j < len && i + j < nBytes) {
        cp = (cp << 6) | (s.getByte(i + j) & 0x3F)
        j += 1
      }
      val w = if (total > 0) ((k * n) / total).toInt else 0
      if (w < n) { sums(w) += cp; counts(w) += 1 }
      i += len
      k += 1
    }
    Array.tabulate(n)(w => if (counts(w) > 0) sums(w) * 1000000L / counts(w) else 0L)
  }

  def poolData(s: UTF8String, n: Int): GenericArrayData =
    new GenericArrayData(pool(s, n))
}

case class BytePool(child: Expression, windows: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && windows > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"byte_pool requires (string, windows > 0), got ${child.dataType.simpleString}, $windows")

  override def nullSafeEval(input: Any): Any =
    BytePoolKernel.poolData(input.asInstanceOf[UTF8String], windows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BytePoolKernel.poolData($c, $windows)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kernel for [[PoolThreshHash]] — the aHash bit-pack over a
  * [[BytePool]] window array fused into one codegen pass (VERDICT r17
  * item 4): mean pool = Σp / bits (integer division), bit i set iff
  * p(i) > mean, packed into one BIGINT. Replaces the two interpreted
  * `aggregate(...)` HOF folds in the q343 plan (mean fold + 48-step
  * bit fold per row) with a single compiled long loop — all-integer
  * arithmetic, so the promotion is exactly bit-identical to the HOF
  * form and the DuckDB oracle. Null mirror: a null element nulls the
  * HOF mean, every `IF(p > null, …)` then yields 0, so the hash is 0
  * (unreachable from BytePool output — containsNull = false).
  */
object PoolThreshHashKernel {
  def hash(p: ArrayData, bits: Int): Long = {
    val n = p.numElements()
    var sum = 0L
    var i = 0
    while (i < n) {
      if (p.isNullAt(i)) return 0L
      sum += p.getLong(i)
      i += 1
    }
    val mean = sum / bits
    var acc = 0L
    i = 0
    while (i < bits && i < n) {
      if (p.getLong(i) > mean) acc += (1L << i)
      i += 1
    }
    acc
  }
}

/** `pool_thresh_hash(p, bits)` — the average-threshold hash of a pooled
  * window array in one codegen pass (see [[PoolThreshHashKernel]]).
  */
case class PoolThreshHash(child: Expression, bits: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if bits >= 1 && bits <= 63 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"pool_thresh_hash requires (array<bigint>, 1 <= bits <= 63), got " +
        s"${child.dataType.simpleString}, $bits")
  }

  override def nullSafeEval(input: Any): Any =
    PoolThreshHashKernel.hash(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PoolThreshHashKernel.hash($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Typed Column helpers over `byte_pool` and `pool_thresh_hash` of the
  * [[graft.GraftExtensions]] catalog (the int argument is a literal in
  * both).
  */
object BytePool {
  def pool(c: Column, n: Int): Column = {
    import org.apache.spark.sql.functions.{call_function, lit}
    call_function("byte_pool", c, lit(n))
  }

  /** Average-threshold hash of a pooled window array. */
  def threshHash(c: Column, bits: Int): Column = {
    import org.apache.spark.sql.functions.{call_function, lit}
    call_function("pool_thresh_hash", c, lit(bits))
  }
}
