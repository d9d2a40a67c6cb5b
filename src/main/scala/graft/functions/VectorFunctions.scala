package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Cosine similarity between two ArrayType(FloatType) columns, computed in
  * double precision with a deterministic left-to-right accumulation (so the
  * value is reproducible and oracle-comparable, unlike a shuffle-order
  * dependent SQL sum).
  *
  * A native Catalyst expression (with codegen) rather than a Scala UDF:
  * no boxing of the float arrays per row, stays inside whole-stage codegen —
  * this is the hot kernel of the ANN/near-dup operators at 100 TB.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires array<float> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  /** Dimension mismatch → null; any null element → null (explicit policy,
    * consistent with the dimension-mismatch case — never silently read a
    * null slot as 0.0).
    */
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = (double) $a.getFloat($i);
         |    double $y = (double) $b.getFloat($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    if ($denom == 0.0) { ${ev.isNull} = true; }
         |    else { ${ev.value} = $dot / $denom; }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance between an ArrayType(FloatType) vector and an
  * ArrayType(DoubleType) centroid, accumulated left-to-right in dimension
  * order — bit-identical to the oracle's list_reduce fold, codegen'd like
  * [[CosineSimilarity]] (the k-means assignment path evaluates this N·k
  * times per Lloyd iteration; a HOF form would run interpreted).
  */
case class L2DistanceSq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"l2_dist_sq requires (array<float>, array<double>), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val dxy = a.getFloat(i).toDouble - b.getDouble(i)
      acc += dxy * dxy; i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val dxy = ctx.freshName("dxy")
      s"""
         |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $dxy = (double) $a.getFloat($i) - $b.getDouble($i);
         |    $acc += $dxy * $dxy;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Shared kernel for [[Int8QuantStats]] — eval and codegen call the same
  * two-pass loop so the value is defined once. Pass 1 finds the max
  * absolute component; pass 2 accumulates reconstruction error of the
  * symmetric int8 quantization (q = clamp(floor(x/s + 0.5), ±127),
  * s = max|x|/127) plus the vector's own norm, all left-to-right in
  * dimension order — bit-identical to the oracle's list_reduce folds.
  */
object Int8QuantKernel {
  def stats(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val f = a.getFloat(i)
      // mirror Int8QuantCosineKernel: a non-finite component surfaces as
      // null, never quantizes — NaN leaves max|x| unchanged and then
      // floor(NaN).toLong = 0 would fabricate code 0 with NaN err stats
      if (java.lang.Float.isNaN(f) || java.lang.Float.isInfinite(f)) return null
      val x = math.abs(f.toDouble)
      if (x > mx) mx = x
      i += 1
    }
    val scale = mx / 127.0
    val ss = if (scale == 0.0) 1.0 else scale
    var err2 = 0.0; var maxae = 0.0; var vn2 = 0.0
    i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      // ONE quantizer definition: the audit must certify exactly the
      // codes the serving kernel (Int8QuantCosineKernel) produces
      val e = x - Int8QuantCosineKernel.quant(x, ss).toDouble * ss
      err2 += e * e
      val ae = math.abs(e)
      if (ae > maxae) maxae = ae
      vn2 += x * x
      i += 1
    }
    val rmse = if (n == 0) 0.0 else math.sqrt(err2 / n)
    val rel = if (vn2 == 0.0) 0.0 else math.sqrt(err2) / math.sqrt(vn2)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(scale, rmse, maxae, rel))
  }
}

/** Kernel for [[Int8QuantCosine]] — cosine similarity computed on the
  * symmetric-int8 codes of both vectors. The per-vector scales CANCEL in
  * the cosine ratio (cos(qa·ssa, qb·ssb) = Σqa·qb / (√Σqa²·√Σqb²)), so
  * the whole accumulation is EXACT 64-bit integer arithmetic on the
  * codes (|q| ≤ 127 → every sum fits a long at any realistic dimension)
  * with one double division at the end — which is both why int8 ANN
  * serving is fast in production and why cross-engine parity is trivial
  * here: there is no float accumulation order to match, just integers.
  * Returns NaN as the null sentinel (dim mismatch, null element, zero
  * code vector) so codegen stays box-free.
  */
object Int8QuantCosineKernel {
  def quant(x: Double, ss: Double): Long = {
    var q = math.floor(x / ss + 0.5)
    if (q < -127.0) q = -127.0
    if (q > 127.0) q = 127.0
    q.toLong
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    if (a.numElements() != b.numElements()) return Double.NaN
    val n = a.numElements()
    var mxa = 0.0; var mxb = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return Double.NaN
      val fa = a.getFloat(i); val fb = b.getFloat(i)
      // a non-finite component must surface as null, never quantize —
      // NaN.toLong is 0, which would fabricate a confident similarity
      if (java.lang.Float.isNaN(fa) || java.lang.Float.isInfinite(fa) ||
          java.lang.Float.isNaN(fb) || java.lang.Float.isInfinite(fb))
        return Double.NaN
      val xa = math.abs(fa.toDouble); if (xa > mxa) mxa = xa
      val xb = math.abs(fb.toDouble); if (xb > mxb) mxb = xb
      i += 1
    }
    val ssa = if (mxa == 0.0) 1.0 else mxa / 127.0
    val ssb = if (mxb == 0.0) 1.0 else mxb / 127.0
    var dot = 0L; var na = 0L; var nb = 0L
    i = 0
    while (i < n) {
      val qa = quant(a.getFloat(i).toDouble, ssa)
      val qb = quant(b.getFloat(i).toDouble, ssb)
      dot += qa * qb; na += qa * qa; nb += qb * qb
      i += 1
    }
    if (na == 0L || nb == 0L) Double.NaN
    else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }
}

/** `int8_quant_cosine(a, b)` — cosine on int8 codes (see
  * [[Int8QuantCosineKernel]]); the quantized-serving twin of
  * [[CosineSimilarity]], used by q82 to rank neighbors the way an int8
  * index would, with the float kernel alongside exposing the
  * approximation error per returned neighbor.
  */
case class Int8QuantCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"int8_quant_cosine requires array<float> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val v = Int8QuantCosineKernel.cosine(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    if (v.isNaN) null else java.lang.Double.valueOf(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.Int8QuantCosineKernel.cosine($a, $b);
         |if (java.lang.Double.isNaN(${ev.value})) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Kernel for [[Int8Encode]] — the MATERIALIZATION half of int8 serving:
  * one pass computes the per-vector scale (s = max|x|/127, the same
  * definition [[Int8QuantCosineKernel]] uses per pair), a second emits the
  * codes. Storing the codes once per vector (instead of re-deriving both
  * sides' codes inside every pair evaluation) is what actually realizes
  * the 4× storage/shuffle reduction: the candidate join carries
  * `array<tinyint>` + one long norm, never the float embedding.
  * Null/non-finite components → null (the quantizer never fabricates a
  * code from garbage).
  */
object Int8EncodeKernel {
  def encode(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val f = a.getFloat(i)
      if (java.lang.Float.isNaN(f) || java.lang.Float.isInfinite(f)) return null
      val x = math.abs(f.toDouble)
      if (x > mx) mx = x
      i += 1
    }
    val ss = if (mx == 0.0) 1.0 else mx / 127.0
    val out = new Array[Byte](n)
    i = 0
    while (i < n) {
      out(i) = Int8QuantCosineKernel.quant(a.getFloat(i).toDouble, ss).toByte
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Kernel for [[Int8CodeDot]] — exact integer dot product over stored int8
  * codes. |q| ≤ 127, so the accumulator fits a long at any realistic
  * dimension (overflow needs n > 2^49). Long.MinValue is the null sentinel
  * (dim mismatch / null slot) so codegen stays box-free; it is unreachable
  * as a real dot value at any dimension below 2^49.
  */
object Int8CodeDotKernel {
  final val NullSentinel: Long = Long.MinValue

  def dot(a: ArrayData, b: ArrayData): Long = {
    if (a.numElements() != b.numElements()) return NullSentinel
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return NullSentinel
      acc += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    acc
  }
}

/** `int8_encode(v)` → array<tinyint> — symmetric per-vector int8 codes
  * (q = clamp(floor(x/s + 0.5), ±127), s = max|x|/127). The stored-index
  * twin of [[Int8QuantCosine]]'s in-kernel quantization: [[graft.operators.Similarity]]
  * materializes this column once per vector and every quantized k-NN join
  * reads codes, not float arrays.
  */
case class Int8Encode(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.ByteType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"int8_encode requires array<float>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    Int8EncodeKernel.encode(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.Int8EncodeKernel.encode($a);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `int8_code_dot(a, b)` → bigint — exact integer dot product of two stored
  * int8 code arrays (see [[Int8CodeDotKernel]]). With the code norms also
  * stored, quantized cosine is `dot / (sqrt(na) * sqrt(nb))` in plain
  * codegen'd SQL — no float arrays anywhere in the serving join.
  */
case class Int8CodeDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(org.apache.spark.sql.types.ByteType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"int8_code_dot requires array<tinyint> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val v = Int8CodeDotKernel.dot(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    if (v == Int8CodeDotKernel.NullSentinel) null else java.lang.Long.valueOf(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.Int8CodeDotKernel.dot($a, $b);
         |if (${ev.value} == java.lang.Long.MIN_VALUE) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `int8_quant_stats(v)` → [qscale, rmse, max_abs_err, rel_err] — the
  * reconstruction-error audit of symmetric per-vector int8 quantization.
  *
  * The 100 TB role: embeddings dominate an LLM corpus's ANN storage and
  * shuffle volume; int8 cuts both 4× (float32 → one byte per dim plus one
  * scale per vector), which is the difference between an index that fits
  * executor memory and one that spills. Serving quantized vectors is only
  * safe if the reconstruction error is measured and gated — this kernel
  * is that gate, one codegen pass per row, no boxing, no HOF interpreter
  * (Spark's higher-order `aggregate`/`transform` are CodegenFallback).
  */
case class Int8QuantStats(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"int8_quant_stats requires array<float>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    Int8QuantKernel.stats(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.Int8QuantKernel.stats($a);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kernels for [[PackCodes]]/[[UnpackCodes]] — the production PQ code
  * layout. At k=256 a subspace code is exactly one unsigned byte, so an
  * M-subspace code is an M-byte `binary` — the row-width floor (no array
  * header, no per-element null bits, 8 B for M=8 against 256 B of
  * float32: the 32× compression PQ promises). Pack rejects codes outside
  * [0, 255] (they cannot be a k≤256 codebook id) with null rather than
  * truncating; unpack widens back to the int form every (m, cell) join
  * uses, so the stored byte and the join key are provably the same value.
  */
object PackCodesKernel {
  def pack(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = a.getInt(i)
      if (v < 0 || v > 255) return null
      out(i) = v.toByte
      i += 1
    }
    out
  }

  def unpack(b: Array[Byte]): ArrayData = {
    val out = new Array[Int](b.length)
    var i = 0
    while (i < b.length) {
      out(i) = b(i) & 0xff
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `pack_codes(array<int>) → binary` — one unsigned byte per subspace
  * code (see [[PackCodesKernel]]). The storage form of a k≤256 PQ code.
  */
case class PackCodes(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.IntegerType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pack_codes requires array<int>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    PackCodesKernel.pack(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.PackCodesKernel.pack($a);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `unpack_codes(binary) → array<int>` — the join-key form of a stored
  * [[PackCodes]] byte string (values 0..255, the unsigned reading).
  */
case class UnpackCodes(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"unpack_codes requires binary, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    PackCodesKernel.unpack(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.PackCodesKernel.unpack($a);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kernel for [[PrefixCosines]] — ALL nested-prefix cosines of a vector
  * pair in ONE left-to-right traversal. The matryoshka (MRL) audit needs
  * cos(a[1..m], b[1..m]) at several nested cut points m₁ < m₂ < … ≤ dim;
  * because the prefixes are nested, the running (dot, ‖a‖², ‖b‖²)
  * accumulators at cut mᵢ are exactly the first-mᵢ partial sums of the
  * full-dimension fold — so one pass emits every tier, replacing (per
  * pair) |cuts| interpreted `aggregate(sequence(1,m), …)` higher-order
  * folds × 3 accumulators with a single codegen loop, and letting the
  * caller keep ONE pair table instead of cuts.length copies.
  *
  * Accumulation is per-term `dot += x·y` in dimension order and the
  * emitted value is `dot / (sqrt(na) · sqrt(nb))` — the identical IEEE
  * operation sequence as the HOF form it replaces and as the oracle's
  * `list_reduce` folds, so results are bit-stable across the rewrite
  * (q294's hash is pinned on this). Null policy is PER SLOT, exactly the
  * per-tier HOF semantics (review r17 finding 1): a tier's fold touches
  * only indices 1..m, so a null element or an out-of-range index at
  * position i nulls ONLY the cuts whose prefix includes i (the HOF's
  * `element_at` returns null there and the fold absorbs it) — tiers
  * that complete before the first null/short index stay valid, never
  * dropped wholesale. A zero-norm prefix divides through like the HOF
  * form did (NaN/Inf, not null) — fidelity over prettiness.
  */
object PrefixCosinesKernel {
  def eval(a: ArrayData, b: ArrayData, cuts: Array[Int]): ArrayData = {
    val n = math.min(a.numElements(), b.numElements())
    val out = new Array[Any](cuts.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0; var c = 0
    var dead = false // first null/short index reached: later cuts are null
    while (c < cuts.length) {
      val cut = cuts(c)
      if (!dead && cut <= n) {
        while (i < cut && !dead) {
          if (a.isNullAt(i) || b.isNullAt(i)) dead = true
          else {
            val x = a.getFloat(i).toDouble
            val y = b.getFloat(i).toDouble
            dot += x * y; na += x * x; nb += y * y; i += 1
          }
        }
        if (!dead)
          out(c) = java.lang.Double.valueOf(
            dot / (math.sqrt(na) * math.sqrt(nb)))
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Kernel for [[TriProducts]] — the flattened UPPER TRIANGLE of the
  * outer product x·xᵀ of one quantized (integer) vector with itself:
  * out[pos] = x(i)·x(j) for i = 1..n, j = i..n in row-major order,
  * n·(n+1)/2 entries. One codegen pass per row replaces the interpreted
  * `flatten(transform(sequence(...), transform(sequence(...))))`
  * struct-builder Spark runs as CodegenFallback — the covariance/Gram
  * accumulation (q321) feeds these straight into a positional explode
  * and a (i, j)-keyed exact sum, so the kernel emits a primitive long
  * array (no per-cell boxing, no structs). Inputs are already-quantized
  * longs (|x| ≤ 2²⁰·max|emb|), so each product fits a long with ~2⁵
  * headroom at any realistic embedding magnitude; the EXACT wide-type
  * summation across rows stays in the decimal aggregation above the
  * kernel. A null element → null result (same explicit policy as
  * [[CosineSimilarity]]; the corpus schema carries no null slots).
  */
object TriProductsKernel {
  def eval(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      i += 1
    }
    val xs = new Array[Long](n)
    i = 0
    while (i < n) { xs(i) = a.getLong(i); i += 1 }
    val out = new Array[Long](n * (n + 1) / 2)
    var p = 0
    i = 0
    while (i < n) {
      val xi = xs(i)
      var j = i
      while (j < n) { out(p) = xi * xs(j); p += 1; j += 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** `tri_products(xs)` → array<bigint> — see [[TriProductsKernel]]. */
case class TriProducts(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"tri_products requires array<bigint>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    TriProductsKernel.eval(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.TriProductsKernel.eval($a);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kernel for [[NearestCell]] — the k-means assignment argmin
  * `argmin_c Σ_j (x_j − cen[c][j])²` over a literal codebook, in ONE
  * codegen pass per row.
  *
  * Replaces the r17 assignment shape (`array_min(transform(typedLit(
  * codebook), c -> struct(l2_dist_sq(x, c.cen), c.cell)))` — Spark HOFs
  * are CodegenFallback, so every training row paid an interpreted
  * k-lambda loop building k boxed structs, then an interpreted struct
  * array_min; with k = 256 production codebooks this was the hot loop
  * of every PQ/IVF artifact build). The codebook arrives as two literal
  * arrays: `cells` (ids ascending) and `cens` (the centroid matrix
  * flattened row-major, cells.length · sd doubles).
  *
  * Bit-identical to the HOF form: per-cell distance accumulates j
  * ascending with the same float→double widening as [[L2DistanceSq]],
  * cells scan ascending with a STRICT less-than — ties keep the lower
  * cell id, exactly array_min's lexicographic (d, cell) order. NULL
  * (loud) on a dimension mismatch or null element, where the HOF form
  * produced a null-distance struct that could win array_min silently.
  */
object NearestCellKernel {
  def evalChecked(emb: ArrayData, cells: ArrayData,
      cens: ArrayData): java.lang.Integer = {
    val k = cells.numElements()
    if (k == 0) return null
    val sd = cens.numElements() / k
    val n = emb.numElements()
    if (sd != n) return null
    var best = -1
    var bestD = 0.0
    var c = 0
    while (c < k) {
      val base = c * sd
      var acc = 0.0
      var j = 0
      while (j < n) {
        if (emb.isNullAt(j) || cens.isNullAt(base + j)) return null
        val d = emb.getFloat(j).toDouble - cens.getDouble(base + j)
        acc += d * d
        j += 1
      }
      if (best < 0 || acc < bestD) { best = c; bestD = acc }
      c += 1
    }
    java.lang.Integer.valueOf(cells.getInt(best))
  }
}

/** `nearest_cell(x, cells, cens_flat)` → int — see [[NearestCellKernel]]. */
case class NearestCell(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(IntegerType, _),
            ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"nearest_cell requires (array<float>, array<int>, array<double>)," +
          s" got ${a.simpleString}, ${b.simpleString}, ${c.simpleString}")
    }

  override def nullSafeEval(e: Any, c: Any, m: Any): Any =
    NearestCellKernel.evalChecked(e.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], m.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, c, m) => {
      val res = ctx.freshName("res")
      s"""
         |java.lang.Integer $res =
         |  graft.functions.NearestCellKernel.evalChecked($e, $c, $m);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res.intValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Kernel for [[AdcSum]] — the order-pinned ADC distance fold
  * Σ_m lut[m, cells[m]] in ONE codegen pass per (vector, query) pair.
  *
  * Replaces the r17 ADC shape (codes exploded to M rows, shuffle-joined
  * to the LUT on (m, cell), collect_list + sort_array per (query,
  * neighbor) group, then an interpreted `aggregate()` HOF fold — a
  * CodegenFallback lambda on the hottest per-pair path of the PQ
  * serving family). The LUT arrives as two parallel arrays built by
  * sorting the (m, cell, dd) rows by (m, cell): `keys[i] = m·2²⁰ +
  * cell` ascending, `dds[i]` the matching slice distance. The fold
  * accumulates m = 0..M−1 — the identical IEEE order as the sorted
  * `aggregate()` it replaces (m unique per group, so sort_array's
  * (m, dd) order IS m order), so pinned oracle hashes survive.
  *
  * NULL (loud, never a wrong sum) when a cells entry is null or a
  * (m, cell) key is absent from the LUT — both impossible by
  * construction (codes are assigned against the same centroid table the
  * LUT enumerates) and caught by the oracle gate if a refactor breaks
  * the invariant.
  */
object AdcSumKernel {
  def evalChecked(cells: ArrayData, keys: ArrayData,
      dds: ArrayData): java.lang.Double = {
    val mCount = cells.numElements()
    val n = keys.numElements()
    var acc = 0.0
    var m = 0
    while (m < mCount) {
      if (cells.isNullAt(m)) return null
      val key = m * 1048576 + cells.getInt(m)
      var lo = 0
      var hi = n - 1
      var found = -1
      while (lo <= hi && found < 0) {
        val mid = (lo + hi) >>> 1
        val k = keys.getInt(mid)
        if (k == key) found = mid
        else if (k < key) lo = mid + 1
        else hi = mid - 1
      }
      if (found < 0) return null
      acc += dds.getDouble(found)
      m += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** `adc_sum(cells, lut_keys, lut_dds)` → double — see [[AdcSumKernel]]. */
case class AdcSum(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _),
            ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"adc_sum requires (array<int>, array<int>, array<double>), got " +
          s"${a.simpleString}, ${b.simpleString}, ${c.simpleString}")
    }

  override def nullSafeEval(c: Any, k: Any, d: Any): Any =
    AdcSumKernel.evalChecked(c.asInstanceOf[ArrayData],
      k.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, k, d) => {
      val res = ctx.freshName("res")
      s"""
         |java.lang.Double $res =
         |  graft.functions.AdcSumKernel.evalChecked($c, $k, $d);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Kernel for [[NearestCells]] — the p NEAREST cells of a literal
  * codebook by squared L2, in ONE codegen pass per row: the top-p
  * sibling of [[NearestCellKernel]] (p = 1 degenerates to it).
  *
  * Replaces the r17 multi-probe selection shape (`crossJoin(broadcast(
  * centroids))` fanning every vector to k rows, then a groupBy(vec_id)
  * with `slice(sort_array(collect_list(struct(pd, cell))), 1, p)` — an
  * n·k row blowup plus a full aggregation exchange per probe pass) and
  * the per-row interpreted `slice(array_sort(transform(typedLit(...))))`
  * probe ring of the streaming serve plan. With the codebook as plan
  * literals the whole selection is a stateless per-row map: ZERO
  * exchange, no row blowup, and it runs unmodified under streaming.
  *
  * Bit-identical ordering: per-cell distance accumulates j ascending
  * with [[L2DistanceSq]]'s float→double widening, and the p-slot
  * insertion buffer orders by `java.lang.Double.compare` then cell id —
  * exactly `sort_array`'s lexicographic (pd, cell) struct order
  * (NaN greatest, -0.0 < 0.0). Emits min(p, k) cells in that order —
  * `slice(..., 1, p)` semantics on a short array. NULL (loud) on a
  * dimension mismatch or null element, like [[NearestCellKernel]].
  */
object NearestCellsKernel {
  def evalChecked(emb: ArrayData, cells: ArrayData,
      cens: ArrayData, p: Int): ArrayData = {
    val k = cells.numElements()
    if (k == 0) return null
    val sd = cens.numElements() / k
    val n = emb.numElements()
    if (sd != n) return null
    val cap = math.min(p, k)
    val dBuf = new Array[Double](cap)
    val cBuf = new Array[Int](cap)
    var m = 0
    var c = 0
    while (c < k) {
      val base = c * sd
      var acc = 0.0
      var j = 0
      while (j < n) {
        if (emb.isNullAt(j) || cens.isNullAt(base + j)) return null
        val d = emb.getFloat(j).toDouble - cens.getDouble(base + j)
        acc += d * d
        j += 1
      }
      val cid = cells.getInt(c)
      // lexicographic (d, cell) strictly-less-than, Double.compare order
      def lt(d1: Double, c1: Int, d2: Double, c2: Int): Boolean = {
        val cmp = java.lang.Double.compare(d1, d2)
        cmp < 0 || (cmp == 0 && c1 < c2)
      }
      if (m < cap) {
        var pos = m
        while (pos > 0 && lt(acc, cid, dBuf(pos - 1), cBuf(pos - 1))) {
          dBuf(pos) = dBuf(pos - 1); cBuf(pos) = cBuf(pos - 1); pos -= 1
        }
        dBuf(pos) = acc; cBuf(pos) = cid
        m += 1
      } else if (lt(acc, cid, dBuf(cap - 1), cBuf(cap - 1))) {
        var pos = cap - 1
        while (pos > 0 && lt(acc, cid, dBuf(pos - 1), cBuf(pos - 1))) {
          dBuf(pos) = dBuf(pos - 1); cBuf(pos) = cBuf(pos - 1); pos -= 1
        }
        dBuf(pos) = acc; cBuf(pos) = cid
      }
      c += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(cBuf, m))
  }
}

/** `nearest_cells(x, cells, cens_flat, p)` → array<int> — see
  * [[NearestCellsKernel]]. `p` is a literal (plan-shape constant, like
  * [[PrefixCosines]]' cuts).
  */
case class NearestCells(first: Expression, second: Expression,
    third: Expression, p: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (p < 1) TypeCheckResult.TypeCheckFailure(
      s"nearest_cells probe count must be >= 1, got $p")
    else (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(IntegerType, _),
            ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"nearest_cells requires (array<float>, array<int>, array<double>)," +
          s" got ${a.simpleString}, ${b.simpleString}, ${c.simpleString}")
    }

  override def nullSafeEval(e: Any, c: Any, m: Any): Any =
    NearestCellsKernel.evalChecked(e.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], m.asInstanceOf[ArrayData], p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, c, m) => {
      s"""
         |${ev.value} =
         |  graft.functions.NearestCellsKernel.evalChecked($e, $c, $m, $p);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Kernel for [[CellMean]] — the per-dimension mean of a SORTED member
  * list `array<struct<vec_id, embedding: array<float>>>`, in ONE codegen
  * pass per cell.
  *
  * Replaces the r17 centroid-recompute shape (embeddings posexploded to
  * n·d (cell, j, struct(vec_id, v)) rows, a groupBy(cell, j) collecting
  * + sorting each dimension's member values, an interpreted
  * `aggregate()` HOF fold per (cell, j), then a SECOND groupBy(cell)
  * re-assembling the centroid array — the fattest exchange of every
  * Lloyd pass shuffled d× the corpus bytes as boxed structs). The new
  * shape groups ONCE at the (cell) grain — members shuffle as whole
  * rows, d× fewer — and this kernel folds the sorted member list
  * directly.
  *
  * Bit-identical: for each dimension j the sum accumulates members in
  * ascending vec_id order (the caller sorts by `sort_array`, and
  * vec_ids are distinct, so struct order IS vec_id order) — the
  * identical IEEE sequence as the sorted per-(cell, j) HOF fold — and
  * divides by that dimension's member count (members shorter than j
  * contribute to neither, exactly posexplode's grouping). A null
  * element at position j poisons that dimension to NULL (null +
  * anything = null in the fold it replaces); a null/absent member
  * array contributes nothing (posexplode emits no rows for it).
  */
object CellMeanKernel {
  def eval(vals: ArrayData): ArrayData = {
    val m = vals.numElements()
    var maxLen = 0
    var i = 0
    while (i < m) {
      if (!vals.isNullAt(i)) {
        val row = vals.getStruct(i, 2)
        if (!row.isNullAt(1)) {
          val len = row.getArray(1).numElements()
          if (len > maxLen) maxLen = len
        }
      }
      i += 1
    }
    if (maxLen == 0) return null
    val sums = new Array[Double](maxLen)
    val cnts = new Array[Int](maxLen)
    val dead = new Array[Boolean](maxLen)
    i = 0
    while (i < m) {
      if (!vals.isNullAt(i)) {
        val row = vals.getStruct(i, 2)
        if (!row.isNullAt(1)) {
          val emb = row.getArray(1)
          val len = emb.numElements()
          var j = 0
          while (j < len) {
            if (emb.isNullAt(j)) dead(j) = true
            else if (!dead(j)) sums(j) += emb.getFloat(j).toDouble
            cnts(j) += 1
            j += 1
          }
        }
      }
      i += 1
    }
    val out = new Array[Any](maxLen)
    var j = 0
    while (j < maxLen) {
      out(j) =
        if (dead(j) || cnts(j) == 0) null
        else java.lang.Double.valueOf(sums(j) / cnts(j))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `cell_mean(vals)` → array<double> — see [[CellMeanKernel]]. */
case class CellMean(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: org.apache.spark.sql.types.StructType, _)
        if s.length == 2 && (s(1).dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        }) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      "cell_mean requires array<struct<_, array<float>>> (member list " +
        s"sorted by the first field), got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    CellMeanKernel.eval(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.CellMeanKernel.eval($a);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kernel for [[SortedOverlapCount]] — |A ∩ B| of two SORTED, DISTINCT
  * `array<bigint>` columns in ONE merge pass, no allocation. The
  * equivalent `size(array_intersect(a, b))` builds a hash set and an
  * output array per call; on a candidate-pair verification path (q196's
  * AllPairs/PPJoin: one call per candidate pair, ~90-element token
  * arrays) that allocation is the per-pair hot loop. The merge count is
  * the same integer for sorted-distinct inputs, so swapping it under a
  * hash-pinned query is exact, not approximately equal.
  *
  * Preconditions (documented, parity-pinned on live tables by
  * KernelParitySpec, model-pinned by KernelPropertiesSpec): both arrays
  * ascending-sorted and duplicate-free (`array_sort(array_distinct(…))`
  * by construction at every call site), no null elements. A null element
  * encountered during the merge yields SQL NULL — loud enough to fail
  * the count-vs-threshold filter rather than miscount silently.
  */
object SortedOverlapKernel {
  def evalChecked(a: ArrayData, b: ArrayData): java.lang.Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      if (a.isNullAt(i) || b.isNullAt(j)) return null
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1L; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    java.lang.Long.valueOf(c)
  }
}

/** `sorted_overlap(a, b)` → bigint — see [[SortedOverlapKernel]]. */
case class SortedOverlapCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.LongType, _),
            ArrayType(org.apache.spark.sql.types.LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_overlap requires (array<bigint>, array<bigint>), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    SortedOverlapKernel.evalChecked(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("res")
      s"""
         |java.lang.Long $res =
         |  graft.functions.SortedOverlapKernel.evalChecked($a, $b);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Kernel for [[SortedOverlapStrCount]] — |A ∩ B| of two SORTED,
  * DISTINCT `array<string>` columns in ONE merge pass, no allocation:
  * the string sibling of [[SortedOverlapKernel]] for the shingle-set
  * verification tiers (q40/q249/q276), whose per-pair
  * `size(array_intersect(sha, shb))` built a hash set + output array
  * per candidate pair — and each of those queries evaluated the
  * intersection (and an `array_union` sibling) two or three times per
  * pair. With distinct inputs the union size is just
  * `|A| + |B| − |A ∩ B|`, so one merge pass replaces every set
  * operation the pair needed.
  *
  * Preconditions as [[SortedOverlapKernel]]: both arrays
  * ascending-sorted (`array_sort`'s UTF8 binary order — the comparison
  * used here is the same `UTF8String.compareTo`) and duplicate-free
  * (`array_distinct` at the document grain by construction), no null
  * elements; a null element yields SQL NULL, loud.
  */
object SortedOverlapStrKernel {
  def evalChecked(a: ArrayData, b: ArrayData): java.lang.Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      if (a.isNullAt(i) || b.isNullAt(j)) return null
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1L; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    java.lang.Long.valueOf(c)
  }
}

/** `sorted_overlap_str(a, b)` → bigint — see [[SortedOverlapStrKernel]]. */
case class SortedOverlapStrCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.StringType, _),
            ArrayType(org.apache.spark.sql.types.StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_overlap_str requires (array<string>, array<string>), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    SortedOverlapStrKernel.evalChecked(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("res")
      s"""
         |java.lang.Long $res =
         |  graft.functions.SortedOverlapStrKernel.evalChecked($a, $b);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Kernel for [[CosineSimilarityD]] — cosine over two `array<double>`
  * columns, accumulated left-to-right in dimension order with the final
  * `dot / (sqrt(na) · sqrt(nb))` division: the identical IEEE operation
  * sequence as the three interpreted `aggregate(sequence(...))` HOF
  * folds it replaces (Spark HOFs are CodegenFallback), so swapping it
  * into a hash-pinned query is bit-neutral. Divide-through semantics on
  * a zero-norm input (NaN/Inf, not null) — the HOF form's behavior,
  * fidelity over prettiness; null only on dimension mismatch or a null
  * element ([[CosineSimilarity]]'s explicit policy). The double-input
  * sibling of [[CosineSimilarity]] for derived vectors (whitened,
  * projected) that are already `array<double>`.
  */
object CosineSimDKernel {
  /** True iff the pair must evaluate to NULL (dimension mismatch or a
    * null element). A separate predicate rather than an in-band double
    * sentinel (ADVICE r17: Double.MaxValue was representable — a
    * pathological tiny-norm/large-dot input could collide and be
    * silently mis-nulled). The scan reads only the two lengths and the
    * null bitmaps (n/8 bytes each), so the two-call protocol stays
    * box-free and costs a fraction of the value pass.
    */
  def invalid(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (n != b.numElements()) return true
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** Cosine over a pair [[invalid]] has cleared — same left-to-right
    * IEEE accumulation and final divide-through as before (zero norm →
    * NaN/Inf, not null; fidelity over prettiness).
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** `cosine_sim_d(a, b)` — cosine over `array<double>` inputs (see
  * [[CosineSimDKernel]]): a null-validity predicate then the value
  * kernel, both codegen'd, no in-band sentinel.
  */
case class CosineSimilarityD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim_d requires array<double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (CosineSimDKernel.invalid(a, b)) null
    else java.lang.Double.valueOf(CosineSimDKernel.cosine(a, b))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |if (graft.functions.CosineSimDKernel.invalid($a, $b)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.CosineSimDKernel.cosine($a, $b);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `prefix_cosines(a, b, m₁, m₂, …)` → array<double> — cosine of the
  * nested prefixes a[1..mᵢ], b[1..mᵢ] in one codegen pass (see
  * [[PrefixCosinesKernel]]; per-slot null semantics — the whole array
  * is null only when an INPUT is null, the BinaryExpression default).
  * Cut points are literal ints, strictly ascending and positive
  * (enforced at registration), carried on the expression rather than as
  * children so codegen embeds them as one reference `int[]`.
  */
case class PrefixCosines(left: Expression, right: Expression, cuts: Seq[Int])
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (!(ok(left.dataType) && ok(right.dataType)))
      TypeCheckResult.TypeCheckFailure(
        s"prefix_cosines requires array<float> inputs, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    else if (cuts.isEmpty || cuts.head <= 0 ||
        cuts.sliding(2).exists(w => w.length == 2 && w(0) >= w(1)))
      TypeCheckResult.TypeCheckFailure(
        s"prefix_cosines cut points must be positive and strictly " +
          s"ascending, got ${cuts.mkString(",")}")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val cutsArr: Array[Int] = cuts.toArray

  override def nullSafeEval(l: Any, r: Any): Any =
    PrefixCosinesKernel.eval(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], cutsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cutsRef = ctx.addReferenceObj("cuts", cutsArr, "int[]")
      s"""
         |${ev.value} = graft.functions.PrefixCosinesKernel.eval($a, $b, $cutsRef);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Kernel for [[SrpBucket]] — the sign-random-projection bucket id over
  * an `array<float>` embedding, fused into one codegen pass (VERDICT r17
  * item 4: the last interpreted per-row HOF folds promoted to kernels).
  * Replaces `bits` interpreted `aggregate(sequence(1, size(embedding)),
  * …)` folds per row (Spark HOFs are CodegenFallback — an interpreted
  * lambda per row per bit at 100 TB) with one compiled double loop.
  *
  * Bit-exactness contract: the hyperplane component
  * `w(k,j) = ((k·64 + j) · 2654435761 + 2246822519) mod 1000000007 −
  * 500000003` (j 1-based) and the fold `acc + emb[j]·w` accumulate in
  * the identical IEEE order as the HOF/oracle formulations in
  * `operators/Similarity.scala` (`srpW`/`srpBucketOracle`), so pinned
  * query hashes survive the promotion; KernelPropertiesSpec pins
  * kernel == HOF-expr equality on live embeddings. Null policy mirrors
  * the HOF form: a null element nulls every bit's dot and SQL's
  * `CASE WHEN null…` yields 0, so the bucket is 0. Defined for
  * non-empty embeddings (the HOF's `sequence(1, size)` shape).
  */
object SrpBucketKernel {
  final val C1 = 2654435761L
  final val C2 = 2246822519L
  final val P = 1000000007L
  final val Shift = 500000003L

  def bucket(emb: ArrayData, bits: Int): Int = {
    val n = emb.numElements()
    var res = 0
    var k = 0
    while (k < bits) {
      var dot = 0.0
      var dead = false
      var j = 1
      while (j <= n && !dead) {
        if (emb.isNullAt(j - 1)) dead = true
        else {
          val w = ((k * 64L + j) * C1 + C2) % P - Shift
          dot += emb.getFloat(j - 1).toDouble * w.toDouble
          j += 1
        }
      }
      if (!dead && dot >= 0.0) res += (1 << k)
      k += 1
    }
    res
  }
}

/** `srp_bucket(embedding, bits)` — the packed sign bits of `bits`
  * deterministic hyperplane dot products (see [[SrpBucketKernel]]).
  * `bits` is a registration-time literal carried on the expression, so
  * codegen embeds a constant and the loop bound is JIT-visible.
  */
case class SrpBucket(child: Expression, bits: Int) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if bits >= 1 && bits <= 30 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"srp_bucket requires (array<float>, 1 <= bits <= 30), got " +
        s"${child.dataType.simpleString}, $bits")
  }

  override def nullSafeEval(input: Any): Any =
    SrpBucketKernel.bucket(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SrpBucketKernel.bucket($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kernel for [[JlProject]] — the deterministic ±1 Johnson-Lindenstrauss
  * sign projection (Achlioptas construction, parity-of-popcount signs)
  * fused into one codegen pass: `kOut` order-pinned double folds over the
  * first `dim` embedding slots, each narrowed to float (one IEEE round).
  * Replaces the interpreted `transform(sequence(…), k -> aggregate(…))`
  * HOF in `operators/Similarity.scala` (`jlProjectExpr`) — the identical
  * operation sequence (`acc + emb[j]·sign(j,k)` in j order, sign =
  * parity of `bit_count(((j·kOut + k) · 2654435761) mod 2^32)`), so the
  * pinned q154/q155 hashes survive; KernelPropertiesSpec pins kernel ==
  * HOF-expr equality on live embeddings. A short embedding (< dim slots)
  * or a null element nulls every output slot (each fold touches all j —
  * the HOF's element_at-null absorption).
  */
object JlProjectKernel {
  final val Mul = 2654435761L
  final val Mod = 4294967296L

  def project(emb: ArrayData, kOut: Int, dim: Int): ArrayData = {
    val n = emb.numElements()
    val out = new Array[Any](kOut)
    var dead = n < dim
    var j = 0
    while (j < dim && !dead) {
      if (emb.isNullAt(j)) dead = true else j += 1
    }
    if (!dead) {
      var k = 0
      while (k < kOut) {
        var acc = 0.0
        var jj = 0
        while (jj < dim) {
          val sign =
            if (java.lang.Long.bitCount(
              ((jj.toLong * kOut + k) * Mul) % Mod) % 2 == 0) 1.0 else -1.0
          acc += emb.getFloat(jj).toDouble * sign
          jj += 1
        }
        out(k) = java.lang.Float.valueOf(acc.toFloat)
        k += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `jl_project(embedding, kOut, dim)` → array<float> — the JL sign
  * projection in one codegen pass (see [[JlProjectKernel]]). `kOut` and
  * `dim` are registration-time literals carried on the expression.
  */
case class JlProject(child: Expression, kOut: Int, dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = true)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if kOut >= 1 && dim >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"jl_project requires (array<float>, kOut >= 1, dim >= 1), got " +
        s"${child.dataType.simpleString}, $kOut, $dim")
  }

  override def nullSafeEval(input: Any): Any =
    JlProjectKernel.project(input.asInstanceOf[ArrayData], kOut, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.JlProjectKernel.project($c, $kOut, $dim)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Typed Column helpers over the vector functions of the
  * [[graft.GraftExtensions]] catalog.
  */
object VectorFunctions {
  /** Cosine similarity of two float vectors. */
  def cosineSim(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{call_function}
    call_function("cosine_sim", a, b)
  }

  /** Squared L2 (float vector vs double centroid). */
  def l2DistSq(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{call_function}
    call_function("l2_dist_sq", a, b)
  }

  /** Int8 quantization audit vector. */
  def int8QuantStats(v: Column): Column = {
    import org.apache.spark.sql.functions.{call_function}
    call_function("int8_quant_stats", v)
  }

  /** Materialized int8 codes for an embedding column. */
  def int8Encode(v: Column): Column = {
    import org.apache.spark.sql.functions.{call_function}
    call_function("int8_encode", v)
  }

  /** Exact integer dot over stored code arrays. */
  def int8CodeDot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{call_function}
    call_function("int8_code_dot", a, b)
  }

  /** One-byte-per-subspace PQ code packing (k ≤ 256). */
  def packCodes(codes: Column): Column = {
    import org.apache.spark.sql.functions.{call_function}
    call_function("pack_codes", codes)
  }

  /** Unsigned unpack of a [[packCodes]] byte string. */
  def unpackCodes(b: Column): Column = {
    import org.apache.spark.sql.functions.{call_function}
    call_function("unpack_codes", b)
  }

  /** Cosine over array<double> inputs. */
  def cosineSimD(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{call_function}
    call_function("cosine_sim_d", a, b)
  }

  /** Flattened upper-triangle self outer product. */
  def triProducts(xs: Column): Column = {
    import org.apache.spark.sql.functions.{call_function}
    call_function("tri_products", xs)
  }

  /** All nested-prefix cosines in one codegen pass. */
  def prefixCosines(a: Column, b: Column, cuts: Seq[Int]): Column = {
    import org.apache.spark.sql.functions.{call_function, lit}
    call_function("prefix_cosines", (Seq(a, b) ++ cuts.map(lit(_))): _*)
  }

  /** K-means argmin over a literal (cells, flat-centroid) codebook. */
  def nearestCell(x: Column, cells: Column, censFlat: Column): Column = {
    import org.apache.spark.sql.functions.{call_function}
    call_function("nearest_cell", x, cells, censFlat)
  }

  /** Top-p cells of a literal codebook in (d, cell) order. */
  def nearestCells(x: Column, cells: Column, censFlat: Column, p: Int): Column = {
    import org.apache.spark.sql.functions.{call_function, lit}
    call_function("nearest_cells", x, cells, censFlat, lit(p))
  }

  /** Per-dimension mean of a sorted member list. */
  def cellMean(vals: Column): Column = {
    import org.apache.spark.sql.functions.{call_function}
    call_function("cell_mean", vals)
  }

  /** Order-pinned ADC fold over a (keys, dds) LUT pair. */
  def adcSum(cells: Column, lutKeys: Column, lutDds: Column): Column = {
    import org.apache.spark.sql.functions.{call_function}
    call_function("adc_sum", cells, lutKeys, lutDds)
  }

  /** Merge-count overlap of two sorted-distinct long arrays. */
  def sortedOverlap(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{call_function}
    call_function("sorted_overlap", a, b)
  }

  /** Merge-count overlap of two sorted-distinct string arrays. */
  def sortedOverlapStr(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{call_function}
    call_function("sorted_overlap_str", a, b)
  }

  /** SRP bucket id in one codegen pass. */
  def srpBucket(emb: Column, bits: Int): Column = {
    import org.apache.spark.sql.functions.{call_function, lit}
    call_function("srp_bucket", emb, lit(bits))
  }

  /** JL sign projection in one codegen pass. */
  def jlProject(emb: Column, kOut: Int, dim: Int): Column = {
    import org.apache.spark.sql.functions.{call_function, lit}
    call_function("jl_project", emb, lit(kOut), lit(dim))
  }
}
