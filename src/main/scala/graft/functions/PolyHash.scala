package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling hash over a string's code points,
  * fold(acc·31 + cp) mod 1e9+7 — the shared fingerprint/shingle kernel of
  * the dedup operators (q29, q31, q39, q40).
  *
  * Semantically identical to the SQL formulation
  * `aggregate(sequence(1, length(s)), 0L, (acc,i) -> (acc*31 +
  * ascii(substring(s,i,1))) % 1000000007)` and to DuckDB's
  * `list_reduce(... ascii(s[i]) ...)`, but runs as one codegen'd loop —
  * no per-character int array materialization, no lambda dispatch. At
  * sf0.1 this kernel is the top cost of four queries; at 100 TB it is the
  * difference between a narrow map and an allocation storm.
  */
object PolyHashKernel {
  final val Mod = 1000000007L
  /** Decodes UTF-8 code points directly off the UTF8String's bytes — no
    * String/char[] copy per value (this runs per shingle on the dedup hot
    * path). Matches `String.codePoints()` for well-formed UTF-8; bytes
    * that are not a valid lead (stray continuation bytes, 0xF8-0xFF)
    * hash as U+FFFD, one per byte, like the charset decoder's
    * replacement policy.
    */
  def hash(s: UTF8String): Long = hashFrom(0L, s)

  /** [[hash]] continued from a prior accumulator — the chain form that
    * lets [[GramHashKernels]] fold a multi-token gram without ever
    * materializing the joined string ([[hash]](t1 + ' ' + t2) ==
    * hashFrom(then-space-then, t2) by construction of the fold).
    */
  def hashFrom(acc0: Long, s: UTF8String): Long = {
    val n = s.numBytes()
    var acc = acc0
    var i = 0
    while (i < n) {
      val b0 = s.getByte(i) & 0xFF
      var cp = 0
      var len = 1
      if (b0 < 0x80) { cp = b0 }
      else if ((b0 & 0xE0) == 0xC0) { cp = b0 & 0x1F; len = 2 }
      else if ((b0 & 0xF0) == 0xE0) { cp = b0 & 0x0F; len = 3 }
      else if ((b0 & 0xF8) == 0xF0) { cp = b0 & 0x07; len = 4 }
      else { cp = 0xFFFD } // invalid lead byte → replacement char
      var j = 1
      while (j < len && i + j < n) {
        cp = (cp << 6) | (s.getByte(i + j) & 0x3F)
        j += 1
      }
      acc = (acc * 31 + cp) % Mod
      i += len
    }
    acc
  }
}

case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"poly_hash requires string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    PolyHashKernel.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHashKernel.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kernels for [[GramHashes]] / [[DistinctGramHashes]] — the poly-hash
  * of every word-n-gram of a token array, computed by CHAINING
  * [[PolyHashKernel.hashFrom]] across the gram's tokens with the `' '`
  * joiner folded in between: bit-identical to
  * `poly_hash(concat_ws(' ', ts[i], …, ts[i+n-1]))` with ZERO string
  * concatenation, no interpreted `transform(sequence(...))` lambda per
  * token, and (for the distinct form) no quadratic `array_distinct`
  * pass. The n-gram machinery of the contamination/dup-gram family
  * (q65/q77/q89 via `docGrams`) and the span masker (q259/q260 via
  * `dupSpans`) runs on these.
  *
  * concat_ws semantics are preserved exactly: a null token contributes
  * neither bytes nor a separator (tokens come from `split`, which never
  * yields nulls — the arm exists for fidelity). The DISTINCT form
  * dedupes on the token tuple, which equals joined-string equality for
  * whitespace-free tokens (split's output), bucketed by the poly hash
  * with an exact token-compare on collision — so two DIFFERENT grams
  * that collide in the 1e9+7 hash space still emit two (equal) hash
  * entries, exactly like `array_distinct`-then-hash did.
  */
object GramHashKernels {
  def gramHash(ts: ArrayData, start: Int, n: Int): Long = {
    var acc = 0L
    var emitted = 0
    var j = 0
    while (j < n) {
      if (!ts.isNullAt(start + j)) {
        if (emitted > 0) acc = (acc * 31 + 32) % PolyHashKernel.Mod
        acc = PolyHashKernel.hashFrom(acc, ts.getUTF8String(start + j))
        emitted += 1
      }
      j += 1
    }
    acc
  }

  def positional(ts: ArrayData, n: Int): ArrayData = {
    val len = ts.numElements()
    if (len < n)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(new Array[Long](0))
    val out = new Array[Long](len - n + 1)
    var i = 0
    while (i <= len - n) { out(i) = gramHash(ts, i, n); i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  // the concat_ws(' ') images of two gram windows are equal iff their
  // non-null token sequences are equal (tokens carry no whitespace)
  private def sameGram(ts: ArrayData, i1: Int, i2: Int, n: Int): Boolean = {
    var j1 = 0
    var j2 = 0
    while (true) {
      while (j1 < n && ts.isNullAt(i1 + j1)) j1 += 1
      while (j2 < n && ts.isNullAt(i2 + j2)) j2 += 1
      if (j1 == n || j2 == n) return j1 == n && j2 == n
      if (!ts.getUTF8String(i1 + j1).equals(ts.getUTF8String(i2 + j2)))
        return false
      j1 += 1
      j2 += 1
    }
    true
  }

  def distinct(ts: ArrayData, n: Int): ArrayData = {
    val len = ts.numElements()
    if (len < n)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(new Array[Long](0))
    val buckets =
      new java.util.HashMap[java.lang.Long, java.util.ArrayList[Integer]]()
    val order = new java.util.ArrayList[java.lang.Long](len - n + 1)
    var i = 0
    while (i <= len - n) {
      val h = java.lang.Long.valueOf(gramHash(ts, i, n))
      var bucket = buckets.get(h)
      if (bucket == null) {
        bucket = new java.util.ArrayList[Integer](2)
        buckets.put(h, bucket)
      }
      var dup = false
      var bi = 0
      while (bi < bucket.size() && !dup) {
        if (sameGram(ts, bucket.get(bi).intValue(), i, n)) dup = true
        bi += 1
      }
      if (!dup) { bucket.add(Integer.valueOf(i)); order.add(h) }
      i += 1
    }
    val out = new Array[Long](order.size())
    var k = 0
    while (k < out.length) { out(k) = order.get(k).longValue(); k += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** `gram_hashes(ts, n)` → array<bigint>, positional — see
  * [[GramHashKernels]].
  */
case class GramHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"gram width must be >= 1, got $n")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"gram_hashes requires array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    GramHashKernels.positional(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.GramHashKernels.positional($a, $n);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `distinct_gram_hashes(ts, n)` → array<bigint>, string-distinct — see
  * [[GramHashKernels]].
  */
case class DistinctGramHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"gram width must be >= 1, got $n")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"distinct_gram_hashes requires array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    GramHashKernels.distinct(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.GramHashKernels.distinct($a, $n);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kernel for [[Shingles3]] — the distinct word-3-gram list of a
  * pre-split token array in ONE codegen pass: exactly
  * `array_distinct(transform(sequence(1, size(ts) - 2), i ->
  * concat_ws(' ', ts[i], ts[i+1], ts[i+2])))`, the shared shingle
  * builder of the whole minhash dedup family (q31/q40/q52/q85/q187/
  * q249/q276/q277 all ride the one shingle artifact). Spark HOFs are
  * CodegenFallback, so the r17 form paid an interpreted lambda + a
  * concat allocation per TOKEN and then an O(n²)-worst-case
  * array_distinct per document — this emits first-occurrence-ordered
  * distinct grams off a hash set in one pass (array_distinct's exact
  * order). Inputs come from `split(lower(text), "\\s+")`, which never
  * yields null elements; a null token (impossible by construction)
  * would make its grams null-skipping exactly like concat_ws, so the
  * kernel simply treats null as the empty token the same way.
  */
object Shingles3Kernel {
  def eval(ts: ArrayData): ArrayData = {
    val n = ts.numElements()
    if (n < 3) return new GenericArrayData(new Array[Any](0))
    val seen = new java.util.LinkedHashSet[UTF8String]((n - 2) * 2)
    var i = 0
    while (i + 2 < n) {
      // concat_ws(' ', a, b, c) skips nulls: join the non-null tokens
      val parts = new java.util.ArrayList[UTF8String](3)
      var j = 0
      while (j < 3) {
        if (!ts.isNullAt(i + j)) parts.add(ts.getUTF8String(i + j))
        j += 1
      }
      seen.add(UTF8String.concatWs(UTF8String.fromString(" "),
        parts.toArray(new Array[UTF8String](parts.size())): _*))
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}

/** `shingles3(ts)` → array<string> — see [[Shingles3Kernel]]. */
case class Shingles3(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingles3 requires array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    Shingles3Kernel.eval(input.asInstanceOf[
      org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.Shingles3Kernel.eval($a);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kernel for [[PolyHashAll]] — [[PolyHashKernel.hash]] over every
  * element of an `array<string>` in ONE codegen pass: exactly
  * `transform(arr, s -> poly_hash(s))`, minus the interpreted
  * CodegenFallback lambda dispatch per element (the shingle-hash
  * artifact runs this over every shingle of every document).
  */
object PolyHashAllKernel {
  def eval(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i))
        out(i) = java.lang.Long.valueOf(
          PolyHashKernel.hash(arr.getUTF8String(i)))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `poly_hash_all(arr)` → array<bigint> — see [[PolyHashAllKernel]]. */
case class PolyHashAll(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"poly_hash_all requires array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    PolyHashAllKernel.eval(input.asInstanceOf[
      org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.PolyHashAllKernel.eval($a);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kernel for [[MinHashSig]] — ALL `as.length` minhash components of a
  * shingle-hash list in ONE codegen pass:
  * `sig[i] = min_h (as[i]·h + bs[i]) mod p`, exactly the family of
  * `array_min(transform(hv, h -> (A_i * h + B_i) % P))` expressions it
  * replaces — which were `NumHashes` SEPARATE interpreted
  * CodegenFallback lambda passes over every document's hash list, the
  * dominant cost of the signature artifact every minhash dedup tier
  * shares. Affine arithmetic is the identical long expression (h < p
  * and a < p keep a·h + b far below Long.MaxValue, in both forms); null
  * elements are skipped exactly like `array_min` skips nulls, and a
  * list with no non-null element yields a null component (array_min of
  * an empty/all-null array).
  */
object MinHashSigKernel {
  def eval(hv: ArrayData, as: Array[Long], bs: Array[Long],
      p: Long): ArrayData = {
    val k = as.length
    val mins = new Array[Long](k)
    var any = false
    val n = hv.numElements()
    var i = 0
    while (i < n) {
      if (!hv.isNullAt(i)) {
        val h = hv.getLong(i)
        var j = 0
        if (!any) {
          while (j < k) { mins(j) = (as(j) * h + bs(j)) % p; j += 1 }
          any = true
        } else {
          while (j < k) {
            val v = (as(j) * h + bs(j)) % p
            if (v < mins(j)) mins(j) = v
            j += 1
          }
        }
      }
      i += 1
    }
    if (!any) {
      new GenericArrayData(new Array[Any](k)) // all-null components
    } else {
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(mins)
    }
  }
}

/** `min_hash_sig(hv, as, bs, p)` → array<bigint> — see
  * [[MinHashSigKernel]]. The affine constants are literal arrays
  * (plan-shape constants, like [[graft.functions.NearestCells]]'
  * codebook).
  */
case class MinHashSig(child: Expression, as: Seq[Long], bs: Seq[Long],
    p: Long) extends UnaryExpression {
  require(as.length == bs.length && as.nonEmpty,
    "min_hash_sig needs matching non-empty coefficient arrays")

  private val asArr = as.toArray
  private val bsArr = bs.toArray

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"min_hash_sig requires array<bigint>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    MinHashSigKernel.eval(input.asInstanceOf[
      org.apache.spark.sql.catalyst.util.ArrayData], asArr, bsArr, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("minhashAs", asArr, "long[]")
    val bsRef = ctx.addReferenceObj("minhashBs", bsArr, "long[]")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.MinHashSigKernel.eval(
         |  $a, $asRef, $bsRef, ${p}L);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Typed Column helpers over the poly-hash and minhash functions of the
  * [[graft.GraftExtensions]] catalog.
  */
object PolyHash {
  def hash(c: Column): Column = {
    import org.apache.spark.sql.functions.call_function
    call_function("poly_hash", c)
  }

  /** One-pass distinct word-3-grams of a token array. */
  def shingles3(ts: Column): Column = {
    import org.apache.spark.sql.functions.call_function
    call_function("shingles3", ts)
  }

  /** One-pass [[PolyHashKernel.hash]] over every element. */
  def hashAll(arr: Column): Column = {
    import org.apache.spark.sql.functions.call_function
    call_function("poly_hash_all", arr)
  }

  /** One-pass all-component minhash signature. */
  def minHashSig(hv: Column, as: Seq[Long], bs: Seq[Long], p: Long): Column = {
    import org.apache.spark.sql.functions.{call_function, lit, typedLit}
    call_function("min_hash_sig", hv, typedLit(as), typedLit(bs), lit(p))
  }

  /** Positional n-gram poly-hashes (index i ↦ gram at i+1). */
  def gramHashes(ts: Column, n: Int): Column = {
    import org.apache.spark.sql.functions.{call_function, lit}
    call_function("gram_hashes", ts, lit(n))
  }

  /** String-distinct n-gram poly-hashes in first-occurrence order. */
  def distinctGramHashes(ts: Column, n: Int): Column = {
    import org.apache.spark.sql.functions.{call_function, lit}
    call_function("distinct_gram_hashes", ts, lit(n))
  }

  /** DuckDB twin of the kernel, for oracle SQL: the same left-to-right
    * `(acc * 31 + byte) % 1e9+7` fold the codegen expression computes.
    * Shared by every oracle that fingerprints text (q29, q57) so the
    * constant can never drift between the plan and the oracle.
    */
  def oracleSql(textExpr: String): String =
    s"""list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, length($textExpr) + 1),
       |                     i -> CAST(ascii($textExpr[i]) AS BIGINT))),
       |    (acc, c) -> (acc * 31 + c) % 1000000007)""".stripMargin
}
