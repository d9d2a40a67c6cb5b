package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** `graft_bloom_might_contain(filterBytes, key)` — membership probe of a
  * long key against a serialized [[org.apache.spark.util.sketch.BloomFilter]]
  * carried as a foldable binary literal.
  *
  * This is the map-side half of the bloom-pruned anti/semi join
  * (operators/CorpusStats q77): a blocklist too large to broadcast as a
  * hash relation (10⁹ fingerprints ≈ tens of GB as a join build side)
  * still fits as a bloom (~1.2 GB at 1% fpp), so the 100 TB probe side is
  * filtered BEFORE its shuffle and only might-contain candidates reach
  * the exact confirming join. No false negatives, so the composed
  * bloom→confirm result is exactly the anti/semi join — the filter only
  * prunes, it never decides.
  *
  * The filter deserializes once per task from the literal (transient
  * lazy), and the codegen path calls straight into the deserialized
  * filter — no per-row deserialization, no UDF dispatch.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_might_contain requires a binary filter, got ${left.dataType.simpleString}")
    else if (!left.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_bloom_might_contain requires a foldable (literal) filter")
    else if (right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_might_contain requires a bigint key, got ${right.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val filter: BloomFilter = {
    val bytes = left.eval(null).asInstanceOf[Array[Byte]]
    if (bytes == null) null
    else BloomFilter.readFrom(new ByteArrayInputStream(bytes))
  }

  /** Codegen entry point — reads are lock-free on the deserialized bit
    * array, so one shared filter instance serves all of a task's rows.
    */
  def test(v: Long): Boolean = filter.mightContainLong(v)

  override def prettyName: String = "graft_bloom_might_contain"

  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(l: Any, r: Any): Any =
    filter.mightContainLong(r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", this, classOf[BloomMightContain].getName)
    defineCodeGen(ctx, ev, (_, rv) => s"$ref.test($rv)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_bloom_probe(handleId, key)` — the broadcast-handle form of
  * [[BloomMightContain]], and the one the registered queries use.
  *
  * The literal form embeds the serialized filter in the LogicalPlan; at
  * the 10⁹-key design point that is a ~1.2 GB blob copied on every plan
  * transformation, serialized into every task binary, and rendered into
  * every explain string — unusable. This form keeps the filter OUT of
  * the plan: the expression carries only a [[Broadcast]] handle (bytes
  * on the wire: an id), executors fetch the filter blocks once via
  * torrent broadcast, and the plan literal is one integer. This is the
  * same shape Spark's own runtime bloom-filter join pruning uses.
  *
  * Column-API plumbing: Spark 4 exposes no public Expression→Column
  * constructor, so the broadcast handle rides a session-registry id —
  * `mightContainBroadcast` stores the handle in [[handles]], emits
  * `graft_bloom_probe(lit(id), key)`, and the registered builder swaps
  * the id back for the handle at analysis time.
  */
case class BloomMightContainBc(
    bc: org.apache.spark.broadcast.Broadcast[BloomFilter],
    child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_probe requires a bigint key, got ${child.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def prettyName: String = "graft_bloom_probe"

  def test(v: Long): Boolean = bc.value.mightContainLong(v)

  override def nullSafeEval(input: Any): Any =
    bc.value.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloomBc", this, classOf[BloomMightContainBc].getName)
    defineCodeGen(ctx, ev, c => s"$ref.test($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomFilterFunctions {
  /** Live broadcast handles, keyed by the id embedded in the plan.
    *
    * Lifecycle: an entry (and the driver+executor memory its broadcast
    * pins — ~1.2 GB per filter at the 10⁹-key design point) lives until
    * [[releaseHandle]] destroys it. Queries obtain handles through
    * [[cachedHandle]], which memoizes ONE filter per (session, artifact
    * key) in [[graft.Artifacts]] and registers destruction there — so
    * repeated runs of the same query reuse one broadcast instead of
    * leaking one per invocation, and `Artifacts.release(session)` frees
    * everything.
    *
    * Scope caveat (by design): handle ids resolve through this
    * process-local map, so a plan re-resolved OUTSIDE the originating JVM
    * — a streaming restart from checkpoint, SQL text shipped to another
    * driver — fails loudly at analysis ("no broadcast filter with handle
    * N"). The registered streaming use (q80) runs gated within one
    * session and never recovers from a checkpoint; a deployment that
    * needs restartable bloom probes should rebuild the filter in the
    * restart path before re-planning.
    */
  private val handles =
    new java.util.concurrent.ConcurrentHashMap[Int, org.apache.spark.broadcast.Broadcast[BloomFilter]]()
  private val nextHandle = new java.util.concurrent.atomic.AtomicInteger()

  /** Live handle count (test/observability hook). */
  private[graft] def liveHandles: Int = handles.size

  /** The live filter behind a `graft_bloom_probe` handle id. */
  private[graft] def handle(id: Int): org.apache.spark.broadcast.Broadcast[BloomFilter] = {
    val bc = handles.get(id)
    require(bc != null, s"graft_bloom_probe: no broadcast filter with handle $id")
    bc
  }

  /** Column-API probe via binary literal — fine for small filters and
    * SQL-text use; prefer [[mightContainBroadcast]] on the scale path.
    */
  def mightContain(filterBytes: Column, key: Column): Column = {
    import org.apache.spark.sql.functions.call_function
    call_function("graft_bloom_might_contain", filterBytes, key)
  }

  /** Register a filter as a torrent broadcast; returns the plan handle id.
    * Callers own the release ([[releaseHandle]]) — prefer [[cachedHandle]],
    * which wires both into the session artifact registry.
    */
  def broadcastFilter(spark: SparkSession, bf: BloomFilter): Int = {
    val id = nextHandle.incrementAndGet()
    handles.put(id, spark.sparkContext.broadcast(bf))
    id
  }

  /** Probe via an already-registered handle — the plan literal is an int. */
  def probeHandle(id: Int, key: Column): Column = {
    import org.apache.spark.sql.functions.{call_function, lit}
    call_function("graft_bloom_probe", lit(id), key)
  }

  /** Destroy the broadcast behind a handle and forget the entry. */
  def releaseHandle(id: Int): Unit = {
    val bc = handles.remove(id)
    if (bc != null) bc.destroy()
  }

  /** Memoized broadcast handle for a bloom-filter artifact: `build` runs
    * once per (session, key); the broadcast is destroyed and the handle
    * forgotten by `Artifacts.release(session)`.
    */
  def cachedHandle(spark: SparkSession, key: String)(build: => BloomFilter): Int =
    graft.Artifacts.cached[Integer](spark, key) {
      val id = broadcastFilter(spark, build)
      (Int.box(id), () => releaseHandle(id))
    }.intValue

  /** Column-API probe via torrent broadcast — the plan carries an int.
    * NOTE: allocates a fresh broadcast per call with no release; the
    * registered queries use [[cachedHandle]] + [[probeHandle]] instead.
    */
  def mightContainBroadcast(spark: SparkSession, bf: BloomFilter, key: Column): Column =
    probeHandle(broadcastFilter(spark, bf), key)

  /** Serialize a built filter for embedding as a binary literal. */
  def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}
