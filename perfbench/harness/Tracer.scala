package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory tracing, written once at the end of a traced run.
  *
  * A span is recorded around each call the benchmark makes into a layer:
  * name, start, end, parent, and the id of the operation (root span) it
  * belongs to. Counters are recorded at the same boundaries. Spark's own
  * records (jobs, stages, query-planning phases, streaming progress) come
  * from listeners that exist only while tracing is on, and are joined to
  * operations by time in `perfbench/ledger.py`.
  *
  * When tracing is off every method is a pass-through.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private var on = false
  private var listening = false
  private var nextId = 0
  private var lastRoot = -1
  private val stack = ArrayBuffer[Span]()
  private val spans = ArrayBuffer[Span]()
  private val counters = ArrayBuffer[(Int, String, Double)]()
  private val listener = new Listener

  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  private def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  /** Tracing on or off; listeners are attached only while it is on. */
  def enable(b: Boolean): Unit = {
    if (b != listening) {
      if (b) {
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener.qe)
        spark.streams.addListener(listener.streams)
      } else {
        // deliver the traced pass's queued events before detaching
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(listener.qe)
        spark.streams.removeListener(listener.streams)
      }
      listening = b
    }
    on = b
  }

  def span[T](name: String, attrs: Map[String, String] = Map.empty,
      root: Boolean = false)(body: => T): T = {
    if (!on) return body
    nextId += 1
    val op = if (root) nextId else stack.headOption.map(_.op).getOrElse(lastRoot)
    val s = Span(nextId, op, name, stack.lastOption.map(_.id).getOrElse(-1),
      nowUs, attrs)
    if (root) {
      lastRoot = s.id
      s.jvm0 = jvmCounters()
    }
    stack += s
    try body
    finally {
      s.t1 = nowUs
      if (root) s.jvm1 = jvmCounters()
      stack.remove(stack.length - 1)
      spans += s
    }
  }

  /** Numeric attribute on the innermost open span. */
  def annotate(key: String, value: Double): Unit =
    if (on && stack.nonEmpty) stack.last.nums += key -> value

  /** A count attached to the current (or last finished) operation. */
  def counter(name: String, value: Double): Unit =
    if (on) counters += ((stack.headOption.map(_.op).getOrElse(lastRoot), name, value))

  def storageBytes(): Long =
    spark.sparkContext.statusTracker.getExecutorInfos
      .map(e => e.usedOnHeapStorageMemory() + e.usedOffHeapStorageMemory()).sum

  /** Drain the listener bus and write every record as one JSON line. */
  def finish(path: String): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val q = Canon.jsonString _
    val out = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      val a = (s.attrs.map { case (k, v) => q(k) + ":" + q(v) } ++
        s.nums.map { case (k, v) => q(k) + ":" + v }).mkString("{", ",", "}")
      val jvm =
        if (s.jvm0 == null) ""
        else JvmKeys.indices.map(i => q(JvmKeys(i)) + ":" + (s.jvm1(i) - s.jvm0(i)))
          .mkString(""","jvm":{""", ",", "}") +
          s""","code_cache_bytes":${s.jvm1(JvmKeys.length)}"""
      out ++= s"""{"kind":"span","id":${s.id},"op":${s.op},"parent":${s.parent},"name":${q(s.name)},"t0_us":${s.t0},"t1_us":${s.t1},"attrs":$a$jvm}\n"""
    }
    counters.foreach { case (op, n, v) =>
      out ++= s"""{"kind":"counter","op":$op,"name":${q(n)},"value":$v}\n"""
    }
    listener.lines.asScala.foreach { l => out ++= l; out += '\n' }
    Files.write(Paths.get(path), out.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, op: Int, name: String, parent: Int, t0: Long,
      attrs: Map[String, String]) {
    var t1: Long = 0L
    var jvm0: Array[Long] = null
    var jvm1: Array[Long] = null
    val nums = ArrayBuffer[(String, Double)]()
  }

  val JvmKeys: Seq[String] =
    Seq("gc_ms", "jit_ms", "codegen_compile_ns", "codegen_classes")

  /** Cumulative JVM-wide counters, plus code-cache bytes in use last. */
  def jvmCounters(): Array[Long] = {
    import java.lang.management.ManagementFactory
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    val codegenNs =
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val classes =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val codeCache = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum
    Array(gc, jit, codegenNs, classes, codeCache)
  }

  /** Spark job, stage, query-planning and streaming records, one JSON
    * line each. Stage metrics are summed over the stage's tasks.
    */
  final class Listener extends SparkListener {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val q = Canon.jsonString _

    private final class StageAgg {
      var tasks = 0; var runMs = 0L; var cpuNs = 0L; var maxTaskMs = 0L
      var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
      var spillDisk = 0L; var inputBytes = 0L; var inputRecords = 0L
      var outputRecords = 0L
    }
    private val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageAgg]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      lines.add(s"""{"kind":"job_start","job":${e.jobId},"t_ms":${e.time},"stages":${e.stageIds.mkString("[", ",", "]")}}""")

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      lines.add(s"""{"kind":"job_end","job":${e.jobId},"t_ms":${e.time}}""")

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val a = stages.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.maxTaskMs = math.max(a.maxTaskMs, m.executorRunTime)
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillDisk += m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.outputRecords += m.outputMetrics.recordsWritten
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = Option(stages.remove((i.stageId, i.attemptNumber()))).getOrElse(new StageAgg)
      lines.add(s"""{"kind":"stage","stage":${i.stageId},"tasks":${a.tasks},"t0_ms":${i.submissionTime.getOrElse(0L)},"t1_ms":${i.completionTime.getOrElse(0L)},"run_ms":${a.runMs},"cpu_ms":${a.cpuNs / 1e6},"max_task_ms":${a.maxTaskMs},"shuffle_write_bytes":${a.shuffleWrite},"shuffle_read_bytes":${a.shuffleRead},"fetch_wait_ms":${a.fetchWaitMs},"spill_disk_bytes":${a.spillDisk},"input_bytes":${a.inputBytes},"input_records":${a.inputRecords},"output_records":${a.outputRecords}}""")
    }

    val qe: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases.map { case (k, p) =>
          s"${q(k)}:[${p.startTimeMs},${p.endTimeMs}]"
        }.mkString("{", ",", "}")
        lines.add(s"""{"kind":"qe","t_ms":${System.currentTimeMillis()},"phases":$ph}""")
      }
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        lines.add(s"""{"kind":"stream_start","run":${q(e.runId.toString)},"t_ms":${java.time.Instant.parse(e.timestamp).toEpochMilli}}""")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        val state = p.stateOperators.map(_.numRowsTotal).sum
        lines.add(s"""{"kind":"stream_batch","run":${q(p.runId.toString)},"batch":${p.batchId},"t_ms":${java.time.Instant.parse(p.timestamp).toEpochMilli},"trigger_ms":$trig,"state_rows":$state,"input_rows":${p.numInputRows}}""")
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    }
  }
}
