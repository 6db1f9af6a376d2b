package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds; `parent` and `op`
  * are span ids (-1 = none). Ops are the spans with layer "op". */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      start: Long, var end: Long = -1L, var ok: Boolean = true,
                      attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap())

/** In-memory span recorder for the single client thread, plus (when
  * `listen` is set) the benchmark's own SparkListener and
  * QueryExecutionListener. Listener events become spans and per-op
  * counters; nothing is written until the run ends. */
final class Tracer(spark: SparkSession, listen: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0Us = System.currentTimeMillis() * 1000L
  def nowUs: Long = epoch0Us + (System.nanoTime() - nano0) / 1000L

  val spans = mutable.ArrayBuffer[Span]()
  private val external = new ConcurrentLinkedQueue[Span]()
  private var stack: List[Span] = Nil
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val sc = spark.sparkContext

  /** Whether listener events are recorded: off during set-up and checks. */
  @volatile var recording: Boolean = false

  def currentOp: Int = stack.lastOption.map(_.id).getOrElse(-1)

  private def setProps(): Unit = {
    sc.setLocalProperty("perfbench.op", stack.lastOption.map(_.id.toString).orNull)
    sc.setLocalProperty("perfbench.span", stack.headOption.map(_.id.toString).orNull)
  }

  def open(layer: String, name: String): Span = {
    val s = Span(nextId.getAndIncrement(), stack.headOption.map(_.id).getOrElse(-1),
      if (layer == "op") -1 else currentOp, layer, name, nowUs)
    val s2 = if (layer == "op") s.copy(op = s.id) else s
    spans += s2
    stack = s2 :: stack
    setProps()
    s2
  }

  def close(s: Span, ok: Boolean = true): Unit = {
    s.end = nowUs
    s.ok = ok
    stack = stack.dropWhile(_.id != s.id).drop(1)
    setProps()
  }

  /** Time `body` as a span; a throw marks the span failed and propagates. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val s = open(layer, name)
    var ok = false
    try { val r = body; ok = true; r } finally close(s, ok)
  }

  /** Record a finished interval as a child of the current span. */
  def record(layer: String, name: String, startUs: Long, endUs: Long): Unit =
    spans += Span(nextId.getAndIncrement(), stack.headOption.map(_.id).getOrElse(-1), currentOp,
      layer, name, startUs, endUs)

  def allSpans: Seq[Span] = spans.toSeq ++ external.toArray(Array.empty[Span]).toSeq

  // ---- listener-side state (bus thread) -------------------------------
  final class OpCounters {
    var jobs, stages, tasks = 0L
    var taskRunMs, taskGcMs, shufRead, shufWrite, spill, inBytes, inRecords, outBytes = 0L
    val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  }
  val counters = new java.util.concurrent.ConcurrentHashMap[Int, OpCounters]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  private def prop(p: java.util.Properties, k: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(k))).flatMap(_.toIntOption).getOrElse(-1)
  private def opCounters(op: Int): OpCounters =
    counters.computeIfAbsent(op, _ => new OpCounters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      val op = prop(e.properties, "perfbench.op")
      if (op >= 0) {
        val s = Span(nextId.getAndIncrement(), prop(e.properties, "perfbench.span"), op,
          "exec.job", s"job${e.jobId}", e.time * 1000L)
        jobSpan.put(e.jobId, s)
        e.stageIds.foreach(st => stageOp.put(st, op))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobSpan.remove(e.jobId)
      if (s != null) {
        s.end = e.time * 1000L
        s.ok = e.jobResult == JobSucceeded
        external.add(s)
        opCounters(s.op).synchronized(opCounters(s.op).jobs += 1)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val op = stageOp.get(e.stageInfo.stageId)
      if (op != null) { val c = opCounters(op); c.synchronized(c.stages += 1) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.get(e.stageId)
      if (op != null && e.taskMetrics != null) {
        val c = opCounters(op)
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          c.taskRunMs += m.executorRunTime
          c.taskGcMs += m.jvmGCTime
          c.shufRead += m.shuffleReadMetrics.totalBytesRead
          c.shufWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          c.inBytes += m.inputMetrics.bytesRead
          c.inRecords += m.inputMetrics.recordsRead
          c.outBytes += m.outputMetrics.bytesWritten
          c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
        }
      }
    }
  }

  /** Catalyst phases a DataFrame's construction ran eagerly (analysis),
    * which no action's listener event reports. */
  def recordPhases(df: org.apache.spark.sql.DataFrame): Unit = if (recording)
    df.queryExecution.tracker.phases.foreach { case (phase, p) =>
      record("catalyst", phase, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }

  /** Catalyst phases of every executed query. The bus thread cannot see
    * which op ran it, so these spans carry no parent; the analysis
    * attributes each to the innermost span whose interval contains it. */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) qe.tracker.phases.foreach { case (phase, p) =>
        external.add(Span(nextId.getAndIncrement(), -1, -1, "catalyst", phase,
          p.startTimeMs * 1000L, p.endTimeMs * 1000L))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (listen) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until the listener bus has delivered every queued event. */
  def fence(): Unit = if (listen) org.apache.spark.sql.graftshim.GraftShim.drainListenerBus(spark)

  def detach(): Unit = if (listen) {
    fence()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }
}
