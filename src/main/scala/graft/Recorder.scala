package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim.GraftShim

/** The one metrics listener: task totals (input, shuffle read/write,
  * spill), job spans and SQL executions over the scope of one
  * `Recorder.during` call. Each execution (one action) carries its
  * Catalyst phases and shuffle exchanges, read from its plan when its end
  * event arrives; no QueryExecution is kept past that. Events arrive on
  * the listener bus's single dispatch thread; the snapshot is taken
  * after the bus is drained. */
final class Recorder private () extends SparkListener {
  import Recorder.{Exchange, Execution, Job}

  private var input, shuffleRead, shuffleWrite, spill = 0L
  private val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
  private val executions = scala.collection.mutable.LinkedHashMap[Long, Execution]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      input += m.inputMetrics.bytesRead
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).fold(-1L)(_.toLong)
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageInfos.size,
      e.stageInfos.map(_.numTasks).sum, execution)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executions(s.executionId) = Execution(s.executionId, s.time, -1L, Map.empty, Nil, Nil)
    }
    case x: SparkListenerSQLExecutionEnd =>
      val qe = Option(GraftShim.queryExecution(x))
      val phases = qe.fold(Map.empty[String, Long])(_.tracker.phases.map {
        case (k, p) => k -> (p.endTimeMs - p.startTimeMs) })
      // a failed execution may never have planned: reading its plan would
      // plan it here (a success carries no message, or an empty one)
      val exchanges = qe.filter(_ => x.errorMessage.forall(_.isEmpty))
        .fold(Seq.empty[Exchange])(q => Recorder.exchanges(q.executedPlan))
      synchronized {
        executions.get(x.executionId).foreach(ex => executions(x.executionId) =
          ex.copy(end = x.time, phases = phases, exchanges = exchanges))
      }
    case _ =>
  }

  private def recorded[T](result: T, start: Long, end: Long,
                          compiles: Long): Recorder.Recorded[T] = synchronized {
    val js = jobs.values.toSeq.sortBy(_.start)
    Recorder.Recorded(result, input, shuffleRead, shuffleWrite, spill, js,
      executions.values.toSeq.map(ex => ex.copy(jobs = js.filter(_.execution == ex.id))),
      start, end, compiles)
  }
}

object Recorder {

  /** One Spark job: start/end in epoch ms (end -1 if it never ended), and
    * the SQL execution that ran it (-1: none, as for an RDD action). */
  final case class Job(id: Int, start: Long, end: Long, stages: Int, tasks: Int,
                       execution: Long)

  /** One shuffle exchange of an executed plan: bytes and rows written,
    * and the name of the node it shuffles (inside its codegen stage). */
  final case class Exchange(bytes: Long, rows: Long, child: String)

  /** One SQL execution (one action): its span in epoch ms (end -1 if it
    * never ended), its Catalyst phases in ms, its shuffle exchanges and
    * its own jobs. The gap is its wall minus the union of its job spans
    * (meaningful once it ended); a command such as `saveAsTable` runs its
    * write as a nested execution, whose time is in the command's gap. */
  final case class Execution(id: Long, start: Long, end: Long, phases: Map[String, Long],
                             exchanges: Seq[Exchange], jobs: Seq[Job]) {
    def gapMs: Long = end - start - union(jobs)
  }

  /** A body's result with the task totals (bytes), jobs and executions
    * of its scope, whose span is `start`-`end` in epoch ms. The driver
    * time is the scope's wall minus the union of all its job spans:
    * build plus gaps. `compiles` counts the generated classes compiled
    * during the scope (each a codegen-cache miss); the counter is
    * JVM-global, so a concurrent scope's compiles count here too. */
  final case class Recorded[T](result: T, inputBytes: Long, shuffleReadBytes: Long,
                               shuffleWriteBytes: Long, spillBytes: Long,
                               jobs: Seq[Job], executions: Seq[Execution],
                               start: Long, end: Long, compiles: Long) {
    def driverMs: Long = (end - start) - union(jobs)

    /** The layered record as one JSON object: the scope's totals, codegen
      * compiles and driver time, its jobs outside any execution, and per
      * execution its phases, jobs, job-span union, gap and exchanges. A job is
      * `[id, start offset ms, duration ms, stages, tasks]` (the offset from
      * its execution's start, or the scope's); an exchange is
      * `[bytes, rows, child node]`. */
    def json: String = {
      def arr(js: Seq[Job], t0: Long) = js.map(j =>
        s"[${j.id},${j.start - t0},${if (j.end < 0) -1 else j.end - j.start},${j.stages},${j.tasks}]")
        .mkString("[", ",", "]")
      def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val ids = executions.map(_.id).toSet
      val execs = executions.map { e =>
        s"""{"id":${e.id},"offset_ms":${e.start - start},"wall_ms":${e.end - e.start},""" +
        e.phases.map { case (k, v) => s"${str(k)}:$v" }.mkString(""""phases_ms":{""", ",", "},") +
        s""""jobs":${arr(e.jobs, e.start)},"job_union_ms":${union(e.jobs)},"gap_ms":${e.gapMs},""" +
        e.exchanges.map(x => s"[${x.bytes},${x.rows},${str(x.child)}]").mkString(""""exchanges":[""", ",", "]}")
      }
      s"""{"wall_ms":${end - start},"driver_ms":$driverMs,"input_bytes":$inputBytes,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""spill_bytes":$spillBytes,"codegen_compiles":$compiles,"jobs":${arr(jobs.filterNot(j => ids(j.execution)), start)},""" +
      s""""executions":${execs.mkString("[", ",", "]")}}"""
    }
  }

  /** Total ms covered by the jobs' spans, overlaps counted once. */
  private def union(jobs: Seq[Job]): Long =
    jobs.filter(_.end >= 0).map(j => (j.start, j.end)).sorted
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        (sum + math.max(e - math.max(s, reach), 0L), math.max(reach, e))
      }._1

  /** Every shuffle exchange of an executed plan, including those inside
    * AQE query stages, the cached plans of the in-memory relations it
    * scans, and subqueries. A reused exchange counts once, at its
    * original. */
  private def exchanges(plan: SparkPlan): Seq[Exchange] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def metric(p: SparkPlan, names: String*): Long =
      names.flatMap(p.metrics.get).headOption.map(_.value).getOrElse(-1L)
    def walk(p: SparkPlan): Seq[Exchange] =
      if (!seen.add(p)) Nil
      else {
        val own = p match {
          case s: ShuffleExchangeExec => Seq(Exchange(metric(s, "shuffleBytesWritten"),
            metric(s, "numOutputRows", "shuffleRecordsWritten"), s.child match {
              case w: WholeStageCodegenExec => w.child.nodeName
              case c                        => c.nodeName
            }))
          case _ => Nil
        }
        val inner = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec        => Seq(q.plan)
          case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
          case _                        => Nil
        }
        own ++ (p.children ++ inner ++ p.subqueries).flatMap(walk)
      }
    walk(plan)
  }

  /** Run `body` with a fresh recorder on the listener bus. The bus is
    * drained before the recorder is added (earlier events stay out) and
    * after the body (every event of the scope is in); the recorder is
    * removed on every exit, a throwing body included. */
  def during[T](spark: SparkSession)(body: => T): Recorded[T] = {
    val r = new Recorder
    GraftShim.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(r)
    try {
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val start = System.currentTimeMillis()
      val result = body
      val end = System.currentTimeMillis()
      GraftShim.drainListenerBus(spark)
      r.recorded(result, start, end, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled)
    } finally spark.sparkContext.removeSparkListener(r)
  }

  /** Build `df` and run it to completion through the noop sink — every
    * output row is produced, sorts included, at no driver or disk cost —
    * and return the wall seconds, the build included. */
  def materialize(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Drop every block the last query cached or persisted and left
    * behind, so it cannot slow the next one. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
