package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.GraftShim

/** The one metrics listener: task totals (input, shuffle read/write,
  * spill) and job spans over the scope of one `Recorder.during` call.
  * Events arrive on the listener bus's single dispatch thread; the
  * snapshot is taken after the bus is drained. */
final class Recorder private () extends SparkListener {
  import Recorder.Job

  private var input, shuffleRead, shuffleWrite, spill = 0L
  private val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()

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
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageInfos.size,
      e.stageInfos.map(_.numTasks).sum, desc)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  private def recorded[T](result: T): Recorder.Recorded[T] = synchronized {
    Recorder.Recorded(result, input, shuffleRead, shuffleWrite, spill,
      jobs.values.toSeq.sortBy(_.start))
  }
}

object Recorder {

  /** One Spark job: start/end in epoch ms (end -1 if it never ended). */
  final case class Job(id: Int, start: Long, end: Long, stages: Int, tasks: Int,
                       desc: String)

  /** A body's result with the task totals (bytes) and jobs of its scope. */
  final case class Recorded[T](result: T, inputBytes: Long, shuffleReadBytes: Long,
                               shuffleWriteBytes: Long, spillBytes: Long,
                               jobs: Seq[Job])

  /** Run `body` with a fresh recorder on the listener bus. The bus is
    * drained before the recorder is added (earlier events stay out) and
    * after the body (every event of the scope is in); the recorder is
    * removed on every exit, a throwing body included. */
  def during[T](spark: SparkSession)(body: => T): Recorded[T] = {
    val r = new Recorder
    GraftShim.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(r)
    try {
      val result = body
      GraftShim.drainListenerBus(spark)
      r.recorded(result)
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
