package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM half. `run.py` generates the seeded plan, starts
  * this main with it, and analyses the result file it writes:
  *
  *   --plan PLAN.json --work DIR --out RESULT.json --seconds S --trace 0|1
  *
  * One client thread drives a closed loop of steps (a pass over the
  * analyst's queries, or a fold day and its serving read) for S seconds,
  * then runs the untimed correctness checks, then removes everything it
  * created. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val plan = Json.read(opt("plan"))
    val trace = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val tracer = new Tracer(spark, trace)
    val sessionReadyUs = tracer.nowUs
    val ctx = new Ctx(spark, tracer, plan, work, Paths.get(opt("plan")).toAbsolutePath.getParent)
    val wl: Workload = plan.get("workload").asText match {
      case "analyst_sql" => new AnalystSql(ctx)
      case "daily_fold" => new DailyFold(ctx)
    }
    val result = mutable.LinkedHashMap[String, Any]("workload" -> plan.get("workload").asText,
      "cpus" -> cpus, "trace" -> trace)
    try {
      // ---- set-up: session (above), then input generation + catalog
      // registration several times, then one warm-up --------------------
      val reps = plan.get("setup_reps").asInt
      val prepS = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        wl.prepare()
        (System.nanoTime() - t0) / 1e9
      }
      val t0 = System.nanoTime()
      wl.warmup()
      ctx.release()
      val warmS = (System.nanoTime() - t0) / 1e9
      val sessionS = (sessionReadyUs - jvmStartUs) / 1e6
      result("setup") = Map("session_s" -> sessionS, "prepare_s" -> prepS, "warmup_s" -> warmS,
        "setup_s" -> (sessionS + median(prepS) + warmS))
      tracer.spans.clear()
      tracer.recording = trace

      // ---- the timed closed loop -----------------------------------------
      val start = System.nanoTime()
      val deadline = start + (seconds * 1e9).toLong
      var gcPauses = 0L // the heap samples' collections are not timed
      var i = 0
      val heapMb = mutable.ArrayBuffer[Double]()
      while ((i == 0 || System.nanoTime() - gcPauses < deadline) && wl.hasNext) {
        wl.step().foreach { runOp =>
          val gc0 = gcMs()
          val op = runOp()
          op.attrs("gc_ms") = gcMs() - gc0
          op.attrs("heap_used_mb") = heapUsedMb()
          op.attrs("traced") = trace
          ctx.release()
          if (tracer.recording) {
            tracer.fence()
            attachCounters(tracer, op)
            wl.traceState(op)
          }
          i += 1
        }
        // the live JVM heap after each step: a full collection first, so
        // the number does not depend on when the collector last ran
        val paused = System.nanoTime()
        System.gc()
        heapMb += heapUsedMb()
        gcPauses += System.nanoTime() - paused
      }
      result("timed_s") = (System.nanoTime() - start - gcPauses) / 1e9
      result("heap_live_mb") = heapMb
      tracer.recording = false

      // ---- untimed correctness checks --------------------------------------
      val checks = mutable.ArrayBuffer[Map[String, Any]]()
      val oracle = mutable.ArrayBuffer[Map[String, Any]]()
      val checkStart = System.nanoTime()
      wl.check(checks, oracle)
      result("check_s") = (System.nanoTime() - checkStart) / 1e9
      result("checks") = checks
      result("oracle") = oracle
      result("inputs") = wl.inputs
      result("extra") = wl.extra
      result("spans") = tracer.allSpans.sortBy(s => (s.start, s.id)).map(spanJson)
    } finally {
      try wl.cleanup() finally {
        tracer.detach()
        Files.writeString(Paths.get(opt("out")), Json.render(result))
        spark.stop()
      }
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapUsedMb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  private def attachCounters(t: Tracer, op: Span): Unit = {
    val c = t.counters.remove(op.id)
    if (c != null) c.synchronized {
      val skew = c.stageTaskMs.values.filter(_.size >= 2).map { ds =>
        val s = ds.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
      }
      op.attrs ++= Seq("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_run_ms" -> c.taskRunMs, "task_gc_ms" -> c.taskGcMs,
        "shuffle_read_b" -> c.shufRead, "shuffle_write_b" -> c.shufWrite, "spill_b" -> c.spill,
        "input_b" -> c.inBytes, "records_in" -> c.inRecords, "output_b" -> c.outBytes,
        "task_skew" -> (if (skew.isEmpty) 1.0 else skew.max))
    }
  }

  private def spanJson(s: Span): Map[String, Any] =
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer, "name" -> s.name,
      "start" -> s.start, "end" -> s.end, "ok" -> s.ok, "attrs" -> s.attrs)
}

/** What every workload shares: session, tracer, plan, scratch root. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val plan: JsonNode, val work: Path,
                val planDir: Path) {
  val seed: Long = plan.get("seed").asLong
  def dataDir: String = plan.get("data_dir").asText

  /** Free what an op left cached: leaked persists once slowed an unrelated
    * later query several-fold. */
  def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** A query's output as sorted text rows, for order-free comparison. */
  def canon(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Full materialization with no output cost. */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** One query: build the DataFrame, then `finish` it (noop sink by
    * default), as spans under a "query" span. A failure is recorded on the
    * query span and does not stop the op. */
  def query[T](name: String, buildLayer: String = "ops.build",
               finish: DataFrame => T = (df: DataFrame) => noop(df))(build: => DataFrame): Option[T] = {
    val q = tracer.open("query", name)
    try {
      val df = tracer.span(buildLayer, name) {
        val df = build
        tracer.recordPhases(df)
        df
      }
      val r = tracer.span("ops.materialize", name)(finish(df))
      tracer.close(q)
      Some(r)
    } catch { case e: Throwable =>
      q.attrs("error") = errorText(e)
      tracer.close(q, ok = false)
      None
    }
  }

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** Run an op; a failure is recorded on its span and does not stop the run. */
  def op(name: String)(body: => Unit): Span = {
    val s = tracer.open("op", name)
    var ok = false
    try { body; ok = true }
    catch { case e: Throwable => s.attrs("error") = errorText(e) }
    finally tracer.close(s, ok)
    System.err.println(f"[perfbench] op $name ${(s.end - s.start) / 1e6}%.3f s ok=$ok")
    s
  }

  def dump(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }

  def dirBytes(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith("."))
      .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
    finally s.close()
  }

  def dropTablesWithPrefix(prefix: String): Unit =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(prefix))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
}

trait Workload {
  /** Input generation + registration, from scratch; run `setup_reps` times. */
  def prepare(): Unit
  def warmup(): Unit = ()
  def hasNext: Boolean = true
  /** The next step of the closed loop: one or more ops, run in order. */
  def step(): Seq[() => Span]
  /** Trace-only state read after a recorded op (filesystem walks). */
  def traceState(op: Span): Unit = ()
  def check(checks: mutable.ArrayBuffer[Map[String, Any]],
            oracle: mutable.ArrayBuffer[Map[String, Any]]): Unit
  def inputs: Map[String, Any]
  def extra: Map[String, Any] = Map.empty
  def cleanup(): Unit
}
