package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

/** Exchange audit: run one query from SparkEntry at an optional K×
  * derived corpus (ScaleProbe.generate) and print every shuffle
  * exchange in the EXECUTED plan with its written bytes / data size /
  * row count — including exchanges hidden inside InMemoryRelation
  * cached plans and AQE query stages, which a naive plan walk misses.
  * This is the tool that localizes "which exchange is the fat one"
  * when scale_probe.json flags a query's shuffle volume.
  *
  * Usage: tools/run.sh graft.ExchangeAudit <query> [srcDir] [k]
  *   query   name from SparkEntry.queries (e.g. q_sim_jaccard)
  *   srcDir  driver SF dir (default /root/testdata/sf0.01)
  *   k       scale multiple; 1 = run srcDir as-is (default 10)
  */
object ExchangeAudit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExchangeAudit <query> [srcDir] [k]")
    val name = args(0)
    val srcDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = Session.local(Session.cpus(32),
      "spark.sql.adaptive.enabled" -> sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
    // the K× corpus is this run's own: removed on every exit
    val tmp = Option.when(k > 1)(java.nio.file.Files.createTempDirectory("xaudit_"))
    try {
      val dir = tmp.fold(srcDir) { t =>
        val subset = ScaleProbe.rung2Queries.get(name).map(Seq(_))
        ScaleProbe.generate(spark, srcDir, t.toString, k, subset.getOrElse(ScaleProbe.tables))
        t.toString
      }
      audit(spark, name, dir)
    } finally tmp.foreach(ops.IncrState.deleteTree)
    spark.stop()
  }

  private def audit(spark: SparkSession, name: String, dir: String): Unit = {
    val df = SparkEntry.queries(name)(spark, dir)
    // The noop write runs its OWN QueryExecution — df.queryExecution's
    // plan instance never executes, so its metrics stay zero. Capture
    // the executed instance from the listener instead.
    @volatile var executed: Option[SparkPlan] = None
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        executed = Some(qe.executedPlan)
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    })
    // SPARK_GRAFT_AUDIT_RUNS=n replays the query n times (fresh DataFrame
    // each time, like ScaleProbe.measure) and prints per-run task totals —
    // the tool for localizing repeat-run inflation (cache interactions)
    // as opposed to single-run plan cost.
    // Task-level totals (same metric ScaleProbe reports): shuffle READ
    // can exceed the sum of exchange writes when an exchange's output
    // is fetched more than once — that disagreement is itself the clue.
    val runs = sys.env.get("SPARK_GRAFT_AUDIT_RUNS").map(_.toInt).getOrElse(1)
    val recorded = (1 to runs).map { r =>
      val run = Recorder.during(spark)(
        Recorder.materialize(if (r == 1) df else SparkEntry.queries(name)(spark, dir)))
      println(f"RUN $r%d elapsed=${run.result}%.1f s read=${run.shuffleReadBytes / 1048576.0}%.1f MB written=${run.shuffleWriteBytes / 1048576.0}%.1f MB")
      run
    }
    def mb(f: Recorder.Recorded[Double] => Long): Double = recorded.map(f).sum / 1048576.0
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    var total = 0.0
    def walk(p: SparkPlan): Unit = {
      if (!seen.add(p)) return
      p match {
        case s: ShuffleExchangeExec =>
          val written = s.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(-1L)
          val ds = s.metrics.get("dataSize").map(_.value).getOrElse(-1L)
          val rows = s.metrics.get("numOutputRows")
            .orElse(s.metrics.get("shuffleRecordsWritten")).map(_.value).getOrElse(-1L)
          total += math.max(written, 0L) / 1048576.0
          println(f"EXCHANGE written=${written / 1048576.0}%9.1f MB dataSize=${ds / 1048576.0}%9.1f MB rows=$rows%12d  <- ${s.child.nodeName} / ${s.child.simpleStringWithNodeId().take(160)}")
        case r: ReusedExchangeExec =>
          println(s"REUSED-EXCHANGE (bytes counted at original)  <- ${r.child.nodeName}")
        case _ =>
      }
      val extra: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
        case _                        => Nil
      }
      (p.children ++ extra).foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(executed.getOrElse(df.queryExecution.executedPlan))
    println(f"TOTAL shuffle written (one traversal, reuse uncounted): $total%.1f MB")
    println(f"TASK TOTALS read=${mb(_.shuffleReadBytes)}%.1f MB written=${mb(_.shuffleWriteBytes)}%.1f MB spill=${mb(_.spillBytes)}%.1f MB")
    if (sys.env.contains("SPARK_GRAFT_AUDIT_TREE")) {
      def tree(p: SparkPlan, d: Int): Unit = {
        println("  " * d + p.nodeName)
        val extra: Seq[SparkPlan] = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec        => Seq(q.plan)
          case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
          case _                        => Nil
        }
        (p.children ++ extra).foreach(tree(_, d + 1))
      }
      tree(executed.getOrElse(df.queryExecution.executedPlan), 0)
    }
  }
}
