package graft

/** Write `.explain("formatted")` of SparkEntry queries to files — the
  * plan evidence committed under plans/r<N>/ (optimization guide §1:
  * capture the plan shape before and after each change). One file per
  * query: <outDir>/<query>.txt.
  *
  * Usage: tools/run.sh graft.PlanDump <outDir> [sfDir] [q1,q2,...]
  * Default: every query (side-effecting exhibit queries run their folds
  * while the DataFrame is built — at sf0.1 dump only what you need).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <outDir> [sfDir] [q1,q2,...]")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val names: Seq[String] =
      if (args.length > 2) args(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local(Session.cpus(32))
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[plandump] no such query: $n")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(outDir.resolve(s"$n.txt"), txt)
            println(s"[plandump] wrote $n (${txt.linesIterator.size} lines)")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $n failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
