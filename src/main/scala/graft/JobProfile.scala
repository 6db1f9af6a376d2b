package graft

/** Per-job decomposition of one SparkEntry query (optimization guide
  * §1.1/§1.5): runs the query twice (warm-up + measured, like Bench) and
  * prints every Spark job of the measured run — wall duration, stage and
  * task counts, and the job group/description — plus the gaps BETWEEN
  * jobs (driver-side time: planning, catalog ops, filesystem metadata,
  * commit protocol). This is the tool that says whether a multi-action
  * exhibit is bounded by cluster work or by the per-action floor.
  *
  * Usage: tools/run.sh graft.JobProfile <query> [sfDir]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <query> [sfDir]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Session.local(Session.cpus(32))
    val fn = SparkEntry.queries(name)
    // warm-up run (codegen/JIT, parquet footer cache) — not profiled
    Recorder.materialize(fn(spark, sfDir))
    Recorder.release(spark)
    val run = Recorder.during(spark)(Recorder.materialize(fn(spark, sfDir)))
    val (wall, js) = (run.result, run.jobs)
    var prevEnd = -1L
    var jobSum = 0.0; var gapSum = 0.0
    println(f"== $name measured run: wall ${wall}%.3f s, ${js.size} jobs ==")
    js.foreach { j =>
      val dur = if (j.end > 0) (j.end - j.start) / 1e3 else -1.0
      val gap = if (prevEnd > 0) (j.start - prevEnd) / 1e3 else 0.0
      jobSum += math.max(dur, 0); gapSum += math.max(gap, 0)
      println(f"job ${j.id}%4d  dur ${dur}%7.3f s  gap-before ${gap}%7.3f s  " +
        f"stages ${j.stages}%2d tasks ${j.tasks}%4d  ${j.desc.take(80)}")
      prevEnd = math.max(prevEnd, j.end)
    }
    println(f"== sum(job) ${jobSum}%.3f s, sum(gap) ${gapSum}%.3f s, wall ${wall}%.3f s ==")
    spark.stop()
  }
}
