package graft

/** t1 smoke: run the flagship `SparkEntry.entry` pipeline on sf0.001 and
  * print its row count — the driver's rows>0 check, runnable locally via
  * `tools/run.sh graft.Smoke`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus(4))
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(10, truncate = false)
    // stateful surface smoke: the flatMapGroupsWithState milestone emitter
    // over the same events (batch mode = one state pass per key)
    val ms = streaming.Stateful.milestones(
      streaming.Stateful.eventsDs(spark, "/root/testdata/sf0.001"))
    println("MILESTONES=" + ms.count())
    spark.stop()
  }
}
