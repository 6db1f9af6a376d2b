package graft

/** Forced-spill equivalence check — the determinism claim under the
  * condition a 100 TB run actually hits. Locally every suite run shows
  * zero spill (the data is tiny), so nothing ever proved the plans
  * produce identical results when sorts and aggregations go through
  * disk. This main runs a set of shuffle/sort/agg/iterative queries
  * twice — once normally, once with
  * `spark.shuffle.spill.numElementsForceSpillThreshold` forced low so
  * every UnsafeExternalSorter spills constantly — and prints canonical
  * result hashes. SpillSuite spawns both modes (the threshold is read
  * from the static SparkEnv conf, so it needs its own JVM) and asserts
  * hash equality plus that the forced mode actually spilled.
  *
  * usage: SpillCheck <sfDir> [force]
  */
object SpillCheck {

  /** Sort-heavy, window-heavy, agg-heavy, and iterative representatives —
    * the operator shapes whose external-sorter paths differ under spill. */
  val checkQueries: Seq[String] = Seq(
    "q_math_funcs", "q_win_rank", "q_agg_group",
    "q_dedup_cluster", "q_graph_pagerank")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val force = args.length > 1 && args(1) == "force"
    val spark = Session.local(8, Option.when(force)(
      "spark.shuffle.spill.numElementsForceSpillThreshold" -> "1000").toSeq: _*)
    spark.sparkContext.setLogLevel("ERROR")
    val run = Recorder.during(spark) {
      checkQueries.foreach { name =>
        val rows = SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString).sorted
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.foreach(r => md.update(r.getBytes("UTF-8")))
        println(s"HASH $name ${rows.length} ${md.digest().map(b => f"$b%02x").mkString}")
      }
    }
    println(s"SPILL_BYTES ${run.spillBytes}")
    spark.stop()
  }
}
