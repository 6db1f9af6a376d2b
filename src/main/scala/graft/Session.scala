package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory. Every main and the test session build
  * through it, so the invariants the engine relies on live in one place:
  * `local[cpus]` with as many shuffle partitions as cores, a UTC session
  * clock, nanosecond parquet timestamps read as longs (events.parquet)
  * and no UI. AQE is Spark's default and is left alone. */
object Session {

  /** The core count: `SPARK_GRAFT_CPUS` when set, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** A session on `local[cpus]`, plus the `extra` confs a caller differs
    * on (they win over the pinned ones). Log level WARN. */
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val pinned = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    val spark = (pinned ++ extra)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
