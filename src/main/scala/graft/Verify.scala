package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir>")
    val (sfDir, outDir) = (args(0), args(1))
    val cpus = Session.cpus(32)
    // NOTE: dumps stay INT96 (the default outputTimestampType): INT96
    // reads back as NAIVE in DuckDB/pandas, matching the oracle's
    // dump; TIMESTAMP_MICROS would read as tz-aware and flip every
    // timestamp compare. The INT96→ns render at the comparer means
    // every emitted timestamp must sit inside int64-ns range
    // (< 2262-04-11) — see q_scd2's sentinel.
    val spark = Session.local(cpus)
    new java.io.File(outDir).mkdirs()
    // diagnostic subsetting, same contract as Bench: SPARK_GRAFT_ONLY=q_a,q_b
    // dumps (and lists oracle SQL for) just those queries — the fast
    // iteration loop when adding one operator
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def selectedOf[T](m: Map[String, T]): Map[String, T] =
      only.fold(m)(names => m.filter { case (n, _) => names(n) })
    // run queries on a small thread pool — Spark schedules concurrent jobs
    // fine in one session, and overlapping the per-query planning/codegen
    // latencies cuts verify wall time several-fold
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(2, cpus / 4))
    import scala.jdk.CollectionConverters._
    val tasks = selectedOf(SparkEntry.queries).toSeq.map { case (name, fn) =>
      new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      }
    }
    pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selectedOf(SparkEntry.oracleSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
