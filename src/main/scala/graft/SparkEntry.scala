package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship pipeline on sf0.001 (driver smoke-checks rows>0): the
    * Spark-native form of the reference's daily run — scan the event
    * stream, filter, tumbling 1-day window × type aggregate (≙ the daily
    * EventBridge batch, reference main.tf:214-218), enrich with a small
    * broadcast dimension (≙ YAML config join, src/main.py:171-186), land
    * as date-partitioned parquet (≙ the YYYY/MM/DD S3 layout,
    * src/main.py:70-73). */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // Boundary guard: the driver builds this session, which may not pin
    // the nanosecond-parquet legacy flag a ns-encoded events table needs,
    // nor UTC — events.ts ships as naive timestamp[us] (read as
    // TIMESTAMP_NTZ), and the NTZ→TIMESTAMP cast of the graft.events
    // view this session may register is session-timezone dependent; a
    // non-UTC external session would silently shift every event instant
    // relative to the oracle.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val dir = "/root/testdata/sf0.001"
    val dim = Seq(
      ("click", "engagement"), ("view", "engagement"),
      ("purchase", "conversion"), ("signup", "conversion"),
      ("error", "ops")).toDF("event_type", "category")
    val daily = Tables.events(spark, dir)
      .filter($"value" > 0)
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), sum(U.micros($"value")).as("value_micros"))
      .join(broadcast(dim), Seq("event_type"), "left")
      .select(U.dayStr($"w.start").as("day"), $"event_type", $"category", $"n", $"value_micros")
    // unique per-run output dir — concurrent invocations must not collide;
    // the per-process root is deleted on JVM exit so repeated calls
    // (tests, benchmarks) don't accumulate orphaned tmp output
    val out = entryOutRoot.resolve(s"daily_${java.util.UUID.randomUUID()}").toString
    daily.write.mode("overwrite").partitionBy("day").parquet(out)
    daily
  }

  private lazy val entryOutRoot: java.nio.file.Path = ops.IncrState.tempRoot("graft_entry_out_")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] =
    ops.Relational.qs ++ ops.Aggregates.qs ++ ops.Windows.qs ++ ops.Scalars.qs ++
      ops.Streaming.qs ++ ops.TextOps.qs ++ ops.Dedup.qs ++ ops.Similarity.qs ++
      ops.TextAnalysis.qs ++ ops.Multimodal.qs ++ ops.Curate.qs ++ ops.CurateIncr.qs ++
      ops.DedupIncr.qs ++ ops.AnnIncr.qs ++ ops.TfidfIncr.qs ++ ops.DomainsIncr.qs ++
      ops.QualityIncr.qs ++ ops.ClusterIncr.qs ++ ops.TriIncr.qs ++
      ops.CatalogOps.qs ++
      ops.Layout.qs ++ ops.Scd.qs ++ ops.Graph.qs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys (algorithm-specific sketches,
    * streaming-only plumbing) get the driver's rows-only check. */
  def oracleSql: Map[String, String] = Oracle.sql
}
