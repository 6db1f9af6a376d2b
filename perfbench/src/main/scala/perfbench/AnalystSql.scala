package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Oracle, SparkEntry, U, ops}
import graft.sources.Catalog
import org.apache.spark.sql.DataFrame

/** The Athena user path: one client runs passes over a seeded permutation
  * of a fixed sample of the interactive SQL surface -- `SparkEntry.queries`
  * fns and the durable `graft.v_*` operator views read by name -- each
  * fully materialized through the noop sink. */
final class AnalystSql(c: Ctx) extends Workload {
  import c.{spark, tracer}
  private val dir = c.dataDir

  /** The `graft.ops` modules a plan may name as the interactive surface. */
  private val modules: Map[String, Map[String, graft.Q]] = Map(
    "Relational" -> ops.Relational.qs, "Aggregates" -> ops.Aggregates.qs,
    "Windows" -> ops.Windows.qs, "Scalars" -> ops.Scalars.qs)

  /** Item ids: "q:<queries key>" or "v:<view name>". The surface is every
    * query of the plan's modules except the incremental exhibits, plus
    * every operator view whose queries twin is one of them; the workload
    * runs every `stride`-th item of each list in name order, in the seeded
    * order: rank by h64("<id>:<seed>"), the generator's permutation rule. */
  val order: IndexedSeq[String] = {
    val qs = plan.get("modules").elements().asScala.map(_.asText).toSeq
      .flatMap(m => modules(m).keys).filterNot(n => n.endsWith("_incr") || n.endsWith("_del")).sorted
    val vs = Catalog.operatorViews.collect { case (v, (twin, _)) if qs.contains(twin) => v }.toSeq.sorted
    val stride = plan.get("stride").asInt
    def sample(xs: Seq[String]) = xs.zipWithIndex.collect { case (x, i) if i % stride == 0 => x }
    (sample(qs).map("q:" + _) ++ sample(vs).map("v:" + _)).toIndexedSeq
      .sortBy(id => (U.h64Local(s"$id:${c.seed}"), id))
  }
  private val dumped = mutable.LinkedHashMap[String, String]()

  /** Register the `graft.*` external tables and the sampled operator views
    * (registerOperatorViews' statement for each) from a dropped catalog. */
  def prepare(): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS ${Catalog.Db} CASCADE")
    tracer.span("sources.register", "registerExternalTables")(Catalog.registerExternalTables(spark, dir))
    order.filter(_.startsWith("v:")).map(_.drop(2)).foreach { v =>
      tracer.span("sources.register", v)(
        spark.sql(s"CREATE OR REPLACE VIEW ${Catalog.Db}.$v AS ${Catalog.operatorViews(v)._2}"))
    }
  }

  /** A correctness pass, in which each item writes its output for the
    * oracle comparison, then one untimed pass as the timed loop runs them. */
  override def warmup(): Unit = {
    val out = c.work.resolve("out")
    order.sorted.foreach { id =>
      val path = out.resolve(id.drop(2)).toString
      try { c.dump(build(id), path); dumped(id) = path }
      catch { case e: Throwable => failedDumps(id) = c.errorText(e) }
      c.release()
    }
    step().foreach(_())
  }
  private val failedDumps = mutable.LinkedHashMap[String, String]()

  private def build(id: String): DataFrame = id.splitAt(2) match {
    case ("q:", n) => SparkEntry.queries(n)(spark, dir)
    case (_, v) => spark.sql(s"SELECT * FROM ${Catalog.Db}.$v")
  }

  private def plan = c.plan.get("analyst_sql")

  /** A step is one op: a pass over the permutation, so every run times
    * the same multiset of queries. */
  def step(): Seq[() => Span] = Seq(() => c.op("pass") {
    order.foreach { id =>
      c.query(id, if (id.startsWith("q:")) "ops.build" else "sources.view_query")(build(id))
      c.release()
    }
  })

  def check(checks: mutable.ArrayBuffer[Map[String, Any]],
            oracle: mutable.ArrayBuffer[Map[String, Any]]): Unit = {
    failedDumps.foreach { case (id, e) =>
      checks += Map("name" -> id, "ok" -> false, "detail" -> s"output dump failed: $e")
    }
    dumped.foreach { case (id, path) =>
      // a view is the relation of its queries twin minus the ORDER BY
      val (kind, n) = id.splitAt(2)
      val twin = if (kind == "q:") n else Catalog.operatorViews(n)._1
      Oracle.sql.get(twin) match {
        case Some(sql) => oracle += Map("name" -> id, "path" -> path, "sql" -> sql,
          "ordered" -> (kind == "q:"), "data" -> dir)
        case None => checks += Map("name" -> id, "ok" -> true, "detail" -> "no oracle SQL; ran")
      }
    }
  }

  def inputs: Map[String, Any] = {
    val (bytes, files) = c.dirBytes(java.nio.file.Paths.get(dir))
    Map("bytes" -> bytes, "files" -> files, "items" -> order.size)
  }

  override def extra: Map[String, Any] = Map("order" -> order)

  def cleanup(): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS ${Catalog.Db} CASCADE")
    spark.catalog.listTables("default").collect().filter(_.tableType != "TEMPORARY")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS default.`${t.name}`"))
  }
}
