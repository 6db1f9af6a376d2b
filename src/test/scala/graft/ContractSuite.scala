package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants: the queries/oracleSql maps must stay in
  * lockstep (a key in one but not the other silently weakens the
  * correctness gate). */
class ContractSuite extends AnyFunSuite {

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle SQL without a query: $missing")
  }

  test("every query has an oracle — including the sketches (bound_ok certification)") {
    // since r11 even the algorithm-specific sketches (q_agg_hll,
    // q_agg_approx_pct) carry an oracle: the query emits a bound_ok
    // certification column and the oracle emits literal TRUE, so the
    // driver's hash compare is a real quantitative accuracy check
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"unexpected oracle-less queries: $noOracle")
  }

  test("query keys are well-formed q_* identifiers") {
    SparkEntry.queries.keySet.foreach { k =>
      assert(k.matches("q_[a-z0-9_]+"), s"bad key: $k")
    }
  }

  test("oracle SQL has no unresolved interpolation artifacts") {
    val singleRow = Set("q_agg_global") // one-row global agg: ORDER BY vacuous
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(!sql.contains("${"), s"$k: unresolved interpolation in oracle SQL")
      if (!singleRow(k))
        assert(sql.toUpperCase.contains("ORDER BY"), s"$k: oracle lacks total ORDER BY")
    }
  }

  test("sessions are built only by graft.Session, listeners added only by graft.Recorder") {
    import scala.jdk.CollectionConverters._
    // call-site needle -> the files allowed to contain it (TopicConfigSuite
    // checks CloudConf on a bare builder, no session is created); the
    // recorder's one listener sees SQL executions too, so no file
    // registers a query-execution listener
    val allowed = Map(
      "SparkSession.builder" + "(" -> Set("Session.scala", "TopicConfigSuite.scala"),
      "addSparkListener" + "(" -> Set("Recorder.scala"),
      "listenerManager.register" + "(" -> Set.empty[String])
    val files = Seq("src/main/scala", "src/test/scala").flatMap { d =>
      val s = java.nio.file.Files.walk(Bench.repoRoot.resolve(d))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.exists(_.getFileName.toString == "SparkEntry.scala"), "the scan missed src/main/scala")
    val offenders = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
      (needle, ok) <- allowed
      if line.contains(needle) && !ok(f.getFileName.toString)
    } yield s"${Bench.repoRoot.relativize(f)}:${i + 1} $needle"
    assert(offenders.isEmpty, offenders.mkString(s"${offenders.size} call sites:\n", "\n", ""))
  }

  test("one loader: only sources.Catalog spells a test table's file; Tables reads no parquet") {
    import scala.jdk.CollectionConverters._
    val tableFile = sources.Catalog.TestTables.mkString("\\b(", "|", ")\\.parquet\\b").r
    val root = Bench.repoRoot.resolve("src/main/scala")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.exists(_.getFileName.toString == "Tables.scala"), "the scan missed Tables.scala")
    val offenders = for {
      f <- files
      rel = root.relativize(f).toString
      if rel != "graft/sources/Catalog.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
      if tableFile.findFirstIn(line).nonEmpty ||
        (rel == "graft/Tables.scala" && line.contains("read.parquet"))
    } yield s"$rel:${i + 1} ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString(s"${offenders.size} loader sites:\n", "\n", ""))
  }

  test("one installer for graft's optimizer rules: only graft/plans assigns extraOptimizations") {
    import scala.jdk.CollectionConverters._
    val assign = "extraOptimizations\\s*=(?!=)".r
    val files = Seq("src/main/scala", "src/test/scala").flatMap { d =>
      val s = java.nio.file.Files.walk(Bench.repoRoot.resolve(d))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val planDir = Bench.repoRoot.resolve("src/main/scala/graft/plans")
    val offenders = for {
      f <- files if !f.startsWith(planDir)
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
      if assign.findFirstIn(line).nonEmpty
    } yield s"${Bench.repoRoot.relativize(f)}:${i + 1} ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString(s"${offenders.size} installers:\n", "\n", ""))
    // a session built with spark.sql.extensions gets every graft rule
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new plans.GraftExtensions()(ext)
    val rules = org.apache.spark.sql.graftshim.GraftShim.optimizerRulesOf(ext, SparkSpec.session)
    Seq(plans.LevRewrite, plans.OnePartition).foreach(r =>
      assert(rules.exists(_ eq r), s"GraftExtensions does not inject ${r.ruleName}"))
  }
}
