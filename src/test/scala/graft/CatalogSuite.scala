package graft

import graft.sources.Catalog

/** Durable-catalog semantics (VERDICT r4 #6): external tables and the
  * persistent events view are METASTORE objects — a second session that
  * never ran any setup queries them by name, which is the Glue
  * survives-restart behavior at the ceiling a single-JVM sandbox can
  * prove (the in-memory metastore is process-scoped; pointing the same
  * code at a Hive/Glue metastore makes the same objects survive
  * restarts, no code change). */
class CatalogSuite extends SparkSpec {

  test("external tables: a fresh session queries graft.* by name, no setup re-run") {
    Catalog.registerExternalTables(spark, sfDir)
    val s2 = spark.newSession() // shares the metastore, owns NO temp state
    val n = s2.sql("SELECT COUNT(*) AS n FROM graft.lineitem").collect()(0).getLong(0)
    assert(n > 0, "fresh session must see the external table")
    // the persistent view carries the ns→µs normalization in its SQL:
    // a session that has never seen graft.Tables reads µs instants
    val ts = s2.sql("SELECT MIN(ts) FROM graft.events").collect()(0)
    assert(!ts.isNullAt(0) && ts.get(0).isInstanceOf[java.sql.Timestamp])
  }

  test("external tables: registration is idempotent; re-pointing replaces") {
    Catalog.registerExternalTables(spark, sfDir)
    val before = spark.sql("SHOW TBLPROPERTIES graft.lineitem ('graft.source.dir')")
      .collect()(0).getString(1)
    Catalog.registerExternalTables(spark, sfDir) // no-op: same dir
    val after = spark.sql("SHOW TBLPROPERTIES graft.lineitem ('graft.source.dir')")
      .collect()(0).getString(1)
    assert(before == after)
    // re-point at another scale factor: definitions are replaced (a
    // crawler re-run), and row counts track the new location
    val n1 = spark.sql("SELECT COUNT(*) FROM graft.lineitem").collect()(0).getLong(0)
    Catalog.registerExternalTables(spark, "/root/testdata/sf0.01")
    val n2 = spark.sql("SELECT COUNT(*) FROM graft.lineitem").collect()(0).getLong(0)
    assert(n2 > n1, s"sf0.01 must have more rows than sf0.001: $n1 vs $n2")
    Catalog.registerExternalTables(spark, sfDir) // restore for other suites
  }

  test("partition re-discovery: a directory landed outside Spark becomes queryable (MSCK)") {
    // ≙ the Glue crawler's daily re-crawl (main.tf:304-314) picking up
    // partitions other producers dropped at the prefix
    import spark.implicits._
    val loc = java.nio.file.Files.createTempDirectory("graft_ext_part").toString
    graft.Tables.documents(spark, sfDir)
      .write.partitionBy("lang").mode("overwrite").parquet(loc)
    val tbl = s"${Catalog.Db}.docs_recover_test"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    Catalog.registerPartitionedExternal(spark, tbl, loc, Seq("lang"))
    val langs0 = spark.table(tbl).select($"lang").distinct().as[String].collect().toSet
    assert(langs0.nonEmpty && !langs0.contains("zz"))
    // a foreign writer lands a new partition directory at the location —
    // NOT through this table's writer, so the catalog has no idea
    spark.createDataset(Seq((999999L, "landed outside spark", "crawl")))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$loc/lang=zz")
    assert(spark.table(tbl).filter($"lang" === "zz").count() == 0,
      "un-recovered partition must be invisible (that is the failure mode)")
    Catalog.recoverPartitions(spark, tbl)
    // visible by name from a FRESH session sharing the metastore
    val fresh = spark.newSession()
    assert(fresh.table(tbl)
      .filter(org.apache.spark.sql.functions.col("lang") === "zz").count() == 1)
    // and the recovered partition index still prunes: only the zz
    // directory is read for a lang = 'zz' predicate
    val scan = spark.table(tbl).filter($"lang" === "zz")
    val pruned = scan.queryExecution.executedPlan.toString
    assert(pruned.contains("PartitionFilters") && pruned.contains("lang"),
      s"partition pruning lost after recovery:\n$pruned")
    assert(scan.select($"doc_id").as[Long].collect().toSeq == Seq(999999L))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("table stats drive a planning-time broadcast, no AQE needed") {
    Catalog.registerExternalTables(spark, sfDir)
    Catalog.analyzeTables(spark, Seq("nation", "customer"))
    // stats landed in the metastore
    val stats = spark.sql("DESCRIBE EXTENDED graft.nation")
      .collect().find(_.getString(0) == "Statistics").map(_.getString(1))
    assert(stats.exists(_.contains("rows")), s"no row stats on graft.nation: $stats")
    // with AQE off the PLANNER must still broadcast the small dim — it
    // can only know the size from the catalog stats it just computed
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = spark.sql(
        """SELECT c_name, n_name FROM graft.customer
           JOIN graft.nation ON c_nationkey = n_nationkey""")
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"stats did not produce a planning-time broadcast:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("SQL-registered sentiment function works for a pure-SQL user") {
    Catalog.registerExternalTables(spark, sfDir)
    Catalog.registerFunctions(spark)
    val r = spark.sql(
      "SELECT graft_sentiment('spark is fast not slow') AS s").collect()(0).getLong(0)
    // spark(2) + fast(2) + slow(-2) = 2
    assert(r == 2L, s"lexicon fold wrong: $r")
    val n = spark.sql(
      """SELECT COUNT(*) FROM graft.documents
         WHERE graft_sentiment(text) > 0""").collect()(0).getLong(0)
    assert(n > 0, "SQL UDF over the cataloged corpus returned nothing")
  }

  test("operator views: a fresh session runs the L/J pipelines via pure SQL, rows == Scala twins") {
    Catalog.registerOperatorViews(spark, sfDir)
    // durable catalog objects: a session that never ran setup sees them
    val fresh = spark.newSession()
    assert(Catalog.operatorViews.size >= 10, "pure-SQL surface shrank below 10 operators")
    Catalog.operatorViews.foreach { case (view, (qKey, _)) =>
      val viaSql = fresh.sql(s"SELECT * FROM graft.$view")
      if (qKey.isEmpty) {
        // twin-less diagnostic view: v_dedup_cc_residual counts edges
        // whose endpoints got DIFFERENT labels — nonzero exactly when
        // the recursive CTE's depth bound truncated CC propagation, so
        // on this corpus (cluster diameters ≪ 8) it must read 0
        assert(viaSql.columns.toSeq == Seq("unconverged_edges"), s"$view schema")
        assert(viaSql.collect().map(_.toSeq).toSeq == Seq(Seq(0L)),
          s"$view: depth bound truncated CC propagation on this corpus")
      } else {
      val twin = SparkEntry.queries(qKey)(fresh, sfDir)
      assert(viaSql.columns.toSeq == twin.columns.toSeq,
        s"$view columns ${viaSql.columns.toSeq} != $qKey ${twin.columns.toSeq}")
      val got = viaSql.collect().map(_.toString).sorted.toSeq
      val want = twin.collect().map(_.toString).sorted.toSeq
      assert(got.nonEmpty, s"$view returned no rows")
      assert(got == want,
        s"$view diverged from $qKey: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
      }
    }
    // plan sanity through the view layer: corpus-count joins and 1-row
    // scalar sides must stay broadcasts, never cartesian products — the
    // view SQL has no access to the Scala twins' explicit broadcast()
    // and persist() hints, so these pins catch a planner regression that
    // would only bite SQL-surface users
    Seq("v_text_tfidf", "v_quality_classify", "v_text_bpe_encode", "v_cluster_terms",
        "v_dedup_cluster", "v_dedup_survivors", "v_text_keyphrases",
        "v_graph_triangles_approx")
      .foreach { v =>
        val plan = fresh.sql(s"SELECT * FROM graft.$v").queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"),
          s"$v planned a CartesianProduct:\n$plan")
      }
  }

  private val sf01 = new java.io.File(sfDir).getParent + "/sf0.01" // 10× sfDir

  test("external tables: a URI dir registers the dir it names") {
    try {
      Catalog.registerExternalTables(spark, "file:" + sfDir)
      val n = spark.sql("SELECT COUNT(*) FROM graft.lineitem").collect()(0).getLong(0)
      assert(n == Tables.lineitem(spark, sfDir).count())
    } finally Catalog.registerExternalTables(spark, sfDir)
  }

  test("test tables: after a first call, building a query runs no Spark job") {
    val q = SparkEntry.queries("q_agg_rollup")
    q(spark, sfDir)
    val rec = Recorder.during(spark)(q(spark, sfDir))
    assert(rec.jobs.isEmpty, s"build ran ${rec.jobs.size} jobs: ${rec.jobs}")
    assert(rec.result.count() > 0)
  }

  test("test tables: a dir holding only some tables reads through Tables") {
    val out = java.nio.file.Files.createTempDirectory("graft_partial_").toString
    try {
      ScaleProbe.generate(spark, sfDir, out, 2, subset = Seq("lineitem"))
      assert(Tables.lineitem(spark, out).count() == 2 * Tables.lineitem(spark, sfDir).count())
      // a rewrite in place is re-crawled, not served from the old listing
      ScaleProbe.generate(spark, sfDir, out, 3, subset = Seq("lineitem"))
      assert(Tables.lineitem(spark, out).count() == 3 * Tables.lineitem(spark, sfDir).count())
    } finally deleteTree(out)
  }

  test("test tables: a re-point leaves frames built before it on their dir") {
    val small = Tables.lineitem(spark, sfDir).count()
    val big = Tables.lineitem(spark, sf01)
    val nBig = big.count()
    assert(nBig > small)
    Tables.lineitem(spark, sfDir) // re-points graft.lineitem
    assert(big.count() == nBig)
    assert(Tables.lineitem(spark, sfDir).count() == small)
  }

  test("test tables: threads looping over two dirs each read their own") {
    val want = Map(sfDir -> Tables.orders(spark, sfDir).count(),
      sf01 -> Tables.orders(spark, sf01).count())
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = Seq(sfDir, sf01).map(d => new Thread(() => {
      try (0 until 10).foreach { _ =>
        val n = Tables.orders(spark, d).count()
        if (n != want(d)) errs.add(s"$d: $n != ${want(d)}")
      } catch { case t: Throwable => errs.add(s"$d: $t"); () }
    }))
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    assert(errs.isEmpty, errs.toArray.mkString("; "))
  }

  test("test tables: a second session reads the right dir after another re-pointed") {
    val s2 = spark.newSession()
    val small = Tables.events(s2, sfDir).count()
    val big = Tables.events(spark, sf01).count() // re-points in the first session
    assert(big > small)
    assert(Tables.events(s2, sf01).count() == big)
    Tables.events(spark, sfDir)
    assert(Tables.events(s2, sfDir).count() == small)
    assert(Tables.events(s2, sf01).count() == big)
  }

  test("test tables: a loader re-registers after the database is dropped") {
    val n = Tables.orders(spark, sfDir).count()
    spark.sql(s"DROP DATABASE ${Catalog.Db} CASCADE")
    assert(Tables.orders(spark, sfDir).count() == n)
    Catalog.registerExternalTables(spark, sfDir) // restore for other tests
  }
}
