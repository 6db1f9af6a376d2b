package graft

import org.apache.spark.sql.functions._

/** SQL surface of the incremental serving reads (VERDICT r14 #4): each
  * `v_<prefix>_report` catalog view must return EXACTLY the member's
  * Scala `report` on the same warehouse — from a FRESH session (the
  * views use only built-in functions and default-catalog table names,
  * so a SQL-only user with zero Scala setup resolves them), and must
  * FOLLOW the state through later folds and deletes (the refresh hooks
  * re-bake marker literals / swap in the tombstone-aware form). */
class IncrViewsSuite extends SparkSpec {

  test("v_*_report == TfidfIncr.report, fresh session, follows folds + deletes") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("tfidf_view_")
    val wh = ops.IncrState.newWarehouse()
    try {
      (0 to 1).foreach(d => ops.TfidfIncr.runDay(spark,
        docs.filter(pmod($"doc_id", lit(3L)) === d), prefix, wh, d, nBuckets = 4))
      val v = ops.IncrViews.registerTfidf(spark, prefix, wh)
      val fresh = spark.newSession()
      assert(canon(fresh.sql(s"SELECT * FROM $v")) ==
        canon(ops.TfidfIncr.report(spark, prefix, wh)),
        "view != Scala report after registration")
      // a later fold changes n_docs (a baked literal) — the runDay
      // refresh hook must keep the view current, no re-register needed
      ops.TfidfIncr.runDay(spark,
        docs.filter(pmod($"doc_id", lit(3L)) === 2), prefix, wh, 2, nBuckets = 4)
      assert(canon(fresh.sql(s"SELECT * FROM $v")) ==
        canon(ops.TfidfIncr.report(spark, prefix, wh)),
        "view went stale after a fold (n_docs literal not refreshed)")
      // retraction: negative partials + a negated marker line
      ops.TfidfIncr.deleteDay(spark,
        docs.filter(pmod($"doc_id", lit(7L)) === 3), prefix, wh, 3, nBuckets = 4)
      assert(canon(fresh.sql(s"SELECT * FROM $v")) ==
        canon(ops.TfidfIncr.report(spark, prefix, wh)),
        "view went stale after a delete")
    } finally {
      ops.IncrViews.dropView(spark, prefix)
      ops.TfidfIncr.dropState(spark, prefix)
    }
  }

  test("v_*_report == DomainsIncr.report, fresh session (static view)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("domains_view_")
    val wh = ops.IncrState.newWarehouse()
    try {
      (0 to 1).foreach(d => ops.DomainsIncr.runDay(spark,
        docs.filter(pmod($"doc_id", lit(2L)) === d), prefix, wh, d, nBuckets = 4))
      val v = ops.IncrViews.registerDomains(spark, prefix, wh)
      val fresh = spark.newSession()
      assert(canon(fresh.sql(s"SELECT * FROM $v")) ==
        canon(ops.DomainsIncr.report(spark, prefix, wh)))
      // the domains view bakes nothing — a later fold and a retraction
      // flow through the state tables it reads live
      ops.DomainsIncr.deleteDay(spark,
        docs.filter(pmod($"doc_id", lit(11L)) === 5), prefix, wh, 2, nBuckets = 4)
      assert(canon(fresh.sql(s"SELECT * FROM $v")) ==
        canon(ops.DomainsIncr.report(spark, prefix, wh)),
        "static view diverged after a delete")
    } finally {
      ops.IncrViews.dropView(spark, prefix)
      ops.DomainsIncr.dropState(spark, prefix)
    }
  }

  test("v_*_report == QualityIncr.report, fresh session, tombstone identity") {
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"value")
    val customers = Tables.customer(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("quality_view_")
    val wh = ops.IncrState.newWarehouse()
    try {
      (0 to 1).foreach(d => ops.QualityIncr.runDay(spark,
        events.filter(pmod($"event_id", lit(2L)) === d), customers,
        prefix, wh, d, nBuckets = 4))
      val v = ops.IncrViews.registerQuality(spark, prefix, wh)
      val fresh = spark.newSession()
      assert(canon(fresh.sql(s"SELECT * FROM $v")) ==
        canon(ops.QualityIncr.report(spark, prefix, wh)),
        "view != Scala report (append-only form)")
      // first delete creates the tombstone table; the refresh hook must
      // swap the view to the |L∪T|−|T| form AND re-bake the counters —
      // pinning that the pure-SQL identity equals the native
      // bitmap_andnot the Scala report uses
      ops.QualityIncr.deleteDay(spark,
        events.filter(pmod($"event_id", lit(5L)) === 2), customers,
        prefix, wh, 2, nBuckets = 4)
      assert(canon(fresh.sql(s"SELECT * FROM $v")) ==
        canon(ops.QualityIncr.report(spark, prefix, wh)),
        "view went stale or the union identity != bitmap_andnot")
    } finally {
      ops.IncrViews.dropView(spark, prefix)
      ops.QualityIncr.dropState(spark, prefix)
    }
  }

  test("v_*_report == ClusterIncr.report, fresh session, tombstone swap") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("cluster_view_")
    val wh = ops.IncrState.newWarehouse()
    try {
      (0 to 1).foreach(d => ops.ClusterIncr.runDay(spark,
        emb.filter(pmod($"vec_id", lit(2L)) === d), prefix, wh, d, nBuckets = 4))
      val v = ops.IncrViews.registerCluster(spark, prefix, wh)
      val fresh = spark.newSession()
      assert(canon(fresh.sql(s"SELECT * FROM $v")) ==
        canon(ops.ClusterIncr.report(spark, prefix, wh)),
        "view != Scala report (append-only form)")
      // first delete creates the vec tombstone table — the hook swaps in
      // the anti-join form
      ops.ClusterIncr.deleteDay(spark,
        emb.filter(pmod($"vec_id", lit(11L)) === 5), prefix, wh, 2, nBuckets = 4)
      assert(canon(fresh.sql(s"SELECT * FROM $v")) ==
        canon(ops.ClusterIncr.report(spark, prefix, wh)),
        "view missed the tombstone swap")
    } finally {
      ops.IncrViews.dropView(spark, prefix)
      ops.ClusterIncr.dropState(spark, prefix)
    }
  }

  test("v_*_report == CurateIncr.reportRetractable, fresh session, keeper re-derive") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("curate_view_")
    val wh = ops.IncrState.newWarehouse()
    try {
      (0 to 1).foreach(d => ops.CurateIncr.runDayRetractable(spark,
        docs.filter(pmod($"doc_id", lit(2L)) === d), prefix, wh, d, nBuckets = 4))
      val v = ops.IncrViews.registerCurate(spark, prefix, wh)
      val fresh = spark.newSession()
      assert(canon(fresh.sql(s"SELECT * FROM $v")) ==
        canon(ops.CurateIncr.reportRetractable(spark, prefix, wh)),
        "view != Scala report (append-only form)")
      // the delete exercises BOTH arms at once: keeper re-derive from
      // surviving members (MIN(STRUCT) after the anti-join — a retracted
      // keeper's runner-up must promote) and the signed tf netting
      ops.CurateIncr.deleteDayRetractable(spark,
        docs.filter(pmod($"doc_id", lit(7L)) === 3), prefix, wh, 2, nBuckets = 4)
      assert(canon(fresh.sql(s"SELECT * FROM $v")) ==
        canon(ops.CurateIncr.reportRetractable(spark, prefix, wh)),
        "view missed the tombstone swap or mis-derived a keeper")
    } finally {
      ops.IncrViews.dropView(spark, prefix)
      ops.CurateIncr.dropState(spark, prefix)
    }
  }

  test("view plans: tfidf state-side exchange-free; quality's union identity costs one bounded exchange") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val events = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"value")
    val customers = Tables.customer(spark, sfDir)
    val pT = ops.IncrState.freshPrefix("tfidf_viewplan_")
    val pQ = ops.IncrState.freshPrefix("quality_viewplan_")
    val whT = ops.IncrState.newWarehouse()
    val whQ = ops.IncrState.newWarehouse()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      (0 to 1).foreach(d => ops.TfidfIncr.runDay(spark,
        docs.filter(pmod($"doc_id", lit(2L)) === d), pT, whT, d, nBuckets = 4))
      val vT = ops.IncrViews.registerTfidf(spark, pT, whT)
      (0 to 1).foreach(d => ops.QualityIncr.runDay(spark,
        events.filter(pmod($"event_id", lit(2L)) === d), customers,
        pQ, whQ, d, nBuckets = 4))
      ops.QualityIncr.deleteDay(spark,
        events.filter(pmod($"event_id", lit(5L)) === 2), customers,
        pQ, whQ, 2, nBuckets = 4)
      val vQ = ops.IncrViews.registerQuality(spark, pQ, whQ)
      // no broadcast escape hatch: the state sides must be exchange-free
      // BY BUCKETING, not by smallness
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def exchanges(plan: String): Int = plan.linesIterator
        .count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      val planT = spark.sql(s"SELECT * FROM $vT").queryExecution.executedPlan.toString
      // exactly the member plan's shape: the one output-inherent doc_id
      // window exchange; tf/df nets and the tok join ride the bucketing
      assert(exchanges(planT) <= 1, s"tfidf view grew a state-side shuffle:\n$planT")
      assert(planT.contains("Bucketed: true"), s"tfidf view lost bucketed scans:\n$planT")
      assert(planT.contains("WindowGroupLimit"), s"tfidf view lost the top-k group limit:\n$planT")
      val planQ = spark.sql(s"SELECT * FROM $vQ").queryExecution.executedPlan.toString
      // the documented trade of the pure-SQL |L∪T|−|T| identity: ONE
      // exchange over the unioned replay-deduped bitmap rows (≤ buckets ×
      // days+epochs rows) + the trivial SinglePartition scalar sum — and
      // nothing else (the tomb-side or_agg and the join stay bucket-local)
      assert(exchanges(planQ) <= 2, s"quality view grew beyond the documented exchanges:\n$planQ")
      assert(planQ.contains("Bucketed: true"), s"quality view lost bucketed scans:\n$planQ")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      ops.IncrViews.dropView(spark, pT)
      ops.IncrViews.dropView(spark, pQ)
      ops.TfidfIncr.dropState(spark, pT)
      ops.QualityIncr.dropState(spark, pQ)
    }
  }

  test("v_*_report == TriIncr.report, fresh session, tombstone swap") {
    import spark.implicits._
    // the exhibit graph at test scale: part co-occurrence of lineitem
    val e0 = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
      .distinct()
    val edges = e0.as("a").join(e0.as("b"), $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .select($"a.pk".as("u"), $"b.pk".as("v")).distinct()
    val prefix = ops.IncrState.freshPrefix("tri_view_")
    val wh = ops.IncrState.newWarehouse()
    try {
      (0 to 1).foreach(d => ops.TriIncr.runDay(spark,
        edges.filter(pmod($"u" + $"v", lit(2L)) === d), prefix, wh, d, nBuckets = 4))
      val v = ops.IncrViews.registerTriangles(spark, prefix, wh)
      val fresh = spark.newSession()
      assert(canon(fresh.sql(s"SELECT * FROM $v")) ==
        canon(ops.TriIncr.report(spark, prefix, wh)),
        "view != Scala report (append-only form)")
      // first delete creates the edge tombstone table — the hook swaps
      // in the anti-join form
      ops.TriIncr.deleteDay(spark,
        edges.filter(pmod($"u", lit(13L)) === 3), prefix, wh, 2, nBuckets = 4)
      assert(canon(fresh.sql(s"SELECT * FROM $v")) ==
        canon(ops.TriIncr.report(spark, prefix, wh)),
        "view missed the tombstone swap")
    } finally {
      ops.IncrViews.dropView(spark, prefix)
      ops.TriIncr.dropState(spark, prefix)
    }
  }

  test("one program per read: each report is its view's plan under the presentation sort") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val e0 = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val edges = e0.as("a").join(e0.as("b"), $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .select($"a.pk".as("u"), $"b.pk".as("v")).distinct()
    val members = Seq("tfidf" -> ops.TfidfIncr, "domains" -> ops.DomainsIncr,
      "tri" -> ops.TriIncr, "cluster" -> ops.ClusterIncr, "curate" -> ops.CurateIncr)
    val p = members.map { case (m, _) => m -> ops.IncrState.freshPrefix(s"${m}_one_") }.toMap
    val wh = ops.IncrState.newWarehouse()
    // the presentation ORDER BY is the one operator the view leaves out
    // (the triangle read's ORDER BY … LIMIT 20 is the top-k itself)
    def onePlan(m: String, view: String, report: org.apache.spark.sql.DataFrame): Unit = {
      val served = report.queryExecution.optimizedPlan match {
        case Sort(_, true, child, _) => child
        case plan => plan
      }
      val viaView = spark.sql(s"SELECT * FROM $view").queryExecution.optimizedPlan
      assert(served.sameResult(viaView),
        s"$m report and its view are two programs:\n$served\nvs\n$viaView")
    }
    try {
      (0 to 1).foreach { d =>
        val (dHalf, vHalf) = (pmod($"doc_id", lit(2L)) === d, pmod($"vec_id", lit(2L)) === d)
        ops.TfidfIncr.runDay(spark, docs.filter(dHalf), p("tfidf"), wh, d, nBuckets = 4)
        ops.DomainsIncr.runDay(spark, docs.filter(dHalf), p("domains"), wh, d, nBuckets = 4)
        ops.TriIncr.runDay(spark, edges.filter(pmod($"u" + $"v", lit(2L)) === d),
          p("tri"), wh, d, nBuckets = 4)
        ops.ClusterIncr.runDay(spark, emb.filter(vHalf), p("cluster"), wh, d, nBuckets = 4)
        ops.CurateIncr.runDayRetractable(spark, docs.filter(dHalf), p("curate"), wh, d,
          nBuckets = 4)
      }
      // one delete each: the keyed members' tombstone anti-join (a
      // broadcast hint) is part of the compared plan
      ops.TfidfIncr.deleteDay(spark, docs.filter(pmod($"doc_id", lit(7L)) === 3),
        p("tfidf"), wh, 2, nBuckets = 4)
      ops.TriIncr.deleteDay(spark, edges.filter(pmod($"u", lit(13L)) === 3),
        p("tri"), wh, 2, nBuckets = 4)
      ops.ClusterIncr.deleteDay(spark, emb.filter(pmod($"vec_id", lit(11L)) === 5),
        p("cluster"), wh, 2, nBuckets = 4)
      ops.CurateIncr.deleteDayRetractable(spark, docs.filter(pmod($"doc_id", lit(7L)) === 3),
        p("curate"), wh, 2, nBuckets = 4)
      onePlan("tfidf", ops.IncrViews.registerTfidf(spark, p("tfidf"), wh),
        ops.TfidfIncr.report(spark, p("tfidf"), wh))
      onePlan("domains", ops.IncrViews.registerDomains(spark, p("domains"), wh),
        ops.DomainsIncr.report(spark, p("domains"), wh))
      onePlan("tri", ops.IncrViews.registerTriangles(spark, p("tri"), wh),
        ops.TriIncr.report(spark, p("tri"), wh))
      onePlan("cluster", ops.IncrViews.registerCluster(spark, p("cluster"), wh),
        ops.ClusterIncr.report(spark, p("cluster"), wh))
      onePlan("curate", ops.IncrViews.registerCurate(spark, p("curate"), wh),
        ops.CurateIncr.reportRetractable(spark, p("curate"), wh))
    } finally members.foreach { case (m, member) =>
      ops.IncrViews.dropView(spark, p(m))
      member.dropState(spark, p(m))
    }
  }

  test("v_*_topk == AnnIncr.topK via the INSERT-then-SELECT contract (VERDICT r15 #4)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("ann_view_")
    val wh = ops.IncrState.newWarehouse()
    try {
      (0 to 1).foreach(d => ops.AnnIncr.runDay(spark,
        emb.filter(pmod($"vec_id", lit(2L)) === d), prefix, wh, d, nBuckets = 4))
      val v = ops.IncrViews.registerAnnTopK(spark, prefix, wh, k = 3)
      val qt = ops.IncrViews.queriesTable(prefix)
      // read the view BEFORE any queries land: (a) the seeded zero-row
      // schema file must let the path scan analyze, and (b) this primes
      // any per-session listing cache — the exact shape of the r16
      // refreshTable footgun the next assertion pins closed
      assert(spark.sql(s"SELECT * FROM $v").count() == 0,
        "empty landing table must read as an empty view")
      // the SQL user lands query vectors with one INSERT — no Scala
      val fresh = spark.newSession()
      fresh.sql(s"""INSERT INTO $qt
                   |SELECT DISTINCT vec_id AS q_id, v AS qv
                   |FROM ${prefix}_vecs WHERE vec_id % 50 = 0""".stripMargin)
      assert(fresh.table(qt).count() > 0, "query landing table empty — test is vacuous")
      // VERDICT r16 #6: the REGISTERING session (which just read the
      // view as empty) must see the other session's INSERT with NO
      // manual refreshTable — the view's read side is path-based, so
      // the file listing is fresh per query
      assert(spark.sql(s"SELECT * FROM $v").count() > 0,
        "registering session's view read missed a cross-session INSERT without refreshTable")
      // the Scala baseline runs on EXACTLY the landed query set (qn
      // derived the same way the fold derives norms)
      def landedQueries = {
        // the INSERT ran in the fresh session; make sure THIS session's
        // relation cache sees the landed files before the baseline runs
        spark.catalog.refreshTable(qt)
        spark.table(qt)
          .withColumn("qn", graft.functions.DotL.dot($"qv", $"qv"))
          .select($"q_id", $"qv", $"qn")
      }
      assert(landedQueries.count() > 0, "outer session does not see landed queries")
      def scalaTopK = ops.AnnIncr.topK(spark, prefix, wh, landedQueries, 3)
      val viaView = canon(fresh.sql(s"SELECT * FROM $v"))
      assert(viaView.nonEmpty, "topk view returned nothing")
      assert(viaView == canon(scalaTopK), "view != AnnIncr.topK on the landed queries")
      // a later fold (refresh hook re-bakes planes/config) stays equal
      ops.AnnIncr.runDay(spark,
        emb.filter(pmod($"vec_id", lit(2L)) === 0), prefix, wh, 2, nBuckets = 4)
      assert(canon(fresh.sql(s"SELECT * FROM $v")) == canon(scalaTopK),
        "view went stale after a fold")
      // retraction: the hook swaps in the tombstone-aware vec CTE; the
      // tombstoned ids must leave answer sets in BOTH paths
      val delIds = emb.filter(pmod($"vec_id", lit(11L)) === 0).select($"vec_id")
      ops.AnnIncr.deleteDay(spark, delIds, prefix, wh, 3, nBuckets = 4)
      val afterDel = canon(fresh.sql(s"SELECT * FROM $v"))
      assert(afterDel == canon(scalaTopK), "view missed the tombstone swap")
      val delSet = delIds.collect().map(_.getLong(0)).toSet
      assert(afterDel.forall(_.split('|') match {
        case Array(_, _, c, _) => !delSet.contains(c.toLong)
        case _ => false
      }), "a retracted vec_id survived in the view's answers")
    } finally {
      ops.IncrViews.dropView(spark, prefix)
      ops.AnnIncr.dropState(spark, prefix)
    }
  }

  test("refresh hooks are cross-session: register in A, fold+delete in B, read in C (VERDICT r15 #7)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("tfidf_xsess_")
    val wh = ops.IncrState.newWarehouse()
    try {
      // session A: fold + register (bakes n_docs for 1 day)
      ops.TfidfIncr.runDay(spark,
        docs.filter(pmod($"doc_id", lit(3L)) === 0), prefix, wh, 0, nBuckets = 4)
      val v = ops.IncrViews.registerTfidf(spark, prefix, wh)
      // session B (its own SessionState/conf, catalog shared the way a
      // persistent metastore would be): folds and deletes — ITS refresh
      // hooks must find the view A registered and re-bake the literal
      val sessionB = spark.newSession()
      ops.TfidfIncr.runDay(sessionB,
        Tables.documents(sessionB, sfDir).filter(pmod($"doc_id", lit(3L)) === 1),
        prefix, wh, 1, nBuckets = 4)
      ops.TfidfIncr.deleteDay(sessionB,
        Tables.documents(sessionB, sfDir).filter(pmod($"doc_id", lit(7L)) === 3),
        prefix, wh, 2, nBuckets = 4)
      // session C: a SQL-only reader that saw none of the above
      val sessionC = spark.newSession()
      assert(canon(sessionC.sql(s"SELECT * FROM $v")) ==
        canon(ops.TfidfIncr.report(spark, prefix, wh)),
        "view registered in A went stale after B's fold+delete")
    } finally {
      ops.IncrViews.dropView(spark, prefix)
      ops.TfidfIncr.dropState(spark, prefix)
    }
  }
}
