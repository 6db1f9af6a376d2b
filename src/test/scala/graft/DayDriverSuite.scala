package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.IncrState.freshPrefix

/** VERDICT r15 #6: the incremental family COMPOSED — all eight members
  * (retractable curation, near-dup band store, ANN index, TF-IDF,
  * domain stats, quality report, k-means, triangles) drive on ONE
  * shared warehouse, through shared CDC inboxes (one per input kind:
  * documents, embeddings, events, edges), across 3 fold days + 1
  * takedown batch, with a MID-HISTORY RESTART (every member's catalog
  * entry dropped — the warehouse files and checkpoints must carry the
  * recovery alone). Each member's final report must equal its batch
  * recompute on the reduced corpus — the same equality its isolated
  * CDC test pins, now proven with all eight sets of state tables,
  * markers (`_last_day.<prefix>`, `_vec_counts`, prefix-scoped quality
  * counters, `_ann_conf`), leases, and drive-form pins coexisting in
  * one warehouse. */
class DayDriverSuite extends SparkSpec {

  test("two same-kind members on one warehouse: per-prefix markers stay isolated") {
    // round 16: _last_day, _doc_counts, _vec_counts, _ann_conf and
    // _recode_pending are all per prefix now (the ClusterIncr/
    // QualityIncr house pattern) — two TF-IDF members or two ANN
    // indexes sharing a warehouse must not pool their n_docs / built
    // width. Proven by report equality against solo-warehouse twins.
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val wh = ops.IncrState.newWarehouse()
    val (tA, tB) = (freshPrefix("iso_tf_a_"), freshPrefix("iso_tf_b_"))
    val (aA, aB) = (freshPrefix("iso_ann_a_"), freshPrefix("iso_ann_b_"))
    val (sA, sB) = (freshPrefix("iso_tf_sa_"), freshPrefix("iso_tf_sb_"))
    try {
      // TF-IDF member A: 2 days of residues 0/1; member B: ONE day of
      // residue 2 — a warehouse-global _doc_counts would hand B the sum
      // of both corpora as its n_docs and skew every IDF score
      (0 to 1).foreach(d => ops.TfidfIncr.runDay(spark,
        docs.filter(pmod($"doc_id", lit(3L)) === d), tA, wh, d, nBuckets = 4))
      ops.TfidfIncr.runDay(spark,
        docs.filter(pmod($"doc_id", lit(3L)) === 2), tB, wh, 0, nBuckets = 4)
      val whSA = ops.IncrState.newWarehouse()
      val whSB = ops.IncrState.newWarehouse()
      (0 to 1).foreach(d => ops.TfidfIncr.runDay(spark,
        docs.filter(pmod($"doc_id", lit(3L)) === d), sA, whSA, d, nBuckets = 4))
      ops.TfidfIncr.runDay(spark,
        docs.filter(pmod($"doc_id", lit(3L)) === 2), sB, whSB, 0, nBuckets = 4)
      assert(canon(ops.TfidfIncr.report(spark, tA, wh)) ==
        canon(ops.TfidfIncr.report(spark, sA, whSA)),
        "member A's report polluted by member B on the shared warehouse")
      assert(canon(ops.TfidfIncr.report(spark, tB, wh)) ==
        canon(ops.TfidfIncr.report(spark, sB, whSB)),
        "member B's n_docs absorbed member A's corpus")
      // ANN: A built at an explicit width, B at the default — a shared
      // _ann_conf would make B probe at A's width (silent recall skew)
      spark.conf.set("spark.graft.ann.bits", "6")
      try ops.AnnIncr.runDay(spark,
        emb.filter(pmod($"vec_id", lit(2L)) === 0), aA, wh, 0, nBuckets = 4)
      finally spark.conf.unset("spark.graft.ann.bits")
      // B's slice must retain some %50 residues — they are the store-
      // resident query set the serving sanity check below reads
      ops.AnnIncr.runDay(spark,
        emb.filter(pmod($"vec_id", lit(3L)) === 0), aB, wh, 0, nBuckets = 4)
      assert(ops.AnnIncr.annConf(spark, aA, wh) == (4, 6), "A lost its built width")
      assert(ops.AnnIncr.annConf(spark, aB, wh) == (4, 4),
        "B inherited A's width through a shared marker")
      assert(canon(ops.AnnIncr.topK(spark, aB, wh,
        ops.AnnIncr.storeQueries(spark, aB, wh), 3)).nonEmpty)
    } finally {
      Seq(tA, tB, sA, sB).foreach(ops.TfidfIncr.dropState(spark, _))
      Seq(aA, aB).foreach(ops.AnnIncr.dropState(spark, _))
    }
  }

  test("CONCURRENT members on one warehouse: per-prefix leases never contend; a same-prefix contender retries through withLeaseRetry (VERDICT r16 #4)") {
    // the per-prefix lease contract promises independent members never
    // block each other; prove it under TRUE concurrency, repeatedly
    // (races don't show once): 4 threads fold different prefixes
    // simultaneously on ONE warehouse while a 5th contends on prefix 1
    // — first observing the LOUD failure, then landing its compaction
    // through the bounded retry helper. Final reports must equal the
    // serial single-member runs, every iteration.
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // member m's day-d slice: doc_id ≡ m + 4d (mod 8) — members and
    // days all disjoint, so any cross-prefix pollution shows in reports
    def slice(m: Int, d: Int) =
      docs.filter(pmod($"doc_id", lit(8L)) === (m + 4 * d))
    // serial oracles, one isolated warehouse per member (computed once;
    // the folds are deterministic)
    val expected = (0 until 4).map { m =>
      val pS = freshPrefix(s"ddc_s${m}_")
      val whS = ops.IncrState.newWarehouse()
      (0 to 1).foreach(d => ops.DomainsIncr.runDay(spark, slice(m, d), pS, whS, d, nBuckets = 4))
      ops.DomainsIncr.compactState(spark, pS, whS, nBuckets = 4)
      val r = canon(ops.DomainsIncr.report(spark, pS, whS))
      ops.DomainsIncr.dropState(spark, pS)
      r
    }
    assert(expected.forall(_.nonEmpty), "a member's corpus slice is vacuous")

    (1 to 5).foreach { iter =>
      val wh = ops.IncrState.newWarehouse()
      val ps = (0 until 4).map(m => freshPrefix(s"ddc_i${iter}_m${m}_"))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val p0Parked = new java.util.concurrent.CountDownLatch(1)
      val contenderSawLoud = new java.util.concurrent.CountDownLatch(1)
      val folders = (0 until 4).map(m => new Thread(() => {
        try (0 to 1).foreach { d =>
          ops.IncrState.withLeaseRetry(spark, wh, ps(m), attempts = 200, baseBackoffMs = 20) {
            ops.DomainsIncr.runDay(spark, slice(m, d), ps(m), wh, d, nBuckets = 4)
            if (m == 0 && d == 0) {
              // park INSIDE prefix 0's lease until the contender has
              // observed one loud contention — deterministic, not luck
              p0Parked.countDown()
              contenderSawLoud.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
            }
          }
        } catch { case t: Throwable => errs.add(t); () }
      }))
      val contender = new Thread(() => {
        try {
          p0Parked.await(60, java.util.concurrent.TimeUnit.SECONDS)
          // the same-prefix contender MUST fail loudly while m0 holds…
          try {
            ops.IncrState.withLease(spark, wh, ps(0)) { () }
            errs.add(new AssertionError("contender acquired a held per-prefix lease")); ()
          } catch { case _: ops.IncrState.LeaseContendedException =>
            contenderSawLoud.countDown() }
          // …then land its compaction through the bounded retry helper
          ops.IncrState.withLeaseRetry(spark, wh, ps(0), attempts = 500, baseBackoffMs = 20) {
            ops.DomainsIncr.compactState(spark, ps(0), wh, nBuckets = 4)
          }
        } catch { case t: Throwable => errs.add(t); () }
      })
      (folders :+ contender).foreach(_.start())
      (folders :+ contender).foreach(_.join(180000))
      assert(folders.forall(!_.isAlive) && !contender.isAlive, s"iter $iter: threads wedged")
      assert(errs.isEmpty, s"iter $iter: concurrent member failed: ${errs.peek()}")
      // every member compacts at the end so report shapes match the oracle
      (0 until 4).foreach(m => ops.DomainsIncr.compactState(spark, ps(m), wh, nBuckets = 4))
      (0 until 4).foreach { m =>
        assert(canon(ops.DomainsIncr.report(spark, ps(m), wh)) == expected(m),
          s"iter $iter: member $m diverged under concurrency")
      }
      ps.foreach(ops.DomainsIncr.dropState(spark, _))
    }
  }

  test("all 8 members on one warehouse: shared CDC inboxes + takedowns + restart") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("day_driver_").toString
    val wh = s"$root/wh"
    def inbox(kind: String): String = {
      val d = s"$root/inbox_$kind"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      d
    }
    def land(df: DataFrame, dir: String, name: String): Unit = {
      val tmp = s"$root/tmp_${new java.io.File(dir).getName}_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/$name.parquet"))
    }

    // ---- the four input kinds + their takedown sets -----------------
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val customers = Tables.customer(spark, sfDir)
    val events = Tables.events(spark, sfDir).select($"event_id", $"user_id", $"value")
    val le = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val edges = le.as("a").join(le.as("b"), $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .select($"a.pk".as("u"), $"b.pk".as("v")).distinct()

    val docDel = docs.filter(pmod($"doc_id", lit(11L)) === 5)
    val vecDel = emb.filter(pmod($"vec_id", lit(11L)) === 0)
    val evDel = events.filter(pmod($"event_id", lit(5L)) === 2)
    val edgeDel = edges.filter(pmod($"u", lit(13L)) === 3)
    Seq(("docs", docDel), ("vecs", vecDel), ("events", evDel), ("edges", edgeDel))
      .foreach { case (n, d) => assert(d.count() > 0, s"$n takedown set empty — vacuous") }

    val docInbox = inbox("docs")
    val embInbox = inbox("emb")
    val evInbox = inbox("events")
    val edgeInbox = inbox("edges")

    // member prefixes + one checkpoint per member (the drive-form pin
    // is per checkpoint; the WAREHOUSE is the shared thing under test)
    val pCur = freshPrefix("dd_cur_"); val pDed = freshPrefix("dd_ded_")
    val pTf = freshPrefix("dd_tf_"); val pDom = freshPrefix("dd_dom_")
    val pQ = freshPrefix("dd_q_"); val pAnn = freshPrefix("dd_ann_")
    val pCl = freshPrefix("dd_cl_"); val pTri = freshPrefix("dd_tri_")
    val members = Seq(pCur, pDed, pTf, pDom, pQ, pAnn, pCl, pTri)
    def ckpt(p: String) = s"$root/ckpt_$p"

    def drainAll(): Unit = {
      streaming.CurateIncrStream.drainCdc(spark, docInbox, pCur, wh, ckpt(pCur), nBuckets = 4)
      streaming.DedupIncrStream.drainCdc(spark, docInbox, pDed, wh, ckpt(pDed), nBuckets = 4)
      streaming.TfidfIncrStream.drainCdc(spark, docInbox, pTf, wh, ckpt(pTf), nBuckets = 4)
      streaming.DomainsIncrStream.drainCdc(spark, docInbox, pDom, wh, ckpt(pDom), nBuckets = 4)
      streaming.QualityIncrStream.drainCdc(spark, evInbox, sfDir, pQ, wh, ckpt(pQ), nBuckets = 4)
      streaming.AnnIncrStream.drainCdc(spark, embInbox, pAnn, wh, ckpt(pAnn), nBuckets = 4)
      streaming.ClusterIncrStream.drainCdc(spark, embInbox, pCl, wh, ckpt(pCl), nBuckets = 4)
      streaming.TriIncrStream.drainCdc(spark, edgeInbox, pTri, wh, ckpt(pTri), nBuckets = 4)
    }

    try {
      // ---- days 0 and 1 land and drain --------------------------------
      (0 to 1).foreach { d =>
        land(docs.filter(pmod($"doc_id", lit(3L)) === d).withColumn("op", lit("add")),
          docInbox, s"e${d}_add")
        land(emb.filter(pmod($"vec_id", lit(3L)) === d).withColumn("op", lit("add")),
          embInbox, s"e${d}_add")
        land(events.filter(pmod($"event_id", lit(3L)) === d).withColumn("op", lit("add")),
          evInbox, s"e${d}_add")
        land(edges.filter(pmod($"u" + $"v", lit(3L)) === d).withColumn("op", lit("add")),
          edgeInbox, s"e${d}_add")
      }
      drainAll()

      // ---- MID-HISTORY RESTART: the in-memory catalog dies ------------
      // (every member table dropped; external locations + checkpoints
      // survive — ensureRegistered must rebuild all of it on next touch)
      val memberTables = spark.catalog.listTables().collect()
        .map(_.name).filter(n => members.exists(p => n.startsWith(p)))
      assert(memberTables.length >= 12,
        s"expected the 8 members' state tables in the catalog, got ${memberTables.toSeq}")
      memberTables.foreach(t => spark.sql(s"DROP TABLE `$t`"))

      // ---- day 2 + the takedown batch land; the drains resume ---------
      land(docs.filter(pmod($"doc_id", lit(3L)) === 2).withColumn("op", lit("add")),
        docInbox, "e2_add")
      land(docDel.withColumn("op", lit("del")), docInbox, "e3_del")
      land(emb.filter(pmod($"vec_id", lit(3L)) === 2).withColumn("op", lit("add")),
        embInbox, "e2_add")
      // ANN/k-means share one inbox: the delete event carries the
      // embeddings as folded (k-means' hybrid algebra re-derives the
      // negated centroid partials; ANN uses only vec_id)
      land(vecDel.withColumn("op", lit("del")), embInbox, "e3_del")
      land(events.filter(pmod($"event_id", lit(3L)) === 2).withColumn("op", lit("add")),
        evInbox, "e2_add")
      land(evDel.withColumn("op", lit("del")), evInbox, "e3_del")
      land(edges.filter(pmod($"u" + $"v", lit(3L)) === 2).withColumn("op", lit("add")),
        edgeInbox, "e2_add")
      land(edgeDel.withColumn("op", lit("del")), edgeInbox, "e3_del")
      drainAll()

      // ---- settle the k-means epoch on both sides ---------------------
      ops.ClusterIncr.reassign(spark, pCl, wh, nBuckets = 4)

      // ---- reduced-corpus batch recomputes, one isolated warehouse ----
      val keptDocs = docs.join(docDel.select($"doc_id"), Seq("doc_id"), "left_anti")
      val keptEmb = emb.join(vecDel.select($"vec_id"), Seq("vec_id"), "left_anti")
      val keptEv = events.join(evDel.select($"event_id"), Seq("event_id"), "left_anti")
      val keptEdges = edges.join(edgeDel, Seq("u", "v"), "left_anti")
      val whE = ops.IncrState.newWarehouse()
      val eCur = freshPrefix("dd_e_cur_"); val eDed = freshPrefix("dd_e_ded_")
      val eTf = freshPrefix("dd_e_tf_"); val eDom = freshPrefix("dd_e_dom_")
      val eQ = freshPrefix("dd_e_q_"); val eAnn = freshPrefix("dd_e_ann_")
      val eCl = freshPrefix("dd_e_cl_"); val eTri = freshPrefix("dd_e_tri_")
      try {
        (0 until 3).foreach { d =>
          ops.CurateIncr.runDayRetractable(spark,
            keptDocs.filter(pmod($"doc_id", lit(3L)) === d), eCur, whE, d, nBuckets = 4)
          ops.DedupIncr.runDay(spark,
            keptDocs.filter(pmod($"doc_id", lit(3L)) === d), eDed, whE, d, nBuckets = 4)
          ops.TfidfIncr.runDay(spark,
            keptDocs.filter(pmod($"doc_id", lit(3L)) === d), eTf, whE, d, nBuckets = 4)
          ops.DomainsIncr.runDay(spark,
            keptDocs.filter(pmod($"doc_id", lit(3L)) === d), eDom, whE, d, nBuckets = 4)
          ops.QualityIncr.runDay(spark,
            keptEv.filter(pmod($"event_id", lit(3L)) === d), customers, eQ, whE, d, nBuckets = 4)
          ops.AnnIncr.runDay(spark,
            keptEmb.filter(pmod($"vec_id", lit(3L)) === d), eAnn, whE, d, nBuckets = 4)
          ops.ClusterIncr.runDay(spark,
            keptEmb.filter(pmod($"vec_id", lit(3L)) === d), eCl, whE, d, nBuckets = 4)
          ops.TriIncr.runDay(spark,
            keptEdges.filter(pmod($"u" + $"v", lit(3L)) === d), eTri, whE, d, nBuckets = 4)
        }
        ops.ClusterIncr.reassign(spark, eCl, whE, nBuckets = 4)

        // ---- the 8 equality pins ---------------------------------------
        assert(canon(ops.CurateIncr.reportRetractable(spark, pCur, wh)) ==
          canon(ops.CurateIncr.reportRetractable(spark, eCur, whE)), "curate diverged")
        assert(canon(ops.DedupIncr.pairs(spark, pDed, wh)) ==
          canon(ops.DedupIncr.pairs(spark, eDed, whE)), "dedup diverged")
        assert(canon(ops.TfidfIncr.report(spark, pTf, wh)) ==
          canon(ops.TfidfIncr.report(spark, eTf, whE)), "tfidf diverged")
        assert(canon(ops.DomainsIncr.report(spark, pDom, wh)) ==
          canon(ops.DomainsIncr.report(spark, eDom, whE)), "domains diverged")
        assert(canon(ops.QualityIncr.report(spark, pQ, wh)) ==
          canon(ops.QualityIncr.report(spark, eQ, whE)), "quality diverged")
        assert(canon(ops.AnnIncr.topK(spark, pAnn, wh,
            ops.AnnIncr.storeQueries(spark, pAnn, wh), 3)) ==
          canon(ops.AnnIncr.topK(spark, eAnn, whE,
            ops.AnnIncr.storeQueries(spark, eAnn, whE), 3)), "ann diverged")
        assert(canon(ops.ClusterIncr.report(spark, pCl, wh)) ==
          canon(ops.ClusterIncr.report(spark, eCl, whE)), "cluster diverged")
        assert(canon(ops.TriIncr.report(spark, pTri, wh)) ==
          canon(ops.TriIncr.report(spark, eTri, whE)), "triangles diverged")

        // cross-member marker isolation on the SHARED warehouse: each
        // member's high-water marker is its own (doc members saw 4 CDC
        // batches → days 0,2,4 + delete day 7; the quality/emb/edge
        // timelines likewise — nothing leaked across prefixes)
        members.foreach { p =>
          assert(ops.IncrState.lastDay(spark, wh, p) == 7,
            s"$p high-water wrong: ${ops.IncrState.lastDay(spark, wh, p)}")
        }
      } finally {
        Seq(eCur, eDed, eTf, eDom, eQ, eAnn, eCl, eTri).foreach { p =>
          spark.catalog.listTables().collect().map(_.name)
            .filter(_.startsWith(p)).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
        }
      }
    } finally {
      members.foreach { p =>
        spark.catalog.listTables().collect().map(_.name)
          .filter(_.startsWith(p)).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
      }
    }
  }
}
