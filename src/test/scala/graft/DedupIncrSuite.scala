package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental near-dup (q_dedup_incr): the daily band-store fold must be
  * lossless (any slicing == the full-corpus MinHash recompute), must read
  * only the day's slice + state (raw history parquet never re-read —
  * asserted via task input-bytes), and the candidate join's state side
  * must be exchange-free under the bucketed band store. */
class DedupIncrSuite extends SparkSpec {

  test("incremental 3-day == full recompute (q_dedup_minhash) == 5-day") {
    val full = canon(SparkEntry.queries("q_dedup_minhash")(spark, sfDir))
    assert(full.nonEmpty, "test corpus has no near-dup pairs — suite is vacuous")
    assert(canon(ops.DedupIncr.incremental(spark, sfDir, 3)) == full)
    assert(canon(ops.DedupIncr.incremental(spark, sfDir, 5)) == full)
    // a single-day fold is the degenerate one-shot case
    assert(canon(ops.DedupIncr.incremental(spark, sfDir, 1)) == full)
  }

  test("day-2 fold reads only the day-2 slice + state (input-bytes bound)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("dedup_incr_bytes_").toString
    (0 to 2).foreach { k =>
      docs.filter(pmod($"doc_id", lit(3L)) === k)
        .write.mode("overwrite").parquet(s"$root/slice$k")
    }
    val prefix = ops.IncrState.freshPrefix("dedup_incr_t_")
    val wh = s"$root/wh"
    try {
      ops.DedupIncr.runDayPath(spark, s"$root/slice0", prefix, wh, 0)
      ops.DedupIncr.runDayPath(spark, s"$root/slice1", prefix, wh, 1)

      // THE contract proof, functional and scale-independent: delete the
      // raw day-0/1 slices before the day-2 fold — if any part of the
      // fold lazily re-read raw history it would throw FileNotFound.
      Seq("slice0", "slice1").foreach(d => deleteTree(s"$root/$d"))

      val read = Recorder.during(spark) {
        ops.DedupIncr.runDayPath(spark, s"$root/slice2", prefix, wh, 2)
      }.inputBytes

      // I/O-amplification sanity bound on top: the fold's declared reads
      // are its own slice plus a BOUNDED number of state passes — the
      // band build reads the fresh doc partition, the candidate join
      // reads the fresh band partition + the full store, the verify
      // reads the full doc store: ≤ 2 passes over state by content. At
      // test scale the 32-bucket × per-day layout makes files footer-
      // dominated and the parquet reader touches footers twice, so the
      // byte bound is 3× state (still far below any history re-read
      // regime at real scale, where state ≪ cumulative raw corpus).
      val inputBudget = 2L * dirBytes(s"$root/slice2") + 3L * dirBytes(wh)
      assert(read > 0, "listener saw no input")
      assert(read <= inputBudget + (64 << 10),
        s"day-2 fold read $read bytes; bound $inputBudget")
      // and the cumulative ledger equals the full recompute over the corpus
      assert(canon(ops.DedupIncr.pairs(spark, prefix, wh)) ==
        canon(SparkEntry.queries("q_dedup_minhash")(spark, sfDir)))
    } finally ops.DedupIncr.dropState(spark, prefix)
  }

  test("lifecycle: 24 daily folds stay file-bounded; replay idempotent incl. post-compaction") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val days = 24
    val prefix = ops.IncrState.freshPrefix("dedup_incr_l_")
    val wh = ops.DedupIncr.newWarehouse()
    def slice(d: Int) = docs.filter(pmod($"doc_id", lit(days.toLong)) === d)
    val sliceRoot = java.nio.file.Files.createTempDirectory("dedup_incr_l_sl_").toString
    try {
      (0 until days).foreach { d =>
        if (d < days - 1) {
          ops.DedupIncr.runDay(spark, slice(d), prefix, wh, d, nBuckets = 4)
        } else {
          // day-growth cost rung (VERDICT r11 #3): after 23 folds of
          // history the LAST day's fold must still read only its own
          // slice + the (compaction-bounded) state — same input-bytes
          // budget shape the day-2 test pins, proving per-day cost does
          // not grow with the NUMBER of days, only with state size
          slice(d).write.mode("overwrite").parquet(s"$sliceRoot/slice$d")
          val budget = 2L * dirBytes(s"$sliceRoot/slice$d") + 3L * dirBytes(wh)
          val bytesRead = Recorder.during(spark) {
            ops.DedupIncr.runDayPath(spark, s"$sliceRoot/slice$d", prefix, wh, d, nBuckets = 4)
          }.inputBytes
          assert(bytesRead > 0 && bytesRead <= budget + (64 << 10),
            s"day $d fold read $bytesRead bytes; bound $budget")
        }
        ops.DedupIncr.maybeCompact(spark, prefix, wh, nBuckets = 4, maxDeltaDays = 5)
        // the VERDICT r11 #4 bound: settled-day partitions and files per
        // bucket must stay bounded as history grows (without the
        // lifecycle both grow one per day forever)
        assert(ops.DedupIncr.deltaDays(spark, prefix, wh).size <= 6,
          s"day $d: delta partitions unbounded")
        assert(ops.DedupIncr.maxFilesPerBucket(spark, prefix, wh) <= 8,
          s"day $d: files-per-bucket unbounded")
        // size-tiering keeps the epoch-run count logarithmic, not one
        // per trigger
        assert(ops.DedupIncr.epochSizes(spark, prefix, wh).size <= 3,
          s"day $d: epoch runs not tiered")
      }
      // compaction changed layout only: ledger == the full recompute
      val full = canon(SparkEntry.queries("q_dedup_minhash")(spark, sfDir))
      val after24 = canon(ops.DedupIncr.pairs(spark, prefix, wh))
      assert(after24 == full)
      // replay of the last day (a failed stream commit): byte-stable
      ops.DedupIncr.runDay(spark, slice(days - 1), prefix, wh, days - 1, nBuckets = 4)
      assert(canon(ops.DedupIncr.pairs(spark, prefix, wh)) == after24)
      // replay of a day whose rows an earlier compaction already folded
      // into the epoch: the day partition re-lands beside the epoch copy
      // and both the ledger view and the next compaction dedupe it
      ops.DedupIncr.compactState(spark, prefix, wh, nBuckets = 4)
      ops.DedupIncr.compactLedger(spark, prefix, wh)
      ops.DedupIncr.runDay(spark, slice(days - 1), prefix, wh, days - 1, nBuckets = 4)
      assert(canon(ops.DedupIncr.pairs(spark, prefix, wh)) == after24)
      ops.DedupIncr.compactState(spark, prefix, wh, nBuckets = 4)
      ops.DedupIncr.compactLedger(spark, prefix, wh)
      assert(canon(ops.DedupIncr.pairs(spark, prefix, wh)) == after24)
      assert(ops.DedupIncr.deltaDays(spark, prefix, wh).isEmpty)
      assert(ops.DedupIncr.maxFilesPerBucket(spark, prefix, wh) <= 2)
    } finally ops.DedupIncr.dropState(spark, prefix)
  }

  test("streaming inbox: drained band-store fold == batch recompute across restarts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("dedup_incr_stream_").toString
    val inbox = s"$root/inbox"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inbox))
    val docs = Tables.documents(spark, sfDir)
    def landSlice(k: Long, name: String): Unit = {
      val tmp = s"$root/tmp_$name"
      docs.filter(pmod($"doc_id", lit(4L)) === k).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inbox/$name.parquet"))
    }
    val prefix = ops.IncrState.freshPrefix("dedup_incr_s_")
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    try {
      Seq(0L, 1L, 2L).foreach(k => landSlice(k, s"day$k"))
      val v1 = streaming.DedupIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2)
      assert(v1 == 2, s"expected 3 one-file micro-batches -> day 2, got $v1")
      // day 3 lands; a RESTARTED drain with the same checkpoint folds
      // only the new slice and the cumulative ledger now equals the
      // full-corpus recompute (all 4 residues landed)
      landSlice(3L, "day3")
      val v2 = streaming.DedupIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2)
      assert(v2 == 3, s"restart should fold exactly the new slice -> day 3, got $v2")
      assert(canon(ops.DedupIncr.pairs(spark, prefix, wh)) ==
        canon(SparkEntry.queries("q_dedup_minhash")(spark, sfDir)))
      // the tight maxDeltaDays forced at least one mid-stream compaction,
      // so the equality above also covers fold-over-epoch state
      assert(ops.DedupIncr.deltaDays(spark, prefix, wh).size <= 2)
      // a drain with NOTHING new is a no-op that still reports the day
      assert(streaming.DedupIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2) == 3)
    } finally ops.DedupIncr.dropState(spark, prefix)
  }

  test("streaming CDC inbox: interleaved add/delete events == reduced-corpus recompute") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("dedup_cdc_stream_").toString
    val inbox = s"$root/inbox"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inbox))
    val docs = Tables.documents(spark, sfDir)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$root/tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inbox/$name.parquet"))
    }
    def addSlice(k: Long) = docs.filter(pmod($"doc_id", lit(4L)) === k)
      .withColumn("op", lit("add"))
    // the takedown event: doc_id only, document columns null (the
    // keyed-tombstone contract — a CDC delete carries no payload)
    val delIds = docs.filter(pmod($"doc_id", lit(11L)) === 5).select($"doc_id")
    def delSlice = delIds
      .withColumn("text", lit(null).cast("string"))
      .withColumn("lang", lit(null).cast("string"))
      .withColumn("source", lit(null).cast("string"))
      .withColumn("n_chars", lit(null).cast("long"))
      .withColumn("op", lit("del"))
      .select(streaming.DedupIncrStream.cdcSchema.fieldNames.map(col).toIndexedSeq: _*)
    val prefix = ops.IncrState.freshPrefix("dedup_cdc_s_")
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    try {
      // adds for residues 0-2, then the takedown, then residue 3 ARRIVES
      // AFTER its members were retracted — the anti-filter must hold
      land(addSlice(0), "e0_add0")
      land(addSlice(1), "e1_add1")
      land(delSlice, "e2_del")
      land(addSlice(2), "e3_add2")
      val v1 = streaming.DedupIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 3)
      assert(v1 == 3, s"expected 4 one-file micro-batches -> batch 3, got $v1")
      // restart with a new add slice: only the new event is processed
      land(addSlice(3), "e4_add3")
      val v2 = streaming.DedupIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 3)
      assert(v2 == 4, s"restart should process exactly the new event, got $v2")
      // the drained ledger == the batch recompute on the REDUCED corpus
      val delSet = delIds.collect().map(_.getLong(0)).toSet
      val pE = ops.IncrState.freshPrefix("dedup_cdc_e_")
      val whE = ops.DedupIncr.newWarehouse()
      try {
        val kept = docs.join(delIds, Seq("doc_id"), "left_anti")
        (0 until 3).foreach { day =>
          ops.DedupIncr.runDay(spark, kept.filter(pmod($"doc_id", lit(3L)) === day),
            pE, whE, day, nBuckets = 4)
        }
        assert(canon(ops.DedupIncr.pairs(spark, prefix, wh)) ==
          canon(ops.DedupIncr.pairs(spark, pE, whE)),
          "CDC drain != batch recompute on the reduced corpus")
      } finally ops.DedupIncr.dropState(spark, pE)
      // no retracted id anywhere in the ledger
      assert(canon(ops.DedupIncr.pairs(spark, prefix, wh)).forall(
        _.split('|').take(2).forall(c => !delSet.contains(c.toLong))),
        "a retracted doc_id survived the CDC drain")
    } finally ops.DedupIncr.dropState(spark, prefix)
  }

  test("ledger maintenance via row-level SQL == the parquet path (A8c ∘ L44)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // two identical warehouses: same slices folded in the same order
    // (the fold is deterministic, so the ledgers are byte-equal), then
    // one maintained by compactLedger, the other by the literal
    // MERGE INTO / DELETE FROM statements — outputs must match, with
    // and without retention, including after a day replay (the case the
    // MERGE's WHEN MATCHED collapse exists for)
    def build(prefix: String): String = {
      val wh = ops.DedupIncr.newWarehouse()
      (0 until 3).foreach { day =>
        ops.DedupIncr.runDay(spark, docs.filter(pmod($"doc_id", lit(3L)) === day),
          prefix, wh, day, nBuckets = 4)
      }
      // compact once so an EPOCH exists, then replay day 2 and fold a
      // day 3 — the maintained ledger now holds epoch + fresh copies
      ops.DedupIncr.compactLedger(spark, prefix, wh)
      ops.DedupIncr.runDay(spark, docs.filter(pmod($"doc_id", lit(3L)) === 2),
        prefix, wh, 2, nBuckets = 4)
      ops.DedupIncr.runDay(spark, docs.filter(pmod($"doc_id", lit(3L)) === 0),
        prefix, wh, 3, nBuckets = 4)
      wh
    }
    val p1 = ops.IncrState.freshPrefix("dedup_sql_a_")
    val p2 = ops.IncrState.freshPrefix("dedup_sql_b_")
    val (wh1, wh2) = (build(p1), build(p2))
    try {
      ops.DedupIncr.compactLedger(spark, p1, wh1)
      ops.DedupIncr.compactLedgerSql(spark, p2, wh2)
      val viaParquet = canon(ops.DedupIncr.pairs(spark, p1, wh1))
      val viaSql = canon(ops.DedupIncr.pairs(spark, p2, wh2))
      assert(viaParquet.nonEmpty, "maintained ledger empty — test is vacuous")
      assert(viaSql == viaParquet, "row-level SQL maintenance diverged")
      // retention: re-fold a fresh day 4 on both, retain from day 4 —
      // both paths must keep epoch pairs and the day-4 pairs only
      Seq((p1, wh1), (p2, wh2)).foreach { case (p, w) =>
        ops.DedupIncr.runDay(spark, docs.filter(pmod($"doc_id", lit(3L)) === 1),
          p, w, 4, nBuckets = 4)
      }
      ops.DedupIncr.compactLedger(spark, p1, wh1, retainFromDay = Some(4))
      ops.DedupIncr.compactLedgerSql(spark, p2, wh2, retainFromDay = Some(4))
      assert(canon(ops.DedupIncr.pairs(spark, p2, wh2)) ==
        canon(ops.DedupIncr.pairs(spark, p1, wh1)),
        "retention via DELETE FROM diverged from the parquet path")
      // the MERGE the maintenance runs rewrites to a key join, never a
      // cartesian (the MergeSqlSuite plan pin, on REAL ledger data)
      spark.conf.set("spark.sql.catalog.graft_merge",
        classOf[graft.sources.merge.MergeCatalog].getName)
      spark.sql("DROP TABLE IF EXISTS graft_merge.ledger.pairs_plan")
      spark.sql("CREATE TABLE graft_merge.ledger.pairs_plan (d1 BIGINT, d2 BIGINT, jac DOUBLE, day INT)")
      ops.DedupIncr.pairs(spark, p1, wh1).withColumn("day", lit(0))
        .createOrReplaceTempView("ledger_plan_src")
      val plan = spark.sessionState.executePlan(
        spark.sessionState.sqlParser.parsePlan("""
          MERGE INTO graft_merge.ledger.pairs_plan t
          USING ledger_plan_src f ON t.d1 = f.d1 AND t.d2 = f.d2
          WHEN MATCHED THEN UPDATE SET day = least(t.day, f.day)
          WHEN NOT MATCHED THEN INSERT (d1, d2, jac, day) VALUES (f.d1, f.d2, f.jac, f.day)"""))
        .optimizedPlan.toString
      assert(plan.contains("Join") && !plan.contains("Cartesian"),
        s"ledger merge did not rewrite to a key join:\n$plan")
      spark.sql("DROP TABLE IF EXISTS graft_merge.ledger.pairs_plan")
    } finally {
      ops.DedupIncr.dropState(spark, p1)
      ops.DedupIncr.dropState(spark, p2)
    }
  }

  test("a corpus with no near-dups yields an empty ledger, not a crash") {
    import spark.implicits._
    // pairwise-disjoint vocabularies: no shingle is shared, so exact
    // Jaccard is 0 for every pair and the verified frame is empty EVERY
    // day — the day-partitioned ledger write then emits no data files,
    // and pairs() must still read it as an empty frame (sparse corpora
    // are routine, not an error; regression for the schema-inference
    // crash the round-12 review caught)
    val docs = (0 until 6).map { i =>
      (i.toLong, (0 until 12).map(j => s"tok_${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text").cast("long"))
    val prefix = ops.IncrState.freshPrefix("dedup_incr_e_")
    val wh = ops.DedupIncr.newWarehouse()
    try {
      (0 until 2).foreach { d =>
        ops.DedupIncr.runDay(spark, docs.filter(pmod($"doc_id", lit(2L)) === d),
          prefix, wh, d, nBuckets = 4)
      }
      val ledger = ops.DedupIncr.pairs(spark, prefix, wh)
      assert(ledger.columns.toSeq == Seq("d1", "d2", "jac"))
      assert(ledger.count() == 0, "disjoint-vocab corpus produced pairs")
      // the ledger compaction path must tolerate the empty ledger too
      ops.DedupIncr.compactState(spark, prefix, wh, nBuckets = 4)
      ops.DedupIncr.compactLedger(spark, prefix, wh)
      assert(ops.DedupIncr.pairs(spark, prefix, wh).count() == 0)
    } finally ops.DedupIncr.dropState(spark, prefix)
  }

  test("retraction: tombstones + ledger rewrite + purge == recompute on reduced corpus") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // takedown set: ids only (retraction needs no text), spanning fold
    // days AND the not-yet-folded last slice (a block-list entry)
    val delIds = docs.filter(pmod($"doc_id", lit(11L)) === 5).select($"doc_id")
    assert(delIds.count() > 0, "takedown set empty — test is vacuous")
    val kept = docs.join(delIds, Seq("doc_id"), "left_anti")
    val pE = ops.IncrState.freshPrefix("dedup_del_e_")
    val pA = ops.IncrState.freshPrefix("dedup_del_a_")
    val whE = ops.DedupIncr.newWarehouse()
    val whA = ops.DedupIncr.newWarehouse()
    try {
      // expected: the fold-only path over the REDUCED corpus (the fold
      // path is oracle-proven lossless, so it stands in for the batch)
      (0 until 3).foreach { day =>
        ops.DedupIncr.runDay(spark, kept.filter(pmod($"doc_id", lit(3L)) === day),
          pE, whE, day, nBuckets = 4)
      }
      val expected = canon(ops.DedupIncr.pairs(spark, pE, whE))
      // actual: fold two FULL slices, retract, purge, then fold the
      // last FULL slice (its tombstoned members must be blocked by the
      // candidate anti-filter, not by input curation)
      (0 until 2).foreach { day =>
        ops.DedupIncr.runDay(spark, docs.filter(pmod($"doc_id", lit(3L)) === day),
          pA, whA, day, nBuckets = 4)
      }
      val before = canon(ops.DedupIncr.pairs(spark, pA, whA))
      ops.DedupIncr.deleteDay(spark, delIds, pA, whA, 3, nBuckets = 4)
      ops.DedupIncr.purgeDeleted(spark, pA, whA, nBuckets = 4)
      // the purge is PHYSICAL: no tombstoned row survives in either
      // state table, and the surviving state is intact (the purge is a
      // filtered compaction, not a truncation)
      val delSet = delIds.collect().map(_.getLong(0)).toSet
      Seq(s"${pA}_docs", s"${pA}_bands").foreach { t =>
        assert(spark.table(t).filter($"doc_id".isin(delSet.toSeq.map(Long.box): _*))
          .count() == 0, s"$t still holds tombstoned rows after purge")
        assert(spark.table(t).count() > 0, s"$t was emptied by the purge")
      }
      ops.DedupIncr.runDay(spark, docs.filter(pmod($"doc_id", lit(3L)) === 2),
        pA, whA, 4, nBuckets = 4)
      def rep() = canon(ops.DedupIncr.pairs(spark, pA, whA))
      assert(rep() == expected, "retraction path != batch on reduced corpus")
      assert(before.exists(r => r.split('|').take(2).exists(c => delSet.contains(c.toLong))),
        "no pre-delete pair touched the takedown set — test is vacuous")
      // replay of the delete day: idempotent (tombstones rewrite their
      // own partition; the ledger rewrite converges)
      ops.DedupIncr.deleteDay(spark, delIds, pA, whA, 3, nBuckets = 4)
      assert(rep() == expected, "delete replay not idempotent")
      // compaction (which now includes the tombstone table) is safe
      ops.DedupIncr.compactState(spark, pA, whA, nBuckets = 4)
      assert(rep() == expected, "compaction corrupted retraction state")
    } finally {
      ops.DedupIncr.dropState(spark, pE)
      ops.DedupIncr.dropState(spark, pA)
    }
  }

  test("retraction reads the delete ids + ledger, never the band/doc state or raw history") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("dedup_del_bytes_").toString
    (0 to 1).foreach { k =>
      docs.filter(pmod($"doc_id", lit(2L)) === k)
        .write.mode("overwrite").parquet(s"$root/slice$k")
    }
    docs.filter(pmod($"doc_id", lit(11L)) === 5).select($"doc_id")
      .write.mode("overwrite").parquet(s"$root/del")
    val prefix = ops.IncrState.freshPrefix("dedup_del_b_")
    val wh = s"$root/wh"
    try {
      ops.DedupIncr.runDayPath(spark, s"$root/slice0", prefix, wh, 0)
      ops.DedupIncr.runDayPath(spark, s"$root/slice1", prefix, wh, 1)
      // the functional proof: raw fold slices deleted BEFORE the
      // retraction — any lazy re-read would throw FileNotFound
      Seq("slice0", "slice1").foreach(d => deleteTree(s"$root/$d"))
      // declared reads: the delete ids (once staged in, once read back
      // from the tombstone table), the ledger (read for the filter, its
      // staged copy read back for the swap) — NEVER the band/doc state
      // (the anti-filter consumes tombstones at the NEXT fold, not here)
      val inputBudget = 2L * dirBytes(s"$root/del") + 2L * dirBytes(s"$wh/pairs")
      val read = Recorder.during(spark) {
        ops.DedupIncr.deleteDayPath(spark, s"$root/del", prefix, wh, 2)
      }.inputBytes
      assert(read > 0, "listener saw no input")
      assert(read <= inputBudget + (256 << 10),
        s"retraction read $read bytes; bound $inputBudget — it touched state it must not")
    } finally ops.DedupIncr.dropState(spark, prefix)
  }

  test("candidate join: band-store side is exchange-free (bucketed scan)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("dedup_incr_p_")
    val wh = ops.DedupIncr.newWarehouse()
    try {
      ops.DedupIncr.runDay(spark,
        docs.filter(pmod($"doc_id", lit(2L)) === 0), prefix, wh, 0)
      // a representative day-1 candidate join against the store — the
      // REAL band builder (private[graft]), in the 100 TB regime where
      // the fresh side is NOT broadcast-sized (at sf0.001 the planner
      // would otherwise broadcast it and skip the bucketed scan, which
      // is also exchange-free on the store side but not the plan shape
      // this test pins)
      val fresh = docs.filter(pmod($"doc_id", lit(2L)) === 1)
      val freshBands = ops.Dedup.minhashBands(
        ops.Dedup.withShingles(fresh).select($"doc_id", explode($"shs").as("sh")),
        "doc_id", "sh")
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val store = spark.table(s"${prefix}_bands")
        val joined = store.as("h")
          .join(freshBands.as("f"), $"f.band" === $"h.band" && $"f.doc_id" =!= $"h.doc_id")
        val plan = joined.queryExecution.executedPlan.toString
        val lines = plan.linesIterator.toSeq
        val joinIdx = lines.indexWhere(l =>
          l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
        val scanIdx = lines.indexWhere(_.contains("Bucketed: true"))
        assert(joinIdx >= 0 && scanIdx > joinIdx,
          s"candidate join lost its bucketed store scan:\n$plan")
        assert(!lines.slice(joinIdx + 1, scanIdx).exists(_.contains("Exchange")),
          s"band-store side re-shuffled:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    } finally ops.DedupIncr.dropState(spark, prefix)
  }
}
