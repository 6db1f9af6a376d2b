package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental ANN index (q_ann_incr): the daily code/vector-store fold
  * must be lossless (any slicing == the full-corpus LSH recompute,
  * q_ann_lsh), must read only the day's slice + its own fresh partition
  * (history never re-read — deleted-slice proof + input-bytes bound),
  * and the query path's state sides must be exchange-free under the
  * bucketed stores. */
class AnnIncrSuite extends SparkSpec {

  test("incremental 3-day == full recompute (q_ann_lsh) == 5-day == 1-day") {
    val full = canon(SparkEntry.queries("q_ann_lsh")(spark, sfDir))
    assert(full.nonEmpty, "test corpus yields no ANN results — suite is vacuous")
    assert(canon(ops.AnnIncr.incremental(spark, sfDir, 3)) == full)
    assert(canon(ops.AnnIncr.incremental(spark, sfDir, 5)) == full)
    // a single-day fold is the degenerate one-shot case
    assert(canon(ops.AnnIncr.incremental(spark, sfDir, 1)) == full)
  }

  test("day-2 fold reads only the day-2 slice + its fresh partition (input-bytes bound)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("ann_incr_bytes_").toString
    (0 to 2).foreach { k =>
      emb.filter(pmod($"vec_id", lit(3L)) === k)
        .write.mode("overwrite").parquet(s"$root/slice$k")
    }
    val prefix = ops.IncrState.freshPrefix("ann_incr_t_")
    val wh = s"$root/wh"
    try {
      ops.AnnIncr.runDayPath(spark, s"$root/slice0", prefix, wh, 0)
      ops.AnnIncr.runDayPath(spark, s"$root/slice1", prefix, wh, 1)

      // THE contract proof, functional and scale-independent: delete the
      // raw day-0/1 slices before the day-2 fold — if any part of the
      // fold lazily re-read raw history it would throw FileNotFound.
      Seq("slice0", "slice1").foreach(d => deleteTree(s"$root/$d"))

      // the fold's declared reads: its own slice ONCE (vector scaling)
      // plus the fresh vecs partition it just wrote (the code build) —
      // unlike the L44 fold there is no candidate join at fold time, so
      // the budget is slice-shaped with one state pass of footer slack
      val inputBudget = 2L * dirBytes(s"$root/slice2") + dirBytes(wh)
      val read = Recorder.during(spark) {
        ops.AnnIncr.runDayPath(spark, s"$root/slice2", prefix, wh, 2)
      }.inputBytes
      assert(read > 0, "listener saw no input")
      assert(read <= inputBudget + (64 << 10),
        s"day-2 fold read $read bytes; bound $inputBudget")
      // and the folded index serves the full-corpus answer
      assert(canon(ops.AnnIncr.topK(spark, prefix, wh,
        ops.AnnIncr.storeQueries(spark, prefix), 3)) ==
        canon(SparkEntry.queries("q_ann_lsh")(spark, sfDir)))
    } finally ops.AnnIncr.dropState(spark, prefix)
  }

  test("lifecycle: 12 daily folds stay file-bounded; compaction + replay preserve serving") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val days = 12
    val prefix = ops.IncrState.freshPrefix("ann_incr_l_")
    val wh = ops.IncrState.newWarehouse()
    def slice(d: Int) = emb.filter(pmod($"vec_id", lit(days.toLong)) === d)
    val sliceRoot = java.nio.file.Files.createTempDirectory("ann_incr_l_sl_").toString
    try {
      (0 until days).foreach { d =>
        if (d < days - 1) {
          ops.AnnIncr.runDay(spark, slice(d), prefix, wh, d, nBuckets = 4)
        } else {
          // day-growth rung (the DedupIncr day-23 pattern): after 11
          // folds of history the LAST day's fold must still read only
          // its own slice + the fresh partition it writes — per-day cost
          // is flat in the NUMBER of days, only state size grows
          slice(d).write.mode("overwrite").parquet(s"$sliceRoot/slice$d")
          val budget = 2L * dirBytes(s"$sliceRoot/slice$d") + dirBytes(wh)
          val bytesRead = Recorder.during(spark) {
            ops.AnnIncr.runDayPath(spark, s"$sliceRoot/slice$d", prefix, wh, d, nBuckets = 4)
          }.inputBytes
          assert(bytesRead > 0 && bytesRead <= budget + (64 << 10),
            s"day $d fold read $bytesRead bytes; bound $budget")
        }
        ops.AnnIncr.maybeCompact(spark, prefix, wh, nBuckets = 4, maxDeltaDays = 5)
        assert(ops.AnnIncr.deltaDays(spark, prefix, wh).size <= 6,
          s"day $d: delta partitions unbounded")
        assert(ops.AnnIncr.maxFilesPerBucket(spark, prefix, wh) <= 8,
          s"day $d: files-per-bucket unbounded")
        assert(ops.AnnIncr.epochSizes(spark, prefix, wh).size <= 3,
          s"day $d: epoch runs not tiered")
      }
      val full = canon(SparkEntry.queries("q_ann_lsh")(spark, sfDir))
      def serve() = canon(ops.AnnIncr.topK(spark, prefix, wh,
        ops.AnnIncr.storeQueries(spark, prefix), 3))
      assert(serve() == full)
      // replay of the last day (a failed stream commit): byte-stable
      ops.AnnIncr.runDay(spark, slice(days - 1), prefix, wh, days - 1, nBuckets = 4)
      assert(serve() == full)
      // replay of a day an earlier compaction already folded into the
      // epoch: the day partition re-lands beside the epoch copy; the
      // next compaction's natural-key dedup collapses it
      ops.AnnIncr.compactState(spark, prefix, wh, nBuckets = 4)
      ops.AnnIncr.runDay(spark, slice(days - 1), prefix, wh, days - 1, nBuckets = 4)
      ops.AnnIncr.compactState(spark, prefix, wh, nBuckets = 4)
      assert(serve() == full)
      assert(ops.AnnIncr.deltaDays(spark, prefix, wh).isEmpty)
      assert(ops.AnnIncr.maxFilesPerBucket(spark, prefix, wh) <= 2)
      // an EMPTY day (a daily run with no new vectors — routine in
      // production) must be a harmless no-op: state rows unchanged,
      // serving unchanged
      ops.AnnIncr.runDay(spark, emb.filter(lit(false)), prefix, wh, days, nBuckets = 4)
      assert(serve() == full)
    } finally ops.AnnIncr.dropState(spark, prefix)
  }

  test("streaming inbox: drained index fold == batch recompute across restarts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ann_incr_stream_").toString
    val inbox = s"$root/inbox"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inbox))
    val emb = Tables.embeddings(spark, sfDir)
    def landSlice(k: Long, name: String): Unit = {
      val tmp = s"$root/tmp_$name"
      emb.filter(pmod($"vec_id", lit(4L)) === k).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inbox/$name.parquet"))
    }
    val prefix = ops.IncrState.freshPrefix("ann_incr_s_")
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    try {
      Seq(0L, 1L, 2L).foreach(k => landSlice(k, s"day$k"))
      val v1 = streaming.AnnIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2)
      assert(v1 == 2, s"expected 3 one-file micro-batches -> day 2, got $v1")
      // day 3 lands; a RESTARTED drain with the same checkpoint folds
      // only the new slice, after which the index serves the full-corpus
      // answer (all 4 residues landed; the tight maxDeltaDays forced at
      // least one mid-stream compaction, so this also covers
      // serve-over-epoch state)
      landSlice(3L, "day3")
      val v2 = streaming.AnnIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2)
      assert(v2 == 3, s"restart should fold exactly the new slice -> day 3, got $v2")
      assert(canon(ops.AnnIncr.topK(spark, prefix, wh,
        ops.AnnIncr.storeQueries(spark, prefix), 3)) ==
        canon(SparkEntry.queries("q_ann_lsh")(spark, sfDir)))
      assert(ops.AnnIncr.deltaDays(spark, prefix, wh).size <= 2)
      // a drain with NOTHING new is a no-op that still reports the day
      assert(streaming.AnnIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2) == 3)
    } finally ops.AnnIncr.dropState(spark, prefix)
  }

  test("LSH config: fold-time (tables, bits) persists in the warehouse and governs serving") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("ann_incr_c_")
    val wh = ops.IncrState.newWarehouse()
    try {
      // fold at a non-default width (the 100 TB deployment move: bits
      // grows ~log2 N to hold candidates/query); then UNSET the conf —
      // serving must still probe at the persisted fold-time config, not
      // the session default (a drift would zero recall silently)
      spark.conf.set("spark.graft.ann.bits", "6")
      try ops.AnnIncr.runDay(spark, emb, prefix, wh, 0, nBuckets = 4)
      finally spark.conf.unset("spark.graft.ann.bits")
      assert(ops.AnnIncr.annConf(spark, prefix, wh) == (4, 6))
      val served = canon(ops.AnnIncr.topK(spark, prefix, wh,
        ops.AnnIncr.storeQueries(spark, prefix), 3))
      assert(served.nonEmpty, "bits=6 serving returned nothing at test scale")
      // identical to serving with the conf re-set (config comes from the
      // warehouse either way) and every result is a true vector pair
      spark.conf.set("spark.graft.ann.bits", "6")
      try assert(canon(ops.AnnIncr.topK(spark, prefix, wh,
        ops.AnnIncr.storeQueries(spark, prefix), 3)) == served)
      finally spark.conf.unset("spark.graft.ann.bits")
      // a mid-history session-conf change must NOT split the index: the
      // next fold codes at the persisted config
      spark.conf.set("spark.graft.ann.bits", "3")
      try ops.AnnIncr.runDay(spark, emb.limit(0), prefix, wh, 1, nBuckets = 4)
      finally spark.conf.unset("spark.graft.ann.bits")
      assert(ops.AnnIncr.annConf(spark, prefix, wh) == (4, 6),
        "fold-time config drifted with the session conf")
    } finally ops.AnnIncr.dropState(spark, prefix)
  }

  test("restart: fold and serving re-register surviving state after the catalog dies") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("ann_incr_r_")
    val wh = ops.IncrState.newWarehouse()
    try {
      (0 to 1).foreach(d => ops.AnnIncr.runDay(spark,
        emb.filter(pmod($"vec_id", lit(3L)) === d), prefix, wh, d, nBuckets = 4))
      // simulate a JVM restart: the in-memory catalog entries are gone,
      // the warehouse dirs and markers survive
      Seq(s"${prefix}_codes", s"${prefix}_vecs").foreach(t =>
        spark.sql(s"DROP TABLE $t"))
      // the day-2 fold must re-register from disk and keep going
      ops.AnnIncr.runDay(spark,
        emb.filter(pmod($"vec_id", lit(3L)) === 2), prefix, wh, 2, nBuckets = 4)
      // and after a second "restart", the serving path must too
      Seq(s"${prefix}_codes", s"${prefix}_vecs").foreach(t =>
        spark.sql(s"DROP TABLE $t"))
      assert(canon(ops.AnnIncr.topK(spark, prefix, wh,
        ops.AnnIncr.storeQueries(spark, prefix, wh), 3)) ==
        canon(SparkEntry.queries("q_ann_lsh")(spark, sfDir)))
      // the re-registered store kept its bucketed layout AT THE WRITTEN
      // COUNT (the serving exchange-free contract survives a restart,
      // not just the data — a drifted bucket spec would colocate rows
      // wrongly and silently corrupt the joins)
      val ddl = spark.sql(s"DESCRIBE FORMATTED ${prefix}_codes")
        .collect().map(r => s"${r.get(0)}=${r.get(1)}").mkString("\n")
      assert(ddl.contains("Num Buckets=4") && ddl.contains("Bucket Columns=[`bkt`]"),
        s"re-registered table lost its bucket spec:\n$ddl")
    } finally ops.AnnIncr.dropState(spark, prefix)
  }

  test("width self-scales with the corpus: derivation, boundary migration, recovery") {
    import spark.implicits._
    // deterministic synthetic 64-dim corpus (integer arithmetic only),
    // sized to cross the 4→5 width boundary at N = 200·2^4 = 3,200
    def synth(n: Int): DataFrame =
      spark.range(1, n + 1L).select($"id".as("vec_id"),
        expr("transform(sequence(1, 64), j -> " +
          "cast((pmod(id * 31 + j * 17, 1001) - 500) / 250.0 as float))").as("embedding"))
    assert(ops.AnnIncr.derivedBits(2000) == 4 && ops.AnnIncr.derivedBits(6000) == 5 &&
      ops.AnnIncr.derivedBits(50000) == 8, // the r12 probe's proven zero-spill ×25 width
      "derivation drifted from the documented policy")
    // ORACLE COUPLING GUARD: q_ann_incr's DuckDB oracle is q_ann_lsh's
    // SQL, which codes at the FIXED 4-bit config — valid only while the
    // derivation floors to 4 at every driver corpus (N ≤ 200·2^4). If a
    // testdata regen ever grows embeddings past that, this fails HERE
    // with a diagnosis instead of as a silent oracle hash mismatch.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .foreach { d =>
        val n = Tables.embeddings(spark, d).count()
        assert(ops.AnnIncr.derivedBits(n) == 4,
          s"$d has $n vectors -> derived bits ${ops.AnnIncr.derivedBits(n)} != 4: " +
            "the q_ann_incr oracle (fixed 4-bit q_ann_lsh SQL) no longer matches " +
            "the derived fold config — widen the oracle or re-slice the corpus")
      }
    def mk() = (ops.IncrState.freshPrefix("ann_incr_w_"), ops.IncrState.newWarehouse())
    val (prefix, wh) = mk(); val (p2, wh2) = mk(); val (p3, wh3) = mk()
    def serve(p: String, w: String) = canon(ops.AnnIncr.topK(spark, p, w,
      ops.AnnIncr.storeQueries(spark, p), 3))
    try {
      // day 0: 2,000 vectors → derived 4 (the oracle floor config)
      ops.AnnIncr.runDay(spark, synth(2000), prefix, wh, 0, nBuckets = 4)
      assert(ops.AnnIncr.annConf(spark, prefix, wh) == (4, 4))
      // day 1: +4,000 → corpus 6,000 → derived 5 → the fold must migrate
      ops.AnnIncr.runDay(spark, synth(6000).filter($"vec_id" > 2000),
        prefix, wh, 1, nBuckets = 4)
      assert(ops.AnnIncr.annConf(spark, prefix, wh) == (4, 5),
        "fold did not widen with the corpus")
      // the code store collapsed to one re-code epoch (vec days intact)
      assert(ops.IncrState.deltaDays(spark, s"${prefix}_codes", wh).isEmpty,
        "stale-width code partitions survived the migration")
      assert(ops.IncrState.deltaDays(spark, s"${prefix}_vecs", wh) == Seq(0, 1))
      // serving parity with a from-scratch rebuild of the same corpus
      // (codes are pure functions of the vectors at the built width)
      ops.AnnIncr.runDay(spark, synth(6000), p2, wh2, 0, nBuckets = 4)
      assert(ops.AnnIncr.annConf(spark, p2, wh2) == (4, 5))
      val migrated = serve(prefix, wh)
      assert(migrated.nonEmpty)
      assert(migrated == serve(p2, wh2),
        "migrated index diverged from a from-scratch rebuild")
      // replay of the boundary day after the migration: byte-stable
      ops.AnnIncr.runDay(spark, synth(6000).filter($"vec_id" > 2000),
        prefix, wh, 1, nBuckets = 4)
      assert(serve(prefix, wh) == migrated)
      // compaction across the migrated layout stays sound
      ops.AnnIncr.compactState(spark, prefix, wh, nBuckets = 4)
      assert(serve(prefix, wh) == migrated)
      // crash recovery: a dangling _recode_pending (crash anywhere inside
      // a re-code) reruns to completion on the next fold, and the result
      // matches a fresh build at the pending width
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$wh/${ops.AnnIncr.recodeMarker(prefix)}"), "6".getBytes("UTF-8"))
      ops.AnnIncr.runDay(spark, synth(6000).limit(0), prefix, wh, 2, nBuckets = 4)
      assert(ops.AnnIncr.annConf(spark, prefix, wh) == (4, 6),
        "pending re-code was not recovered")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$wh/${ops.AnnIncr.recodeMarker(prefix)}")))
      spark.conf.set("spark.graft.ann.bits", "6")
      try ops.AnnIncr.runDay(spark, synth(6000), p3, wh3, 0, nBuckets = 4)
      finally spark.conf.unset("spark.graft.ann.bits")
      assert(serve(prefix, wh) == serve(p3, wh3),
        "recovered re-code diverged from a fresh width-6 build")
    } finally Seq(prefix, p2, p3).foreach(ops.AnnIncr.dropState(spark, _))
  }

  test("retraction: tombstones + purge == recompute on reduced corpus; replay safe") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    // takedown set spanning folded days AND the not-yet-folded last
    // slice (block-list semantics); includes %50 members so the QUERY
    // set shrinks too, not just the answer sets
    val delIds = emb.filter(pmod($"vec_id", lit(11L)) === 0).select($"vec_id")
    assert(delIds.count() > 0, "takedown set empty — test is vacuous")
    assert(delIds.filter($"vec_id" % 50 === 0).count() > 0,
      "takedown set misses the query residue — query-set shrink unexercised")
    val kept = emb.join(delIds, Seq("vec_id"), "left_anti")
    val pE = ops.IncrState.freshPrefix("ann_del_e_")
    val pA = ops.IncrState.freshPrefix("ann_del_a_")
    val whE = ops.IncrState.newWarehouse()
    val whA = ops.IncrState.newWarehouse()
    try {
      // expected: the fold-only path over the REDUCED corpus
      (0 until 3).foreach { day =>
        ops.AnnIncr.runDay(spark, kept.filter(pmod($"vec_id", lit(3L)) === day),
          pE, whE, day, nBuckets = 4)
      }
      val expected = canon(ops.AnnIncr.topK(spark, pE, whE,
        ops.AnnIncr.storeQueries(spark, pE), 3))
      // actual: fold two FULL slices, retract, purge, fold the last
      // FULL slice (its tombstoned members must stay invisible)
      (0 until 2).foreach { day =>
        ops.AnnIncr.runDay(spark, emb.filter(pmod($"vec_id", lit(3L)) === day),
          pA, whA, day, nBuckets = 4)
      }
      val before = canon(ops.AnnIncr.topK(spark, pA, whA,
        ops.AnnIncr.storeQueries(spark, pA), 3))
      ops.AnnIncr.deleteDay(spark, delIds, pA, whA, 3, nBuckets = 4)
      ops.AnnIncr.purgeDeleted(spark, pA, whA, nBuckets = 4)
      // the purge is PHYSICAL in both stores, and surviving state intact
      val delSet = delIds.collect().map(_.getLong(0)).toSet
      Seq(s"${pA}_vecs", s"${pA}_codes").foreach { t =>
        assert(spark.table(t).filter($"vec_id".isin(delSet.toSeq.map(Long.box): _*))
          .count() == 0, s"$t still holds tombstoned rows after purge")
        assert(spark.table(t).count() > 0, s"$t was emptied by the purge")
      }
      ops.AnnIncr.runDay(spark, emb.filter(pmod($"vec_id", lit(3L)) === 2),
        pA, whA, 4, nBuckets = 4)
      def rep() = canon(ops.AnnIncr.topK(spark, pA, whA,
        ops.AnnIncr.storeQueries(spark, pA), 3))
      assert(rep() == expected, "retraction path != batch on reduced corpus")
      assert(before != expected, "delete changed nothing — test is vacuous")
      // no tombstoned id may appear as a query or an answer
      assert(rep().forall(_.split('|') match {
        case Array(q, _, c, _) => !delSet.contains(q.toLong) && !delSet.contains(c.toLong)
        case _ => false
      }), "a retracted vec_id survived in serving output")
      // replay of the delete day: idempotent
      ops.AnnIncr.deleteDay(spark, delIds, pA, whA, 3, nBuckets = 4)
      assert(rep() == expected, "delete replay not idempotent")
      // compaction (tomb table included in the group) is safe
      ops.AnnIncr.compactState(spark, pA, whA, nBuckets = 4)
      assert(rep() == expected, "compaction corrupted retraction state")
    } finally {
      ops.AnnIncr.dropState(spark, pE)
      ops.AnnIncr.dropState(spark, pA)
    }
  }

  test("query path: code and vector stores are exchange-free (bucketed scans)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("ann_incr_p_")
    val wh = ops.IncrState.newWarehouse()
    // store side LEFT (prints directly under the join), probe/cand side
    // right — the DedupIncrSuite pin shape: the first Exchange-free span
    // between the join line and the bucketed scan is the claim
    def pinStoreLeft(df: DataFrame, what: String): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      val joinIdx = lines.indexWhere(l =>
        l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
      val scanIdx = lines.indexWhere(_.contains("Bucketed: true"))
      assert(joinIdx >= 0 && scanIdx > joinIdx,
        s"$what lost its bucketed store scan:\n$plan")
      assert(!lines.slice(joinIdx + 1, scanIdx).exists(_.contains("Exchange")),
        s"$what state side re-shuffled:\n$plan")
    }
    try {
      ops.AnnIncr.runDay(spark, emb, prefix, wh, 0)
      val queries = ops.AnnIncr.storeQueries(spark, prefix)
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        // candidate join: code store bucket-aligned against the probes
        pinStoreLeft(ops.AnnIncr.codeStore(spark, prefix)
          .join(ops.AnnIncr.probesOf(queries), "bkt"), "candidate join")
        // rerank join: vector store bucket-aligned against the pairs
        val cand = ops.AnnIncr.probesOf(queries)
          .join(ops.AnnIncr.codeStore(spark, prefix).select($"bkt", $"vec_id".as("c_id")), "bkt")
          .select($"q_id", $"c_id").distinct()
        pinStoreLeft(ops.AnnIncr.vecStore(spark, prefix)
          .select($"vec_id".as("c_id"), $"v".as("cv"), $"n2".as("cn"))
          .join(cand, "c_id"), "rerank join")
        // and the whole serving plan shuffles only candidate-sized rows:
        // probes→bkt, the pair distinct, the cand-side rerank
        // repartition, and the post-prune window exchange — never a
        // state table. Round 16 re-shape: the queries join BROADCASTS
        // (its fat q_id exchange — cand rows carrying the 64-long cv
        // payloads — is gone), and the window pays its own exchange
        // over the PRUNED scored stream (~40 B/row) instead of
        // inheriting the fat one. One more Exchange node than before,
        // strictly fewer candidate bytes on the wire; the broadcast
        // hint must hold even with the threshold disabled (it does —
        // hints override the conf), so the count stays ≤5 with a
        // BroadcastExchange present.
        val fullPlan = ops.AnnIncr.topK(spark, prefix, wh, queries, 3)
          .queryExecution.executedPlan.toString
        val nExch = fullPlan.linesIterator.count(l =>
          l.contains("Exchange") && !l.contains("BroadcastExchange"))
        assert(nExch <= 4, s"serving plan grew a state-side shuffle ($nExch non-broadcast exchanges):\n$fullPlan")
        assert(fullPlan.contains("BroadcastExchange"),
          s"small query set must broadcast into the rerank:\n$fullPlan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    } finally ops.AnnIncr.dropState(spark, prefix)
  }

  test("_vec_counts marker survives delete-day replay AFTER compaction (ADVICE r15)") {
    // the r15 corner: deleteDay(N) completes, compaction folds day N's
    // tombstones into the epoch, day N is replayed — the old netting
    // anti-joined fresh ids against physical-day != N, saw its own ids
    // in the epoch, and overwrote the marker entry with 0, inflating
    // the corpus-size estimate the self-sizing LSH width feeds on. The
    // src_day provenance column makes the recount arrival-scoped
    // (strictly-earlier arrivals only), so replay recomputes the SAME
    // entry before or after any compaction.
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val p = ops.IncrState.freshPrefix("ann_mrk_")
    val wh = ops.IncrState.newWarehouse()
    try {
      (0 until 2).foreach { day =>
        ops.AnnIncr.runDay(spark, emb.filter(pmod($"vec_id", lit(2L)) === day),
          p, wh, day, nBuckets = 4)
      }
      val delIds = emb.filter(pmod($"vec_id", lit(11L)) === 0).select($"vec_id")
      val nDel = delIds.count()
      assert(nDel > 0, "takedown set empty — test is vacuous")
      def marker = ops.IncrState.readDayCounts(spark, wh, s"_vec_counts.$p")
      ops.AnnIncr.deleteDay(spark, delIds, p, wh, 2, nBuckets = 4)
      assert(marker(2) == -nDel, s"first delete-day count wrong: ${marker(2)}")
      val liveEstimate = marker.values.sum
      // compaction folds the day-2 tombstones into the epoch, then the
      // day is replayed — the exact ADVICE r15 interleaving
      ops.AnnIncr.compactState(spark, p, wh, nBuckets = 4)
      ops.AnnIncr.deleteDay(spark, delIds, p, wh, 2, nBuckets = 4)
      assert(marker(2) == -nDel,
        s"replayed delete day overwrote its marker entry: ${marker(2)} != ${-nDel}")
      assert(marker.values.sum == liveEstimate, "corpus estimate drifted on replay")
      // re-tombstoning the same ids under a LATER day nets 0 (nothing
      // newly deleted), and stays 0 through another compact + replay
      ops.AnnIncr.deleteDay(spark, delIds, p, wh, 3, nBuckets = 4)
      assert(marker(3) == 0, s"re-tombstone double-counted: ${marker(3)}")
      ops.AnnIncr.compactState(spark, p, wh, nBuckets = 4)
      ops.AnnIncr.deleteDay(spark, delIds, p, wh, 3, nBuckets = 4)
      assert(marker(3) == 0 && marker(2) == -nDel,
        s"post-compaction replay skewed the marker: ${marker.toSeq.sorted}")
      assert(marker.values.sum == liveEstimate, "corpus estimate drifted")
    } finally ops.AnnIncr.dropState(spark, p)
  }
}
