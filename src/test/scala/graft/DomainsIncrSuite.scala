package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental domain statistics (q_domains_incr): the daily fold must
  * be lossless (any slicing == the full-corpus recompute,
  * q_url_domains), must read only the day's slice (history never
  * re-scanned — deleted-slice proof + input-bytes bound), and the
  * report's state sides must be exchange-free under the `domain`
  * bucketing (the only shuffle is the presentation sort). */
class DomainsIncrSuite extends SparkSpec {

  test("incremental 3-day == full recompute (q_url_domains) == 5-day == 1-day") {
    val full = canon(SparkEntry.queries("q_url_domains")(spark, sfDir))
    assert(full.nonEmpty, "test corpus yields no domain rows — suite is vacuous")
    assert(canon(ops.DomainsIncr.incremental(spark, sfDir, 3)) == full)
    assert(canon(ops.DomainsIncr.incremental(spark, sfDir, 5)) == full)
    assert(canon(ops.DomainsIncr.incremental(spark, sfDir, 1)) == full)
  }

  test("day-2 fold reads only the day-2 slice (input-bytes bound)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("domains_incr_bytes_").toString
    (0 to 2).foreach { k =>
      docs.filter(pmod($"doc_id", lit(3L)) === k)
        .write.mode("overwrite").parquet(s"$root/slice$k")
    }
    val prefix = ops.IncrState.freshPrefix("domains_incr_t_")
    val wh = s"$root/wh"
    try {
      ops.DomainsIncr.runDayPath(spark, s"$root/slice0", prefix, wh, 0)
      ops.DomainsIncr.runDayPath(spark, s"$root/slice1", prefix, wh, 1)

      // the contract proof, functional and scale-independent: delete the
      // raw day-0/1 slices before the day-2 fold — any lazy re-read of
      // raw history would throw FileNotFound
      Seq("slice0", "slice1").foreach(d => deleteTree(s"$root/$d"))

      // declared reads: the slice once (the one aggregate) — never days
      // 0/1, never the state (the fold is join-free); the warehouse term
      // covers metadata-only footer touches
      val inputBudget = dirBytes(s"$root/slice2") + dirBytes(wh)
      val read = Recorder.during(spark) {
        ops.DomainsIncr.runDayPath(spark, s"$root/slice2", prefix, wh, 2)
      }.inputBytes
      assert(read > 0, "listener saw no input")
      assert(read <= inputBudget + (64 << 10),
        s"day-2 fold read $read bytes; bound $inputBudget")
      // and the folded state reports the full-corpus answer
      assert(canon(ops.DomainsIncr.report(spark, prefix, wh)) ==
        canon(SparkEntry.queries("q_url_domains")(spark, sfDir)))
    } finally ops.DomainsIncr.dropState(spark, prefix)
  }

  test("lifecycle: compaction + replay preserve the report; restart re-registers") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val days = 9
    val prefix = ops.IncrState.freshPrefix("domains_incr_l_")
    val wh = ops.IncrState.newWarehouse()
    def slice(d: Int) = docs.filter(pmod($"doc_id", lit(days.toLong)) === d)
    try {
      (0 until days).foreach { d =>
        ops.DomainsIncr.runDay(spark, slice(d), prefix, wh, d, nBuckets = 4)
        ops.DomainsIncr.maybeCompact(spark, prefix, wh, nBuckets = 4, maxDeltaDays = 4)
        assert(ops.DomainsIncr.deltaDays(spark, prefix, wh).size <= 5,
          s"day $d: delta partitions unbounded")
        assert(ops.DomainsIncr.maxFilesPerBucket(spark, prefix, wh) <= 8,
          s"day $d: files-per-bucket unbounded")
      }
      val full = canon(SparkEntry.queries("q_url_domains")(spark, sfDir))
      def rep() = canon(ops.DomainsIncr.report(spark, prefix, wh))
      assert(rep() == full)
      // replay of the last day (a failed stream commit): byte-stable
      ops.DomainsIncr.runDay(spark, slice(days - 1), prefix, wh, days - 1, nBuckets = 4)
      assert(rep() == full)
      // replay of a day an earlier compaction already folded into the
      // epoch: the re-landed copies collapse on the natural key
      // (domain, lang, src_day) — src_day provenance keeps ADDITIVE
      // partials from distinct days apart while deduping replay copies
      ops.DomainsIncr.compactState(spark, prefix, wh, nBuckets = 4)
      ops.DomainsIncr.runDay(spark, slice(days - 1), prefix, wh, days - 1, nBuckets = 4)
      assert(rep() == full)
      ops.DomainsIncr.compactState(spark, prefix, wh, nBuckets = 4)
      assert(rep() == full)
      assert(ops.DomainsIncr.deltaDays(spark, prefix, wh).isEmpty)
      // an empty day is a harmless no-op (the partial is an empty frame)
      ops.DomainsIncr.runDay(spark, docs.filter(lit(false)), prefix, wh, days, nBuckets = 4)
      assert(rep() == full)
      // restart: the in-memory catalog dies, the warehouse survives —
      // the report path must re-register from disk
      spark.sql(s"DROP TABLE ${prefix}_dl")
      assert(rep() == full)
    } finally ops.DomainsIncr.dropState(spark, prefix)
  }

  test("streaming inbox: drained statistics fold == batch recompute across restarts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("domains_incr_stream_").toString
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
    val prefix = ops.IncrState.freshPrefix("domains_incr_s_")
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    try {
      Seq(0L, 1L, 2L).foreach(k => landSlice(k, s"day$k"))
      val v1 = streaming.DomainsIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2)
      assert(v1 == 2, s"expected 3 one-file micro-batches -> day 2, got $v1")
      // day 3 lands; a RESTARTED drain with the same checkpoint folds
      // only the new slice, after which the report equals the batch
      // recompute (all 4 residues landed; the tight maxDeltaDays forced
      // at least one mid-stream compaction, so this also covers
      // report-over-epoch state)
      landSlice(3L, "day3")
      val v2 = streaming.DomainsIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2)
      assert(v2 == 3, s"restart should fold exactly the new slice -> day 3, got $v2")
      assert(canon(ops.DomainsIncr.report(spark, prefix, wh)) ==
        canon(SparkEntry.queries("q_url_domains")(spark, sfDir)))
      assert(ops.DomainsIncr.deltaDays(spark, prefix, wh).size <= 2)
      // a drain with NOTHING new is a no-op that still reports the day
      assert(streaming.DomainsIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2) == 3)
    } finally ops.DomainsIncr.dropState(spark, prefix)
  }

  test("retraction: fold+delete == fold of reduced corpus; replay + compaction safe") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // takedown set: EVERY doc of one (domain, lang) group plus a scatter
    // across all days — pins the count shrink, the language-spread
    // shrink (the whole point of netting signed partials per
    // (domain, lang) before counting langs), and cross-day deletes
    val del = docs.filter(($"source" === "src1" && $"lang" === "en") ||
      pmod($"doc_id", lit(11L)) === 5)
    assert(del.count() > 0, "takedown set empty — test is vacuous")
    assert(docs.filter($"source" === "src1" && $"lang" === "en").count() > 0,
      "no (src1, en) docs — language-shrink pin is vacuous")
    val kept = docs.join(del.select($"doc_id"), Seq("doc_id"), "left_anti")
    def foldAll(d: DataFrame, prefix: String, wh: String): Unit =
      (0 until 3).foreach { day =>
        ops.DomainsIncr.runDay(spark, d.filter(pmod($"doc_id", lit(3L)) === day),
          prefix, wh, day, nBuckets = 4)
      }
    val pA = ops.IncrState.freshPrefix("domains_del_a_")
    val pE = ops.IncrState.freshPrefix("domains_del_e_")
    val whA = ops.IncrState.newWarehouse()
    val whE = ops.IncrState.newWarehouse()
    try {
      // expected: the fold-only path over the REDUCED corpus (that path
      // is oracle-proven lossless, so it stands in for the batch)
      foldAll(kept, pE, whE)
      val expected = canon(ops.DomainsIncr.report(spark, pE, whE))
      // actual: fold the FULL corpus, then retract the takedown set
      foldAll(docs, pA, whA)
      val before = canon(ops.DomainsIncr.report(spark, pA, whA))
      ops.DomainsIncr.deleteDay(spark, del, pA, whA, 3, nBuckets = 4)
      def rep() = canon(ops.DomainsIncr.report(spark, pA, whA))
      assert(rep() == expected, "fold(deletes) != batch on reduced corpus")
      assert(before != expected, "delete changed nothing — test is vacuous")
      // the (src1, en) retraction must shrink src1's language spread
      val langsOf = (rows: Seq[String]) => rows.find(_.startsWith("src1.example.com|"))
        .map(_.split('|')(2)).getOrElse("absent")
      assert(langsOf(before) != langsOf(expected),
        "language spread did not shrink — (domain,lang) netting unexercised")
      // replay of the delete day: its negative partition rewrites itself
      ops.DomainsIncr.deleteDay(spark, del, pA, whA, 3, nBuckets = 4)
      assert(rep() == expected, "delete replay not idempotent")
      // compaction must carry negative partials intact (dedup on
      // (domain, lang, src_day) keeps the delete day's rows distinct
      // from every fold day's)
      ops.DomainsIncr.compactState(spark, pA, whA, nBuckets = 4)
      assert(rep() == expected, "compaction corrupted signed partials")
      // a later fold after a delete keeps netting correctly
      ops.DomainsIncr.runDay(spark, del.limit(0), pA, whA, 4, nBuckets = 4)
      assert(rep() == expected)
    } finally {
      ops.DomainsIncr.dropState(spark, pA)
      ops.DomainsIncr.dropState(spark, pE)
    }
  }

  test("retraction fold reads only the delete slice (input-bytes bound)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("domains_del_bytes_").toString
    (0 to 1).foreach { k =>
      docs.filter(pmod($"doc_id", lit(2L)) === k)
        .write.mode("overwrite").parquet(s"$root/slice$k")
    }
    docs.filter(pmod($"doc_id", lit(11L)) === 5)
      .write.mode("overwrite").parquet(s"$root/del")
    val prefix = ops.IncrState.freshPrefix("domains_del_b_")
    val wh = s"$root/wh"
    try {
      ops.DomainsIncr.runDayPath(spark, s"$root/slice0", prefix, wh, 0)
      ops.DomainsIncr.runDayPath(spark, s"$root/slice1", prefix, wh, 1)
      // the functional never-rescan proof: raw fold slices deleted
      // BEFORE the retraction fold — any lazy re-read would throw
      Seq("slice0", "slice1").foreach(d => deleteTree(s"$root/$d"))
      // declared reads: the delete slice once — never the fold history,
      // never the state (retraction is a pure negative-partial append)
      val inputBudget = dirBytes(s"$root/del") + dirBytes(wh)
      val read = Recorder.during(spark) {
        ops.DomainsIncr.deleteDayPath(spark, s"$root/del", prefix, wh, 2)
      }.inputBytes
      assert(read > 0, "listener saw no input")
      assert(read <= inputBudget + (64 << 10),
        s"retraction fold read $read bytes; bound $inputBudget")
    } finally ops.DomainsIncr.dropState(spark, prefix)
  }

  test("streaming CDC inbox: interleaved add/delete events == reduced-corpus recompute") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("domains_cdc_stream_").toString
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
    // the ADDITIVE algebra's delete events carry the documents as
    // folded (negative partials re-derive counts from the slice)
    val del = docs.filter(pmod($"doc_id", lit(11L)) === 5)
    val prefix = ops.IncrState.freshPrefix("domains_cdc_s_")
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    try {
      land(addSlice(0), "e0_add0")
      land(addSlice(1), "e1_add1")
      land(del.withColumn("op", lit("del")), "e2_del")
      land(addSlice(2), "e3_add2")
      val v1 = streaming.DomainsIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 3)
      assert(v1 == 3, s"expected 4 one-file micro-batches -> batch 3, got $v1")
      // restart with one more add: only the new event is processed, and
      // the report nets to the reduced-corpus batch recompute
      land(addSlice(3), "e4_add3")
      val v2 = streaming.DomainsIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 3)
      assert(v2 == 4, s"restart should process exactly the new event, got $v2")
      // a drain with NOTHING new answers the same batch id (not a 2b/2b+1 day)
      assert(streaming.DomainsIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 3) == v2)
      val kept = docs.join(del.select($"doc_id"), Seq("doc_id"), "left_anti")
      val pE = ops.IncrState.freshPrefix("domains_cdc_e_")
      val whE = ops.IncrState.newWarehouse()
      try {
        (0 until 3).foreach { day =>
          ops.DomainsIncr.runDay(spark, kept.filter(pmod($"doc_id", lit(3L)) === day),
            pE, whE, day, nBuckets = 4)
        }
        assert(canon(ops.DomainsIncr.report(spark, prefix, wh)) ==
          canon(ops.DomainsIncr.report(spark, pE, whE)),
          "CDC drain != batch recompute on the reduced corpus")
      } finally ops.DomainsIncr.dropState(spark, pE)
      // drive-form pinning (ADVICE r14): a checkpoint pinned 'plain' was
      // driven batch b → day b; resuming it in the cdc day space (2b/2b+1)
      // would dynamic-overwrite its folded day partitions (day k == 2·(k/2)
      // for even k), so the drain must fail LOUDLY before any state write
      val before = canon(ops.DomainsIncr.report(spark, prefix, wh))
      val plainCkpt = s"$root/ckpt_plain"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(plainCkpt))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$plainCkpt/_graft_drive_form"), "plain")
      val ex = intercept[IllegalArgumentException] {
        streaming.DomainsIncrStream.drainCdc(spark, inbox, prefix, wh, plainCkpt,
          nBuckets = 4, maxDeltaDays = 3)
      }
      assert(ex.getMessage.contains("driven as 'plain'"),
        s"wrong failure: ${ex.getMessage}")
      assert(canon(ops.DomainsIncr.report(spark, prefix, wh)) == before)
    } finally ops.DomainsIncr.dropState(spark, prefix)
  }

  test("streaming CDC inbox: an unknown op fails the micro-batch before any state write") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("domains_cdc_op_").toString
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
    val prefix = ops.IncrState.freshPrefix("domains_cdc_op_")
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    try {
      land(docs.filter(pmod($"doc_id", lit(2L)) === 0).withColumn("op", lit("add")), "e0_add")
      assert(streaming.DomainsIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4) == 0)
      val before = canon(ops.DomainsIncr.report(spark, prefix, wh))
      // a slice mixing valid adds with an unknown op: nothing of it may fold
      land(docs.filter(pmod($"doc_id", lit(2L)) === 1)
        .withColumn("op", when(pmod($"doc_id", lit(3L)) === 0, lit("upsert"))
          .otherwise(lit("add"))), "e1_upsert")
      val ex = intercept[Exception] {
        streaming.DomainsIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt, nBuckets = 4)
      }
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString(" | ")
      assert(msgs.contains("'upsert'"), s"failure does not name the op value: $msgs")
      assert(canon(ops.DomainsIncr.report(spark, prefix, wh)) == before,
        "a batch with an unknown op changed the state")
      assert(ops.DomainsIncr.lastDay(spark, prefix, wh) == 0)
    } finally ops.DomainsIncr.dropState(spark, prefix)
  }

  test("report: state side is exchange-free; only the presentation sort remains") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("domains_incr_p_")
    val wh = ops.IncrState.newWarehouse()
    try {
      (0 to 1).foreach(d => ops.DomainsIncr.runDay(spark,
        docs.filter(pmod($"doc_id", lit(2L)) === d), prefix, wh, d, nBuckets = 4))
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = ops.DomainsIncr.report(spark, prefix, wh)
          .queryExecution.executedPlan.toString
        // the replay dedup, the partial sum, AND the two-phase
        // distinct-language count all group on clusterings that contain
        // `domain`, which the bucketing satisfies; the deny join is an
        // explicit broadcast (a BroadcastExchange, deliberately NOT
        // counted — it ships the 2-row dim, not state) — the ONLY
        // shuffle is the final presentation sort
        val nExch = plan.linesIterator
          .count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
        assert(nExch <= 1, s"report grew a state-side shuffle ($nExch exchanges):\n$plan")
        assert(plan.contains("Bucketed: true"), s"report lost its bucketed scans:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally ops.DomainsIncr.dropState(spark, prefix)
  }
}
