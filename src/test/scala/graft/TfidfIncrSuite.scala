package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental TF-IDF (q_tfidf_incr): the daily statistics fold must be
  * lossless (any slicing == the full-corpus recompute, q_text_tfidf),
  * must read only the day's slice + its own fresh partition (history
  * never re-tokenized — deleted-slice proof + input-bytes bound), and
  * the report's state sides must be exchange-free under the shared
  * `tok` bucketing (the only shuffles are the output-inherent
  * per-document window and the final presentation sort). */
class TfidfIncrSuite extends SparkSpec {

  test("incremental 3-day == full recompute (q_text_tfidf) == 5-day == 1-day") {
    val full = canon(SparkEntry.queries("q_text_tfidf")(spark, sfDir))
    assert(full.nonEmpty, "test corpus yields no TF-IDF rows — suite is vacuous")
    assert(canon(ops.TfidfIncr.incremental(spark, sfDir, 3)) == full)
    assert(canon(ops.TfidfIncr.incremental(spark, sfDir, 5)) == full)
    assert(canon(ops.TfidfIncr.incremental(spark, sfDir, 1)) == full)
  }

  test("day-2 fold reads only the day-2 slice + its fresh partition (input-bytes bound)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("tfidf_incr_bytes_").toString
    (0 to 2).foreach { k =>
      docs.filter(pmod($"doc_id", lit(3L)) === k)
        .write.mode("overwrite").parquet(s"$root/slice$k")
    }
    val prefix = ops.IncrState.freshPrefix("tfidf_incr_t_")
    val wh = s"$root/wh"
    try {
      ops.TfidfIncr.runDayPath(spark, s"$root/slice0", prefix, wh, 0)
      ops.TfidfIncr.runDayPath(spark, s"$root/slice1", prefix, wh, 1)

      // the contract proof, functional and scale-independent: delete the
      // raw day-0/1 slices before the day-2 fold — any lazy re-read of
      // raw history would throw FileNotFound
      Seq("slice0", "slice1").foreach(d => deleteTree(s"$root/$d"))

      // declared reads: the slice once (tf build) + the fresh tf
      // partition twice (df partial + doc-count, both state read-backs
      // covered by the warehouse term) — never days 0/1
      val inputBudget = 2L * dirBytes(s"$root/slice2") + dirBytes(wh)
      val read = Recorder.during(spark) {
        ops.TfidfIncr.runDayPath(spark, s"$root/slice2", prefix, wh, 2)
      }.inputBytes
      assert(read > 0, "listener saw no input")
      assert(read <= inputBudget + (64 << 10),
        s"day-2 fold read $read bytes; bound $inputBudget")
      // and the folded state reports the full-corpus answer
      assert(canon(ops.TfidfIncr.report(spark, prefix, wh)) ==
        canon(SparkEntry.queries("q_text_tfidf")(spark, sfDir)))
    } finally ops.TfidfIncr.dropState(spark, prefix)
  }

  test("lifecycle: compaction + replay preserve the report; restart re-registers") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val days = 9
    val prefix = ops.IncrState.freshPrefix("tfidf_incr_l_")
    val wh = ops.IncrState.newWarehouse()
    def slice(d: Int) = docs.filter(pmod($"doc_id", lit(days.toLong)) === d)
    try {
      (0 until days).foreach { d =>
        ops.TfidfIncr.runDay(spark, slice(d), prefix, wh, d, nBuckets = 4)
        ops.TfidfIncr.maybeCompact(spark, prefix, wh, nBuckets = 4, maxDeltaDays = 4)
        assert(ops.TfidfIncr.deltaDays(spark, prefix, wh).size <= 5,
          s"day $d: delta partitions unbounded")
        assert(ops.TfidfIncr.maxFilesPerBucket(spark, prefix, wh) <= 8,
          s"day $d: files-per-bucket unbounded")
      }
      val full = canon(SparkEntry.queries("q_text_tfidf")(spark, sfDir))
      def rep() = canon(ops.TfidfIncr.report(spark, prefix, wh))
      assert(rep() == full)
      // replay of the last day (a failed stream commit): byte-stable
      ops.TfidfIncr.runDay(spark, slice(days - 1), prefix, wh, days - 1, nBuckets = 4)
      assert(rep() == full)
      // replay of a day an earlier compaction already folded into the
      // epoch: the re-landed copies collapse on the natural keys (tf:
      // (doc_id, tok); df: (tok, src_day) — the src_day provenance is
      // what keeps ADDITIVE partials from distinct days apart while
      // still deduping replay copies)
      ops.TfidfIncr.compactState(spark, prefix, wh, nBuckets = 4)
      ops.TfidfIncr.runDay(spark, slice(days - 1), prefix, wh, days - 1, nBuckets = 4)
      assert(rep() == full)
      ops.TfidfIncr.compactState(spark, prefix, wh, nBuckets = 4)
      assert(rep() == full)
      assert(ops.TfidfIncr.deltaDays(spark, prefix, wh).isEmpty)
      // an empty day is a harmless no-op (df partial is an empty frame)
      ops.TfidfIncr.runDay(spark, docs.filter(lit(false)), prefix, wh, days, nBuckets = 4)
      assert(rep() == full)
      // restart: the in-memory catalog dies, the warehouse survives —
      // the report path must re-register from disk
      Seq(s"${prefix}_tf", s"${prefix}_df").foreach(t => spark.sql(s"DROP TABLE $t"))
      assert(rep() == full)
    } finally ops.TfidfIncr.dropState(spark, prefix)
  }

  test("streaming inbox: drained statistics fold == batch recompute across restarts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("tfidf_incr_stream_").toString
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
    val prefix = ops.IncrState.freshPrefix("tfidf_incr_s_")
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    try {
      Seq(0L, 1L, 2L).foreach(k => landSlice(k, s"day$k"))
      val v1 = streaming.TfidfIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2)
      assert(v1 == 2, s"expected 3 one-file micro-batches -> day 2, got $v1")
      // day 3 lands; a RESTARTED drain with the same checkpoint folds
      // only the new slice, after which the report equals the batch
      // recompute (all 4 residues landed; the tight maxDeltaDays forced
      // at least one mid-stream compaction, so this also covers
      // report-over-epoch state)
      landSlice(3L, "day3")
      val v2 = streaming.TfidfIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2)
      assert(v2 == 3, s"restart should fold exactly the new slice -> day 3, got $v2")
      assert(canon(ops.TfidfIncr.report(spark, prefix, wh)) ==
        canon(SparkEntry.queries("q_text_tfidf")(spark, sfDir)))
      assert(ops.TfidfIncr.deltaDays(spark, prefix, wh).size <= 2)
      // a drain with NOTHING new is a no-op that still reports the day
      assert(streaming.TfidfIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2) == 3)
    } finally ops.TfidfIncr.dropState(spark, prefix)
  }

  test("retraction: fold+delete == fold of reduced corpus; replay + compaction safe") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // takedown set: a scatter across all fold days — pins the tf netting
    // (retracted docs vanish from the report), the df shrink (surviving
    // docs' scores re-rank against the reduced df/n_docs), and the
    // negated doc-count marker line
    val del = docs.filter(pmod($"doc_id", lit(11L)) === 5)
    assert(del.count() > 0, "takedown set empty — test is vacuous")
    val kept = docs.join(del.select($"doc_id"), Seq("doc_id"), "left_anti")
    def foldAll(d: org.apache.spark.sql.DataFrame, prefix: String, wh: String): Unit =
      (0 until 3).foreach { day =>
        ops.TfidfIncr.runDay(spark, d.filter(pmod($"doc_id", lit(3L)) === day),
          prefix, wh, day, nBuckets = 4)
      }
    val pA = ops.IncrState.freshPrefix("tfidf_del_a_")
    val pE = ops.IncrState.freshPrefix("tfidf_del_e_")
    val whA = ops.IncrState.newWarehouse()
    val whE = ops.IncrState.newWarehouse()
    try {
      // expected: the fold-only path over the REDUCED corpus (that path
      // is oracle-proven lossless, so it stands in for the batch)
      foldAll(kept, pE, whE)
      val expected = canon(ops.TfidfIncr.report(spark, pE, whE))
      // actual: fold the FULL corpus, then retract the takedown set
      foldAll(docs, pA, whA)
      val before = canon(ops.TfidfIncr.report(spark, pA, whA))
      ops.TfidfIncr.deleteDay(spark, del, pA, whA, 3, nBuckets = 4)
      def rep() = canon(ops.TfidfIncr.report(spark, pA, whA))
      assert(rep() == expected, "fold(deletes) != batch on reduced corpus")
      assert(before != expected, "delete changed nothing — test is vacuous")
      // every retracted doc must vanish from the report entirely
      val delIds = del.select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(rep().forall(r => !delIds.contains(r.split('|')(0).toLong)),
        "a retracted doc_id survived in the report")
      // replay of the delete day: its negative partition rewrites itself
      ops.TfidfIncr.deleteDay(spark, del, pA, whA, 3, nBuckets = 4)
      assert(rep() == expected, "delete replay not idempotent")
      // compaction must carry signed partials intact (dedup on
      // (doc_id, tok, src_day) / (tok, src_day) keeps the delete day's
      // rows distinct from every fold day's)
      ops.TfidfIncr.compactState(spark, pA, whA, nBuckets = 4)
      assert(rep() == expected, "compaction corrupted signed partials")
      // a later fold after a delete keeps netting correctly
      ops.TfidfIncr.runDay(spark, del.limit(0), pA, whA, 4, nBuckets = 4)
      assert(rep() == expected)
    } finally {
      ops.TfidfIncr.dropState(spark, pA)
      ops.TfidfIncr.dropState(spark, pE)
    }
  }

  test("retraction fold reads only the delete slice + its fresh partition (input-bytes bound)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("tfidf_del_bytes_").toString
    (0 to 1).foreach { k =>
      docs.filter(pmod($"doc_id", lit(2L)) === k)
        .write.mode("overwrite").parquet(s"$root/slice$k")
    }
    docs.filter(pmod($"doc_id", lit(11L)) === 5)
      .write.mode("overwrite").parquet(s"$root/del")
    val prefix = ops.IncrState.freshPrefix("tfidf_del_b_")
    val wh = s"$root/wh"
    try {
      ops.TfidfIncr.runDayPath(spark, s"$root/slice0", prefix, wh, 0)
      ops.TfidfIncr.runDayPath(spark, s"$root/slice1", prefix, wh, 1)
      // the functional never-rescan proof: raw fold slices deleted
      // BEFORE the retraction fold — any lazy re-read would throw
      Seq("slice0", "slice1").foreach(d => deleteTree(s"$root/$d"))
      // declared reads: the delete slice once (negated tf build) + the
      // fresh tf partition twice (df partial + doc-count), covered by
      // the warehouse term — never the fold days' raw slices
      val inputBudget = 2L * dirBytes(s"$root/del") + dirBytes(wh)
      val read = Recorder.during(spark) {
        ops.TfidfIncr.deleteDayPath(spark, s"$root/del", prefix, wh, 2)
      }.inputBytes
      assert(read > 0, "listener saw no input")
      assert(read <= inputBudget + (64 << 10),
        s"retraction fold read $read bytes; bound $inputBudget")
    } finally ops.TfidfIncr.dropState(spark, prefix)
  }

  test("report: state sides are exchange-free; only output-inherent shuffles remain") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("tfidf_incr_p_")
    val wh = ops.IncrState.newWarehouse()
    try {
      (0 to 1).foreach(d => ops.TfidfIncr.runDay(spark,
        docs.filter(pmod($"doc_id", lit(2L)) === d), prefix, wh, d, nBuckets = 4))
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = ops.TfidfIncr.report(spark, prefix, wh)
          .queryExecution.executedPlan.toString
        // both dedup aggregates, the df sum, and the tf⋈df join ride the
        // shared tok bucketing (HashPartitioning(tok) satisfies every
        // clustering that contains tok): the ONLY exchanges are the
        // per-document window repartition and the presentation sort
        val nExch = plan.linesIterator.count(_.contains("Exchange"))
        assert(nExch <= 2, s"report grew a state-side shuffle ($nExch exchanges):\n$plan")
        assert(plan.contains("Bucketed: true"), s"report lost its bucketed scans:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally ops.TfidfIncr.dropState(spark, prefix)
  }

  test("streaming CDC inbox: interleaved add/delete events == reduced-corpus recompute") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("tfidf_cdc_stream_").toString
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
    // folded (negated tf/df partials re-derive from the slice)
    val del = docs.filter(pmod($"doc_id", lit(11L)) === 5)
    val prefix = ops.IncrState.freshPrefix("tfidf_cdc_s_")
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    try {
      land(addSlice(0), "e0_add0")
      land(addSlice(1), "e1_add1")
      land(del.withColumn("op", lit("del")), "e2_del")
      land(addSlice(2), "e3_add2")
      val v1 = streaming.TfidfIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 3)
      assert(v1 == 3, s"expected 4 one-file micro-batches -> batch 3, got $v1")
      // restart with one more add: only the new event is processed, and
      // the report nets to the reduced-corpus batch recompute
      land(addSlice(3), "e4_add3")
      val v2 = streaming.TfidfIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 3)
      assert(v2 == 4, s"restart should process exactly the new event, got $v2")
      // a drain with NOTHING new answers the same batch id (not a 2b/2b+1 day)
      assert(streaming.TfidfIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 3) == v2)
      val kept = docs.join(del.select($"doc_id"), Seq("doc_id"), "left_anti")
      val pE = ops.IncrState.freshPrefix("tfidf_cdc_e_")
      val whE = ops.IncrState.newWarehouse()
      try {
        (0 until 3).foreach { day =>
          ops.TfidfIncr.runDay(spark, kept.filter(pmod($"doc_id", lit(3L)) === day),
            pE, whE, day, nBuckets = 4)
        }
        assert(canon(ops.TfidfIncr.report(spark, prefix, wh)) ==
          canon(ops.TfidfIncr.report(spark, pE, whE)),
          "CDC drain != batch recompute on the reduced corpus")
      } finally ops.TfidfIncr.dropState(spark, pE)
    } finally ops.TfidfIncr.dropState(spark, prefix)
  }
}
