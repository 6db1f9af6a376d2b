package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental data-quality report (q_quality_incr): the daily fold
  * must be lossless under ANY slicing (additive counters sum; the
  * distinct-PK term ORs exact per-day bitmaps — this suite slices on
  * user_id too, which SPLITS duplicate event_ids across days, the case
  * the bitmap state exists for), must read only the day's slice + the
  * broadcast customer dim, and the report's state side must be
  * exchange-free under the `bkt` bucketing. */
class QualityIncrSuite extends SparkSpec {

  test("incremental 3-day == full recompute (q_quality_report) == 5-day == 1-day") {
    val full = canon(SparkEntry.queries("q_quality_report")(spark, sfDir))
    assert(full.nonEmpty, "test corpus yields no quality rows — suite is vacuous")
    assert(canon(ops.QualityIncr.incremental(spark, sfDir, 3)) == full)
    assert(canon(ops.QualityIncr.incremental(spark, sfDir, 5)) == full)
    assert(canon(ops.QualityIncr.incremental(spark, sfDir, 1)) == full)
  }

  test("slicing that SPLITS an event_id across days still reports exact pk_dupes") {
    import spark.implicits._
    // slice on user_id: the planted %101 duplicate pairs keep their
    // event_id but the batch's per-day doc sets are no longer disjoint
    // in event_id when a day boundary falls between copies — here we go
    // further and plant the same event_id on TWO different days
    // explicitly: the OR-merge must count it once, matching the batch
    // recompute over the union
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"value")
    val cust = Tables.customer(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("quality_incr_x_")
    val wh = ops.IncrState.newWarehouse()
    try {
      // day 0: even user_ids; day 1: odd user_ids PLUS a replant of the
      // day-0 rows with event_id % 1009 == 0 (same event_ids, new day)
      val d0 = ev.filter(pmod($"user_id", lit(2L)) === 0)
      val d1 = ev.filter(pmod($"user_id", lit(2L)) === 1)
        .union(d0.filter($"event_id" % 1009 === 0))
      ops.QualityIncr.runDay(spark, d0, cust, prefix, wh, 0, nBuckets = 4)
      ops.QualityIncr.runDay(spark, d1, cust, prefix, wh, 1, nBuckets = 4)
      // the oracle equivalent: batch query semantics over d0 ∪ d1
      val batch = {
        val union = d0.union(d1)
        val dirtyEv = union.select($"event_id",
          when($"event_id" % 97 === 0, lit(null).cast("long"))
            .when($"event_id" % 103 === 0, $"user_id" + 1000000L)
            .otherwise($"user_id").as("uid"),
          when($"event_id" % 89 === 0, -$"value").otherwise($"value").as("v"))
        val dirty = dirtyEv.union(dirtyEv.filter($"event_id" % 101 === 0))
        val orph = dirty.filter($"uid".isNotNull)
          .join(cust.select($"c_custkey"), $"uid" === $"c_custkey", "left_anti")
          .count()
        val m = dirty.agg(count(lit(1)), countDistinct($"event_id"),
          sum(when($"uid".isNull, 1L).otherwise(0L)),
          sum(when($"v" < 0, 1L).otherwise(0L))).collect()(0)
        Map("row_count" -> m.getLong(0), "pk_dupes" -> (m.getLong(0) - m.getLong(1)),
          "null_user_id" -> m.getLong(2), "negative_value" -> m.getLong(3),
          "fk_orphans" -> orph)
      }
      val got = ops.QualityIncr.report(spark, prefix, wh).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == batch, s"cross-day duplicate ids broke the report: $got vs $batch")
      assert(got("pk_dupes") > 0, "replant produced no dupes — test is vacuous")
    } finally ops.QualityIncr.dropState(spark, prefix)
  }

  test("day-2 fold reads only the day-2 slice + customer dim (input-bytes bound)") {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).select($"event_id", $"user_id", $"value")
    val root = java.nio.file.Files.createTempDirectory("quality_incr_bytes_").toString
    (0 to 2).foreach { k =>
      ev.filter(pmod($"event_id", lit(3L)) === k)
        .write.mode("overwrite").parquet(s"$root/slice$k")
    }
    val prefix = ops.IncrState.freshPrefix("quality_incr_t_")
    val wh = s"$root/wh"
    try {
      ops.QualityIncr.runDayPath(spark, s"$root/slice0", sfDir, prefix, wh, 0)
      ops.QualityIncr.runDayPath(spark, s"$root/slice1", sfDir, prefix, wh, 1)

      Seq("slice0", "slice1").foreach(d => deleteTree(s"$root/$d"))

      // declared reads: the slice twice (counter pass + bitmap pass) +
      // the broadcast customer dim — never days 0/1, never the state
      val custBytes = new java.io.File(s"$sfDir/customer.parquet").length
      val inputBudget = 2L * dirBytes(s"$root/slice2") + custBytes + dirBytes(wh)
      val read = Recorder.during(spark) {
        ops.QualityIncr.runDayPath(spark, s"$root/slice2", sfDir, prefix, wh, 2)
      }.inputBytes
      assert(read > 0, "listener saw no input")
      assert(read <= inputBudget + (64 << 10),
        s"day-2 fold read $read bytes; bound $inputBudget")
      assert(canon(ops.QualityIncr.report(spark, prefix, wh)) ==
        canon(SparkEntry.queries("q_quality_report")(spark, sfDir)))
    } finally ops.QualityIncr.dropState(spark, prefix)
  }

  test("lifecycle: compaction + replay preserve the report; restart re-registers") {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).select($"event_id", $"user_id", $"value")
    val cust = Tables.customer(spark, sfDir)
    val days = 9
    val prefix = ops.IncrState.freshPrefix("quality_incr_l_")
    val wh = ops.IncrState.newWarehouse()
    def slice(d: Int) = ev.filter(pmod($"event_id", lit(days.toLong)) === d)
    try {
      (0 until days).foreach { d =>
        ops.QualityIncr.runDay(spark, slice(d), cust, prefix, wh, d, nBuckets = 4)
        ops.QualityIncr.maybeCompact(spark, prefix, wh, nBuckets = 4, maxDeltaDays = 4)
        assert(ops.QualityIncr.deltaDays(spark, prefix, wh).size <= 5,
          s"day $d: delta partitions unbounded")
        assert(ops.QualityIncr.maxFilesPerBucket(spark, prefix, wh) <= 8,
          s"day $d: files-per-bucket unbounded")
      }
      val full = canon(SparkEntry.queries("q_quality_report")(spark, sfDir))
      def rep() = canon(ops.QualityIncr.report(spark, prefix, wh))
      assert(rep() == full)
      // replay of the last day (a failed stream commit): byte-stable —
      // the bitmap partition rewrites identically AND the marker line
      // for that day overwrites itself
      ops.QualityIncr.runDay(spark, slice(days - 1), cust, prefix, wh, days - 1, nBuckets = 4)
      assert(rep() == full)
      // replay of a compacted day: copies collapse on (bkt, src_day)
      ops.QualityIncr.compactState(spark, prefix, wh, nBuckets = 4)
      ops.QualityIncr.runDay(spark, slice(days - 1), cust, prefix, wh, days - 1, nBuckets = 4)
      assert(rep() == full)
      ops.QualityIncr.compactState(spark, prefix, wh, nBuckets = 4)
      assert(rep() == full)
      assert(ops.QualityIncr.deltaDays(spark, prefix, wh).isEmpty)
      // an empty day is a harmless no-op (zero counters, empty bitmap)
      ops.QualityIncr.runDay(spark, ev.filter(lit(false)), cust, prefix, wh, days, nBuckets = 4)
      assert(rep() == full)
      // restart: the in-memory catalog dies, the warehouse survives
      spark.sql(s"DROP TABLE ${prefix}_pk")
      assert(rep() == full)
    } finally ops.QualityIncr.dropState(spark, prefix)
  }

  test("streaming inbox: drained quality fold == batch recompute across restarts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("quality_incr_stream_").toString
    val inbox = s"$root/inbox"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inbox))
    val ev = Tables.events(spark, sfDir).select($"event_id", $"user_id", $"value")
    def landSlice(k: Long, name: String): Unit = {
      val tmp = s"$root/tmp_$name"
      ev.filter(pmod($"event_id", lit(4L)) === k).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inbox/$name.parquet"))
    }
    val prefix = ops.IncrState.freshPrefix("quality_incr_s_")
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    try {
      Seq(0L, 1L, 2L).foreach(k => landSlice(k, s"day$k"))
      val v1 = streaming.QualityIncrStream.drainCdc(spark, inbox, sfDir, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2)
      assert(v1 == 2, s"expected 3 one-file micro-batches -> day 2, got $v1")
      landSlice(3L, "day3")
      val v2 = streaming.QualityIncrStream.drainCdc(spark, inbox, sfDir, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2)
      assert(v2 == 3, s"restart should fold exactly the new slice -> day 3, got $v2")
      assert(canon(ops.QualityIncr.report(spark, prefix, wh)) ==
        canon(SparkEntry.queries("q_quality_report")(spark, sfDir)))
      assert(ops.QualityIncr.deltaDays(spark, prefix, wh).size <= 2)
      assert(streaming.QualityIncrStream.drainCdc(spark, inbox, sfDir, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2) == 3)
    } finally ops.QualityIncr.dropState(spark, prefix)
  }

  test("retraction: fold+delete == fold of reduced corpus; replay, compaction, restart safe") {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).select($"event_id", $"user_id", $"value")
    val cust = Tables.customer(spark, sfDir)
    // takedown set scattered across every fold day; must include some
    // planted-dirt members (dup %101, null %97, neg %89) so every
    // counter actually shrinks, and its distinct ids clear from the
    // bitmap via the tombstone and-not
    val del = ev.filter(pmod($"event_id", lit(11L)) === 5)
    assert(del.count() > 0, "takedown set empty — test is vacuous")
    val kept = ev.join(del.select($"event_id"), Seq("event_id"), "left_anti")
    def foldAll(d: DataFrame, prefix: String, wh: String): Unit =
      (0 until 3).foreach { day =>
        ops.QualityIncr.runDay(spark, d.filter(pmod($"event_id", lit(3L)) === day),
          cust, prefix, wh, day, nBuckets = 4)
      }
    val pA = ops.IncrState.freshPrefix("quality_del_a_")
    val pE = ops.IncrState.freshPrefix("quality_del_e_")
    val whA = ops.IncrState.newWarehouse()
    val whE = ops.IncrState.newWarehouse()
    try {
      // expected: fold-only over the REDUCED corpus (oracle-proven path)
      foldAll(kept, pE, whE)
      val expected = canon(ops.QualityIncr.report(spark, pE, whE))
      foldAll(ev, pA, whA)
      val before = canon(ops.QualityIncr.report(spark, pA, whA))
      ops.QualityIncr.deleteDay(spark, del, cust, pA, whA, 3, nBuckets = 4)
      def rep() = canon(ops.QualityIncr.report(spark, pA, whA))
      assert(rep() == expected, "fold(deletes) != batch on reduced corpus")
      assert(before != expected, "delete changed nothing — test is vacuous")
      // replay of the delete day: the negated marker line rewrites
      // itself and the tombstone partition dynamic-overwrites itself
      ops.QualityIncr.deleteDay(spark, del, cust, pA, whA, 3, nBuckets = 4)
      assert(rep() == expected, "delete replay not idempotent")
      // compaction folds live AND tombstone partitions through the same
      // lifecycle; (bkt, src_day) dedup keeps them exact
      ops.QualityIncr.compactState(spark, pA, whA, nBuckets = 4)
      assert(rep() == expected, "compaction corrupted tombstone state")
      // restart: both tables re-register from disk
      spark.sql(s"DROP TABLE ${pA}_pk")
      spark.sql(s"DROP TABLE ${pA}_pk_del")
      assert(rep() == expected, "restart lost the tombstone table")
      // the tombstone-aware report plan stays exchange-free on the
      // state side (live ⋈ tomb rides the shared bkt bucketing)
      val plan = ops.QualityIncr.report(spark, pA, whA)
        .queryExecution.executedPlan.toString
      val nExch = plan.linesIterator
        .count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      assert(nExch <= 2, s"tombstone report grew a state-side shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"tombstone report lost bucketed scans:\n$plan")
    } finally {
      ops.QualityIncr.dropState(spark, pA)
      ops.QualityIncr.dropState(spark, pE)
    }
  }

  test("two prefixes sharing one warehouse keep independent counters (ADVICE r13)") {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).select($"event_id", $"user_id", $"value")
    val cust = Tables.customer(spark, sfDir)
    val wh = ops.IncrState.newWarehouse()
    val p1 = ops.IncrState.freshPrefix("quality_share_1_")
    val p2 = ops.IncrState.freshPrefix("quality_share_2_")
    try {
      // disjoint halves into the SAME warehouse under different prefixes
      ops.QualityIncr.runDay(spark, ev.filter(pmod($"event_id", lit(2L)) === 0),
        cust, p1, wh, 0, nBuckets = 4)
      ops.QualityIncr.runDay(spark, ev.filter(pmod($"event_id", lit(2L)) === 1),
        cust, p2, wh, 0, nBuckets = 4)
      val r1 = ops.QualityIncr.report(spark, p1, wh).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val r2 = ops.QualityIncr.report(spark, p2, wh).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val evenCount = {
        val e = ev.filter(pmod($"event_id", lit(2L)) === 0)
        val base = e.count(); base + e.filter($"event_id" % 101 === 0).count()
      }
      // before the prefix-scoped marker, each report summed BOTH
      // prefixes' counters; now each sees exactly its own half
      assert(r1("row_count") == evenCount,
        s"prefix 1 row_count ${r1("row_count")} != its own fold $evenCount (marker cross-merge?)")
      assert(r2("row_count") > 0,
        "odd half empty — a cross-merge would be invisible, test is vacuous")
    } finally {
      ops.QualityIncr.dropState(spark, p1)
      ops.QualityIncr.dropState(spark, p2)
    }
  }

  test("corrupt counter marker fails loudly (ADVICE r13: correctness state, not recovery aid)") {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).select($"event_id", $"user_id", $"value")
    val cust = Tables.customer(spark, sfDir)
    val wh = ops.IncrState.newWarehouse()
    val prefix = ops.IncrState.freshPrefix("quality_corrupt_")
    try {
      ops.QualityIncr.runDay(spark, ev.limit(100), cust, prefix, wh, 0, nBuckets = 4)
      // truncate one counter off the day-0 line — a malformed
      // load-bearing line must throw, not silently drop
      val name = s"_${prefix}_qc_counts"
      val body = ops.IncrState.readMarker(spark, wh, name).get
      ops.IncrState.writeMarker(spark, wh, name,
        body.linesIterator.map(_.split(' ').dropRight(1).mkString(" ")).mkString("\n"))
      val e = intercept[IllegalStateException] {
        ops.QualityIncr.report(spark, prefix, wh).collect()
      }
      assert(e.getMessage.contains("corrupt"), s"wrong failure: ${e.getMessage}")
    } finally ops.QualityIncr.dropState(spark, prefix)
  }

  test("report: bitmap state side is exchange-free under the bkt bucketing") {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).select($"event_id", $"user_id", $"value")
    val cust = Tables.customer(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("quality_incr_p_")
    val wh = ops.IncrState.newWarehouse()
    try {
      (0 to 1).foreach(d => ops.QualityIncr.runDay(spark,
        ev.filter(pmod($"event_id", lit(2L)) === d), cust, prefix, wh, d, nBuckets = 4))
      val plan = ops.QualityIncr.report(spark, prefix, wh)
        .queryExecution.executedPlan.toString
      // the replay dedup and the per-bucket OR-merge ride the `bkt`
      // bucketing with no exchange; what remains is the inherent 1-row
      // global popcount sum and the 5-row presentation sort
      val nExch = plan.linesIterator
        .count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      assert(nExch <= 2, s"report grew a state-side shuffle ($nExch exchanges):\n$plan")
      assert(plan.contains("Bucketed: true"), s"report lost its bucketed scans:\n$plan")
    } finally ops.QualityIncr.dropState(spark, prefix)
  }

  test("streaming CDC inbox: interleaved add/delete events == reduced-corpus recompute") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("quality_cdc_stream_").toString
    val inbox = s"$root/inbox"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inbox))
    val ev = Tables.events(spark, sfDir).select($"event_id", $"user_id", $"value")
    val cust = Tables.customer(spark, sfDir)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$root/tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inbox/$name.parquet"))
    }
    def addSlice(k: Long) = ev.filter(pmod($"event_id", lit(4L)) === k)
      .withColumn("op", lit("add"))
    // the takedown set must include planted-dirt members so every
    // counter shrinks (same shape as the batch retraction test)
    val del = ev.filter(pmod($"event_id", lit(11L)) === 5)
    val prefix = ops.IncrState.freshPrefix("quality_cdc_s_")
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    try {
      land(addSlice(0), "e0_add0")
      land(addSlice(1), "e1_add1")
      land(del.withColumn("op", lit("del")), "e2_del")
      land(addSlice(2), "e3_add2")
      val v1 = streaming.QualityIncrStream.drainCdc(spark, inbox, sfDir, prefix,
        wh, ckpt, nBuckets = 4, maxDeltaDays = 3)
      assert(v1 == 3, s"expected 4 one-file micro-batches -> batch 3, got $v1")
      land(addSlice(3), "e4_add3")
      val v2 = streaming.QualityIncrStream.drainCdc(spark, inbox, sfDir, prefix,
        wh, ckpt, nBuckets = 4, maxDeltaDays = 3)
      assert(v2 == 4, s"restart should process exactly the new event, got $v2")
      val kept = ev.join(del.select($"event_id"), Seq("event_id"), "left_anti")
      val pE = ops.IncrState.freshPrefix("quality_cdc_e_")
      val whE = ops.IncrState.newWarehouse()
      try {
        (0 until 3).foreach { day =>
          ops.QualityIncr.runDay(spark, kept.filter(pmod($"event_id", lit(3L)) === day),
            cust, pE, whE, day, nBuckets = 4)
        }
        assert(canon(ops.QualityIncr.report(spark, prefix, wh)) ==
          canon(ops.QualityIncr.report(spark, pE, whE)),
          "CDC drain != batch recompute on the reduced corpus")
      } finally ops.QualityIncr.dropState(spark, pE)
    } finally ops.QualityIncr.dropState(spark, prefix)
  }
}
