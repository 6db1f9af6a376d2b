package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental daily curation (q_pipeline_curate_incr, q_curate_del):
  * the fold must be lossless (any slicing == full recompute; the oracle
  * checks 3-day vs DuckDB, here we check alternate slicings against each
  * other), a delete must land on the fold of the reduced corpus, and a
  * day's run must read ONLY its own slice — asserted via task
  * input-bytes metrics, the 100 TB contract. */
class CurateIncrSuite extends SparkSpec {

  test("incremental 3-day == one-shot (single day) == 5-day") {
    val one = ops.CurateIncr.incremental(spark, sfDir, 1)
    val three = ops.CurateIncr.incremental(spark, sfDir, 3)
    val five = ops.CurateIncr.incremental(spark, sfDir, 5)
    val c1 = canon(one)
    assert(c1.nonEmpty)
    assert(c1 == canon(three) && c1 == canon(five))
  }

  test("report invariant to slice arrival order") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val slices = Seq(0L, 1L, 2L).map(k => docs.filter(pmod($"doc_id", lit(3L)) === k))
    val prefix = ops.IncrState.freshPrefix("curate_order_")
    val wh = ops.IncrState.newWarehouse()
    try {
      // feed slices in the order 2, 0, 1 — min/sum commutativity means
      // the final report must equal the in-order (and full-recompute) result
      Seq(2, 0, 1).zipWithIndex.foreach { case (k, day) =>
        ops.CurateIncr.runDayRetractable(spark, slices(k), prefix, wh, day)
      }
      val shuffled = ops.CurateIncr.reportRetractable(spark, prefix, wh)
      assert(canon(shuffled) == canon(ops.CurateIncr.incremental(spark, sfDir, 1)))
    } finally ops.CurateIncr.dropState(spark, prefix)
  }

  test("day-2 run reads only the day-2 slice + partials (input-bytes bound)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("curate_incr_bytes_").toString
    // land the three day slices as separate parquet dirs, like a daily feed
    (0 to 2).foreach { k =>
      docs.filter(pmod($"doc_id", lit(3L)) === k)
        .write.mode("overwrite").parquet(s"$root/slice$k")
    }
    val prefix = ops.IncrState.freshPrefix("curate_bytes_")
    val wh = s"$root/wh"
    try {
      ops.CurateIncr.runDayPath(spark, s"$root/slice0", prefix, wh, 0)
      ops.CurateIncr.runDayPath(spark, s"$root/slice1", prefix, wh, 1)

      // the member fold is a pure append: its declared inputs are the
      // slice alone (no state partials are read)
      val sliceBytes = dirBytes(s"$root/slice2")
      val inputBudget = sliceBytes

      // THE contract proof, functional and scale-independent: delete the
      // raw day-0/1 slices before the day-2 fold — if any part of the fold
      // lazily re-read raw history it would throw FileNotFound.
      Seq("slice0", "slice1").foreach(d => deleteTree(s"$root/$d"))

      val read = Recorder.during(spark) {
        ops.CurateIncr.runDayPath(spark, s"$root/slice2", prefix, wh, 2)
      }.inputBytes

      assert(read > 0, "listener saw no input")
      // I/O-amplification sanity bound: the slice parquet is scanned ONCE
      // (the gated frame is persisted DISK_ONLY and its three consumers
      // read the cache), but cache-block reads COUNT as input bytes at the
      // serialized row size — ≤3 passes at ≤5×-of-parquet expansion for
      // text-heavy rows — so the byte budget is declared inputs (1.5×)
      // plus 15× the slice for the cache traffic. Still an order below any
      // history-rescan regime at scale (history ≫ one day's slice).
      assert(read <= (inputBudget * 1.5).toLong + 15L * sliceBytes + (64 << 10),
        s"day-2 read $read bytes; inputs $inputBudget slice $sliceBytes")
      // and the report after day 2 matches the full recompute
      assert(canon(ops.CurateIncr.reportRetractable(spark, prefix, wh)) ==
        canon(ops.CurateIncr.incremental(spark, sfDir, 1)))
    } finally ops.CurateIncr.dropState(spark, prefix)
  }

  test("streaming inbox drives the daily fold; restart processes only new slices") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curate_incr_stream_").toString
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
    Seq(0L, 1L, 2L).foreach(k => landSlice(k, s"day$k"))
    val prefix = ops.IncrState.freshPrefix("curate_stream_")
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    try {
      // op-less slices: every row is an add
      val v1 = streaming.CurateIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt)
      assert(v1 == 2, s"expected 3 one-file micro-batches -> batch 2, got $v1")
      // report over the 3 landed slices == a one-shot fold of the same subset
      val pRef = ops.IncrState.freshPrefix("curate_stream_ref_")
      val whRef = ops.IncrState.newWarehouse()
      try {
        ops.CurateIncr.runDayRetractable(spark, docs.filter(pmod($"doc_id", lit(4L)) < 3),
          pRef, whRef, 0)
        assert(canon(ops.CurateIncr.reportRetractable(spark, prefix, wh)) ==
          canon(ops.CurateIncr.reportRetractable(spark, pRef, whRef)))
      } finally ops.CurateIncr.dropState(spark, pRef)
      // day 3 lands; a RESTARTED drain with the same checkpoint must fold
      // only the new slice (batch ids continue) and reach the full corpus
      landSlice(3L, "day3")
      val v2 = streaming.CurateIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt)
      assert(v2 == 3, s"restart should process exactly the new slice -> batch 3, got $v2")
      assert(canon(ops.CurateIncr.reportRetractable(spark, prefix, wh)) ==
        canon(ops.CurateIncr.incremental(spark, sfDir, 1)))
      // a drain with NOTHING new is a no-op that still reports the current batch
      assert(streaming.CurateIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt) == 3)
    } finally ops.CurateIncr.dropState(spark, prefix)
  }

  test("streaming decontamination: inbox fold drops eval matches; contaminated replay idempotent") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // the L15b convention: eval (benchmark) = doc_id % 10 == 7, train = rest
    val evalDocs = docs.filter($"doc_id" % 10 === 7)
    val train = docs.filter($"doc_id" % 10 =!= 7)
    val ref = streaming.CurateIncrStream.decontamRef(evalDocs)
    val root = java.nio.file.Files.createTempDirectory("curate_decontam_").toString
    val inbox = s"$root/inbox"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inbox))
    (0L to 2L).foreach { k =>
      val tmp = s"$root/tmp_$k"
      train.filter(pmod($"doc_id", lit(3L)) === k).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inbox/day$k.parquet"))
    }
    val prefix = ops.IncrState.freshPrefix("curate_decontam_")
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    val pRef = ops.IncrState.freshPrefix("curate_decontam_ref_")
    val whRef = ops.IncrState.newWarehouse()
    try {
      val v = streaming.CurateIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        decontam = Some(ref))
      assert(v == 2)
      // the filter is really firing: survivors = train − the L15b flagged set
      val clean = streaming.CurateIncrStream.decontaminate(train, ref)
      val flagged = SparkEntry.queries("q_decontaminate_fuzzy")(spark, sfDir).count()
      assert(flagged > 0, "corpus has no fuzzy eval matches — test is vacuous")
      assert(clean.count() == train.count() - flagged)
      // stream-folded state == one-shot batch fold of the decontaminated corpus
      ops.CurateIncr.runDayRetractable(spark, clean, pRef, whRef, 0)
      val want = canon(ops.CurateIncr.reportRetractable(spark, pRef, whRef))
      assert(canon(ops.CurateIncr.reportRetractable(spark, prefix, wh)) == want)
      // a replayed CONTAMINATED micro-batch (same batch id, slice includes
      // eval-matching docs) deterministically re-flags the same docs and
      // rewrites its day unchanged — replayed through the stream itself:
      // with batch 2's commit removed, the restarted query re-runs batch 2
      // from its offset log, so the replayed slice is exactly the one
      // batch 2 folded
      Seq("2", ".2.crc").foreach(f =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$ckpt/commits/$f")))
      assert(streaming.CurateIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        decontam = Some(ref)) == 2)
      assert(canon(ops.CurateIncr.reportRetractable(spark, prefix, wh)) == want)
    } finally {
      ops.CurateIncr.dropState(spark, prefix)
      ops.CurateIncr.dropState(spark, pRef)
      ref.release()
    }
  }

  test("retractable backend: delete == reduced-corpus fold; keeper promotes") {
    import spark.implicits._
    val base = Tables.documents(spark, sfDir)
    // replicate the gate so the planted duplicate is a doc that is
    // actually IN the state
    val gGate = base.withColumn("tk", split($"text", " "))
      .filter($"lang" === "en" && size($"tk") >= 10 &&
        expr("size(array_distinct(tk)) * 1000000 div size(tk)") >= 300000)
    val keeperId = gGate.agg(min($"doc_id")).collect()(0).getLong(0)
    // PLANT a duplicate of that doc under a higher id, then take down
    // the original (the group's keeper): the member-level state must
    // promote the surviving clone — the exact case min-compressed state
    // cannot answer
    val off = (1000000000L to 1000000010L)
      .find(o => (keeperId + o) % 11 != 5).get
    val clone = base.filter($"doc_id" === keeperId)
      .withColumn("doc_id", $"doc_id" + off)
    val docs = base.unionByName(clone)
    val del = docs.filter(pmod($"doc_id", lit(11L)) === 5 || $"doc_id" === keeperId)
    val kept = docs.join(del.select($"doc_id"), Seq("doc_id"), "left_anti")
    assert(kept.filter($"doc_id" === keeperId + off).count() == 1,
      "the planted survivor fell in the takedown set — pick a different offset")
    val pA = ops.IncrState.freshPrefix("curate_del_a_")
    val pE = ops.IncrState.freshPrefix("curate_del_e_")
    val whA = ops.IncrState.newWarehouse()
    val whE = ops.IncrState.newWarehouse()
    try {
      def foldAll(d: DataFrame, prefix: String, wh: String): Unit =
        (0 until 3).foreach { day =>
          ops.CurateIncr.runDayRetractable(spark,
            d.filter(pmod($"doc_id", lit(3L)) === day), prefix, wh, day, nBuckets = 4)
        }
      // expected post-delete: the fold over the REDUCED corpus (that path
      // is oracle-proven lossless, so it stands in for the batch)
      foldAll(kept, pE, whE)
      val expected = canon(ops.CurateIncr.reportRetractable(spark, pE, whE))
      foldAll(docs, pA, whA)
      def rep() = canon(ops.CurateIncr.reportRetractable(spark, pA, whA))
      val full = rep()
      ops.CurateIncr.deleteDayRetractable(spark, del, pA, whA, 3, nBuckets = 4)
      assert(rep() == expected,
        "retraction != batch on reduced corpus (keeper promotion or tf netting broke)")
      assert(full != expected, "delete changed nothing — test is vacuous")
      // physical purge: tombstoned member rows gone, survivors intact
      ops.CurateIncr.purgeDeleted(spark, pA, whA, nBuckets = 4)
      val delSet = del.select($"doc_id").collect().map(_.getLong(0)).toSet
      Seq(s"${pA}_md5m", s"${pA}_linem").foreach { t =>
        assert(spark.table(t).filter($"doc_id".isin(delSet.toSeq.map(Long.box): _*))
          .count() == 0, s"$t still holds tombstoned rows after purge")
        assert(spark.table(t).count() > 0, s"$t was emptied by the purge")
      }
      assert(rep() == expected, "purge changed the report")
      // replay of the delete day; compaction over all four tables
      ops.CurateIncr.deleteDayRetractable(spark, del, pA, whA, 3, nBuckets = 4)
      assert(rep() == expected, "delete replay not idempotent")
      ops.CurateIncr.compactState(spark, pA, whA, nBuckets = 4)
      assert(rep() == expected, "compaction corrupted retraction state")
    } finally {
      ops.CurateIncr.dropState(spark, pA)
      ops.CurateIncr.dropState(spark, pE)
    }
  }

  test("retractable delete reads only the delete slice (never fold history)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("curate_del_bytes_").toString
    (0 to 1).foreach { k =>
      docs.filter(pmod($"doc_id", lit(2L)) === k)
        .write.mode("overwrite").parquet(s"$root/slice$k")
    }
    docs.filter(pmod($"doc_id", lit(11L)) === 5)
      .write.mode("overwrite").parquet(s"$root/del")
    val prefix = ops.IncrState.freshPrefix("curate_del_b_")
    val wh = s"$root/wh"
    try {
      ops.CurateIncr.runDayPath(spark, s"$root/slice0", prefix, wh, 0)
      ops.CurateIncr.runDayPath(spark, s"$root/slice1", prefix, wh, 1)
      val delBytes = dirBytes(s"$root/del")
      // the functional never-rescan proof: fold slices deleted BEFORE
      // the retraction — any lazy re-read would throw FileNotFound
      Seq("slice0", "slice1").foreach(d => deleteTree(s"$root/$d"))
      val read = Recorder.during(spark) {
        ops.CurateIncr.deleteDayPath(spark, s"$root/del", prefix, wh, 2)
      }.inputBytes
      assert(read > 0, "listener saw no input")
      // slice-shaped bound, generous for the DISK_ONLY persist re-reads
      // (same calibration as the fold's input-bytes test above) — the
      // hard claim is the functional proof: history is GONE
      assert(read <= 15L * delBytes + (64 << 10),
        s"retraction read $read bytes for a $delBytes-byte slice — it touched state it must not")
    } finally ops.CurateIncr.dropState(spark, prefix)
  }

  test("streaming CDC inbox: interleaved add/delete events == reduced-corpus recompute") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curate_cdc_stream_").toString
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
    // the retractable (member-level) backend: delete events carry the
    // documents as folded — keeper tombstones by doc_id + negated tf
    val del = docs.filter(pmod($"doc_id", lit(11L)) === 5)
    val prefix = ops.IncrState.freshPrefix("curate_cdc_s_")
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    try {
      land(addSlice(0), "e0_add0")
      land(addSlice(1), "e1_add1")
      land(del.withColumn("op", lit("del")), "e2_del")
      land(addSlice(2), "e3_add2")
      val v1 = streaming.CurateIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 3)
      assert(v1 == 3, s"expected 4 one-file micro-batches -> batch 3, got $v1")
      land(addSlice(3), "e4_add3")
      val v2 = streaming.CurateIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 3)
      assert(v2 == 4, s"restart should process exactly the new event, got $v2")
      val kept = docs.join(del.select($"doc_id"), Seq("doc_id"), "left_anti")
      val pE = ops.IncrState.freshPrefix("curate_cdc_e_")
      val whE = ops.IncrState.newWarehouse()
      try {
        (0 until 3).foreach { day =>
          ops.CurateIncr.runDayRetractable(spark,
            kept.filter(pmod($"doc_id", lit(3L)) === day), pE, whE, day, nBuckets = 4)
        }
        assert(canon(ops.CurateIncr.reportRetractable(spark, prefix, wh)) ==
          canon(ops.CurateIncr.reportRetractable(spark, pE, whE)),
          "CDC drain != batch recompute on the reduced corpus")
      } finally ops.CurateIncr.dropState(spark, pE)
    } finally ops.CurateIncr.dropState(spark, prefix)
  }
}
