package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental k-means (q_cluster_incr): daily folds must be lossless
  * under ANY slicing once the re-assign epoch reconciles (seed
  * partials merge associatively; the epoch re-derives assignments from
  * the refined centroids), the fold must read only the day's slice,
  * the re-assign must read only the persisted VECTOR STATE (never the
  * raw corpus), drift must gate the epoch, and serving must be one
  * K-row aggregate over bucketed assignment state. */
class ClusterIncrSuite extends SparkSpec {

  test("incremental 3-day == 5-day == 1-day (post-epoch slicing independence)") {
    val one = canon(ops.ClusterIncr.incremental(spark, sfDir, 1))
    assert(one.nonEmpty, "corpus yields no clusters — suite is vacuous")
    assert(canon(ops.ClusterIncr.incremental(spark, sfDir, 3)) == one)
    assert(canon(ops.ClusterIncr.incremental(spark, sfDir, 5)) == one)
  }

  test("drift gates the re-assign epoch; pending marker re-runs a crashed swap") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("cluster_incr_d_")
    val wh = ops.IncrState.newWarehouse()
    try {
      ops.ClusterIncr.runDay(spark,
        emb.filter(pmod($"vec_id", lit(2L)) === 0), prefix, wh, 0, nBuckets = 4)
      // first check: the marker epoch is still the raw SEEDS, the
      // refined centroids are data means — drift is large, epoch runs
      assert(ops.ClusterIncr.maybeReassign(spark, prefix, wh, thresholdPpm = 10000L,
        nBuckets = 4), "seed→refined drift did not trigger the first epoch")
      val afterFirst = canon(ops.ClusterIncr.report(spark, prefix, wh))
      // immediately re-checking against the SAME partials: zero drift —
      // the epoch must NOT re-run even at threshold 0
      assert(!ops.ClusterIncr.maybeReassign(spark, prefix, wh, thresholdPpm = 0L,
        nBuckets = 4), "no-drift check re-ran the epoch")
      assert(canon(ops.ClusterIncr.report(spark, prefix, wh)) == afterFirst)
      // day 1 shifts the refined centroids; a huge threshold must skip
      // the epoch (serving keeps the stale-epoch assignments), a small
      // one must run it
      ops.ClusterIncr.runDay(spark,
        emb.filter(pmod($"vec_id", lit(2L)) === 1), prefix, wh, 1, nBuckets = 4)
      assert(!ops.ClusterIncr.maybeReassign(spark, prefix, wh,
        thresholdPpm = Long.MaxValue, nBuckets = 4), "MaxValue threshold ran the epoch")
      assert(ops.ClusterIncr.maybeReassign(spark, prefix, wh, thresholdPpm = -1L,
        nBuckets = 4), "negative threshold must always re-assign")
      val settled = canon(ops.ClusterIncr.report(spark, prefix, wh))
      // crash inside the swap: the pending marker alone must force a
      // re-run on the next check, even at an impossible threshold
      ops.IncrState.writeMarker(spark, wh, s"_${prefix}_reassign_pending", "1")
      assert(ops.ClusterIncr.maybeReassign(spark, prefix, wh,
        thresholdPpm = Long.MaxValue, nBuckets = 4), "pending marker ignored")
      assert(canon(ops.ClusterIncr.report(spark, prefix, wh)) == settled,
        "crash-recovery epoch changed the answer")
    } finally ops.ClusterIncr.dropState(spark, prefix)
  }

  test("half-swapped epoch: the report counts distinct assignment rows; the pending re-run settles it") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("cluster_incr_h_")
    val wh = ops.IncrState.newWarehouse()
    try {
      (0 to 1).foreach(d => ops.ClusterIncr.runDay(spark,
        emb.filter(pmod($"vec_id", lit(2L)) === d), prefix, wh, d, nBuckets = 4))
      ops.ClusterIncr.reassign(spark, prefix, wh, nBuckets = 4)
      val settled = canon(ops.ClusterIncr.report(spark, prefix, wh))
      def members() = ops.ClusterIncr.report(spark, prefix, wh)
        .agg(sum($"n")).as[Long].head()
      val nVecs = members()
      // a crash between a re-assign's epoch write and its old-partition
      // drop: a newer epoch whose rows equal the old ones on the natural
      // key (vec_id, src_day) but not on the assignment
      val asg = s"${prefix}_asg"
      ops.IncrState.writeMarker(spark, wh, s"_${prefix}_reassign_pending", "1")
      ops.IncrState.writeDay(spark,
        spark.table(asg).select($"vec_id", (($"cl" + 1) % ops.ClusterIncr.K).as("cl"),
          $"sim_i", $"src_day").withColumn("day", lit(-2)).localCheckpoint(),
        ops.IncrState.StateTable(asg, "vec_id", Seq("vec_id", "src_day")), wh, -2, 4)
      // the serving read (one SQL program with the view) keeps the
      // newest epoch's row per (vec_id, src_day): each vector counts once
      assert(members() == nVecs, "half-swapped epoch counted a vector twice")
      assert(ops.ClusterIncr.maybeReassign(spark, prefix, wh,
        thresholdPpm = Long.MaxValue, nBuckets = 4), "pending marker ignored")
      assert(canon(ops.ClusterIncr.report(spark, prefix, wh)) == settled,
        "the re-run swap did not drop the half-swapped epoch")
    } finally ops.ClusterIncr.dropState(spark, prefix)
  }

  test("fold reads only the day's slice; the epoch reads state, never the raw corpus") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("cluster_incr_bytes_").toString
    (0 to 2).foreach { k =>
      emb.filter(pmod($"vec_id", lit(3L)) === k)
        .write.mode("overwrite").parquet(s"$root/slice$k")
    }
    val prefix = ops.IncrState.freshPrefix("cluster_incr_b_")
    val wh = s"$root/wh"
    try {
      ops.ClusterIncr.runDayPath(spark, s"$root/slice0", prefix, wh, 0)
      ops.ClusterIncr.runDayPath(spark, s"$root/slice1", prefix, wh, 1)
      // raw day-0/1 slices deleted BEFORE the day-2 fold and the epoch:
      // any lazy re-read of raw history throws FileNotFound
      Seq("slice0", "slice1").foreach(d => deleteTree(s"$root/$d"))
      // declared reads: the slice ONCE (persisted across the three fold
      // passes) — never days 0/1, never the state tables' rows
      val inputBudget = dirBytes(s"$root/slice2") + dirBytes(wh)
      val read = Recorder.during(spark) {
        ops.ClusterIncr.runDayPath(spark, s"$root/slice2", prefix, wh, 2)
      }.inputBytes
      assert(read > 0, "listener saw no input")
      assert(read <= inputBudget + (64 << 10),
        s"day-2 fold read $read bytes; bound $inputBudget")
      // the epoch runs fine with the raw corpus gone — it reads the
      // persisted vector state
      ops.ClusterIncr.reassign(spark, prefix, wh, nBuckets = 4)
      assert(canon(ops.ClusterIncr.report(spark, prefix, wh)).nonEmpty)
    } finally ops.ClusterIncr.dropState(spark, prefix)
  }

  test("lifecycle: replay, compaction, restart preserve the settled report") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("cluster_incr_l_")
    val wh = ops.IncrState.newWarehouse()
    def slice(d: Int) = emb.filter(pmod($"vec_id", lit(3L)) === d)
    try {
      (0 until 3).foreach(d =>
        ops.ClusterIncr.runDay(spark, slice(d), prefix, wh, d, nBuckets = 4))
      ops.ClusterIncr.reassign(spark, prefix, wh, nBuckets = 4)
      val settled = canon(ops.ClusterIncr.report(spark, prefix, wh))
      def rep() = canon(ops.ClusterIncr.report(spark, prefix, wh))
      // replay of the last fold day (its assignment partition recomputes
      // against the SETTLED epoch centroids, so the rows land identical)
      ops.ClusterIncr.runDay(spark, slice(2), prefix, wh, 2, nBuckets = 4)
      assert(rep() == settled, "day replay changed the settled report")
      // compaction through the shared lifecycle
      ops.ClusterIncr.compactState(spark, prefix, wh, nBuckets = 4)
      assert(rep() == settled, "compaction changed the settled report")
      // restart: catalog dies, warehouse survives
      Seq("_vecs", "_cpart", "_asg").foreach(t => spark.sql(s"DROP TABLE ${prefix}$t"))
      assert(rep() == settled, "restart lost assignment state")
      // the epoch after compaction+restart still reconciles to the same
      ops.ClusterIncr.reassign(spark, prefix, wh, nBuckets = 4)
      assert(rep() == settled, "post-restart epoch diverged")
    } finally ops.ClusterIncr.dropState(spark, prefix)
  }

  test("streaming inbox: drained clustering fold == the settled epoch across restarts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cluster_incr_stream_").toString
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
    val prefix = ops.IncrState.freshPrefix("cluster_incr_s_")
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    try {
      Seq(0L, 1L, 2L).foreach(k => landSlice(k, s"day$k"))
      val v1 = streaming.ClusterIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2)
      assert(v1 == 2, s"expected 3 one-file micro-batches -> day 2, got $v1")
      landSlice(3L, "day3")
      val v2 = streaming.ClusterIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 2)
      assert(v2 == 3, s"restart should fold exactly the new slice -> day 3, got $v2")
      // the drain runs the drift check per micro-batch; force the final
      // epoch and compare against a one-shot fold of the same corpus
      ops.ClusterIncr.reassign(spark, prefix, wh, nBuckets = 4)
      val got = canon(ops.ClusterIncr.report(spark, prefix, wh))
      val pRef = ops.IncrState.freshPrefix("cluster_incr_sr_")
      val whRef = ops.IncrState.newWarehouse()
      try {
        ops.ClusterIncr.runDay(spark, emb, pRef, whRef, 0, nBuckets = 4)
        ops.ClusterIncr.reassign(spark, pRef, whRef, nBuckets = 4)
        assert(got == canon(ops.ClusterIncr.report(spark, pRef, whRef)),
          "drained fold diverged from the one-shot epoch")
      } finally ops.ClusterIncr.dropState(spark, pRef)
    } finally ops.ClusterIncr.dropState(spark, prefix)
  }

  test("retraction: signed partials + tombstones == recompute on reduced corpus") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val del = emb.filter(pmod($"vec_id", lit(11L)) === 5)
    assert(del.count() > 0, "takedown set empty — test is vacuous")
    val kept = emb.join(del.select($"vec_id"), Seq("vec_id"), "left_anti")
    val pE = ops.IncrState.freshPrefix("cluster_del_e_")
    val pA = ops.IncrState.freshPrefix("cluster_del_a_")
    val whE = ops.IncrState.newWarehouse()
    val whA = ops.IncrState.newWarehouse()
    try {
      // expected: fold-only over the REDUCED corpus + its settled epoch
      (0 until 3).foreach { day =>
        ops.ClusterIncr.runDay(spark, kept.filter(pmod($"vec_id", lit(3L)) === day),
          pE, whE, day, nBuckets = 4)
      }
      ops.ClusterIncr.reassign(spark, pE, whE, nBuckets = 4)
      val expected = canon(ops.ClusterIncr.report(spark, pE, whE))
      // actual: fold the FULL corpus, retract, purge, settle
      (0 until 3).foreach { day =>
        ops.ClusterIncr.runDay(spark, emb.filter(pmod($"vec_id", lit(3L)) === day),
          pA, whA, day, nBuckets = 4)
      }
      ops.ClusterIncr.deleteDay(spark, del, pA, whA, 3, nBuckets = 4)
      ops.ClusterIncr.purgeDeleted(spark, pA, whA, nBuckets = 4)
      // physical purge pin: tombstoned rows gone, surviving state intact
      val delSet = del.select($"vec_id").collect().map(_.getLong(0)).toSet
      Seq(s"${pA}_vecs", s"${pA}_asg").foreach { t =>
        assert(spark.table(t).filter($"vec_id".isin(delSet.toSeq.map(Long.box): _*))
          .count() == 0, s"$t still holds tombstoned rows after purge")
        assert(spark.table(t).count() > 0, s"$t was emptied by the purge")
      }
      ops.ClusterIncr.reassign(spark, pA, whA, nBuckets = 4)
      def rep() = canon(ops.ClusterIncr.report(spark, pA, whA))
      assert(rep() == expected, "retraction path != batch on reduced corpus")
      // the delete must MOVE the refined centroids (else the signed
      // netting is unexercised) — compare against the full-corpus refine
      val pF = ops.IncrState.freshPrefix("cluster_del_f_")
      val whF = ops.IncrState.newWarehouse()
      try {
        (0 until 3).foreach { day =>
          ops.ClusterIncr.runDay(spark, emb.filter(pmod($"vec_id", lit(3L)) === day),
            pF, whF, day, nBuckets = 4)
        }
        assert(ops.ClusterIncr.refinedCentroids(spark, pA, whA)
          != ops.ClusterIncr.refinedCentroids(spark, pF, whF),
          "delete left the refined centroids unchanged — netting unexercised")
      } finally ops.ClusterIncr.dropState(spark, pF)
      // replay of the delete day: idempotent; compaction safe
      ops.ClusterIncr.deleteDay(spark, del, pA, whA, 3, nBuckets = 4)
      assert(rep() == expected, "delete replay not idempotent")
      ops.ClusterIncr.compactState(spark, pA, whA, nBuckets = 4)
      assert(rep() == expected, "compaction corrupted retraction state")
    } finally {
      ops.ClusterIncr.dropState(spark, pE)
      ops.ClusterIncr.dropState(spark, pA)
    }
  }

  test("report: one K-row aggregate over bucketed assignment state") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val prefix = ops.IncrState.freshPrefix("cluster_incr_p_")
    val wh = ops.IncrState.newWarehouse()
    try {
      (0 to 1).foreach(d => ops.ClusterIncr.runDay(spark,
        emb.filter(pmod($"vec_id", lit(2L)) === d), prefix, wh, d, nBuckets = 4))
      val plan = ops.ClusterIncr.report(spark, prefix, wh)
        .queryExecution.executedPlan.toString
      // replay dedup rides the vec_id bucketing (exchange-free); what
      // remains is the inherent K-row partial-agg exchange and the
      // K-row presentation sort
      val nExch = plan.linesIterator
        .count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      assert(nExch <= 2, s"report grew a state-side shuffle ($nExch exchanges):\n$plan")
      assert(plan.contains("Bucketed: true"), s"report lost its bucketed scan:\n$plan")
    } finally ops.ClusterIncr.dropState(spark, prefix)
  }

  test("streaming CDC inbox: interleaved add/delete events == reduced-corpus epoch") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cluster_cdc_stream_").toString
    val inbox = s"$root/inbox"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inbox))
    val emb = Tables.embeddings(spark, sfDir)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$root/tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inbox/$name.parquet"))
    }
    def addSlice(k: Long) = emb.filter(pmod($"vec_id", lit(4L)) === k)
      .withColumn("op", lit("add"))
    // the HYBRID algebra: delete events carry the embeddings as folded
    // (negated centroid partials re-derive from the slice)
    val del = emb.filter(pmod($"vec_id", lit(11L)) === 5)
    val prefix = ops.IncrState.freshPrefix("cluster_cdc_s_")
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    try {
      land(addSlice(0), "e0_add0")
      land(addSlice(1), "e1_add1")
      land(del.withColumn("op", lit("del")), "e2_del")
      land(addSlice(2), "e3_add2")
      val v1 = streaming.ClusterIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 3)
      assert(v1 == 3, s"expected 4 one-file micro-batches -> batch 3, got $v1")
      land(addSlice(3), "e4_add3")
      val v2 = streaming.ClusterIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 3)
      assert(v2 == 4, s"restart should process exactly the new event, got $v2")
      // settle the final epoch (the drain's drift checks are gated),
      // then compare against the reduced-corpus fold + its epoch
      ops.ClusterIncr.reassign(spark, prefix, wh, nBuckets = 4)
      val kept = emb.join(del.select($"vec_id"), Seq("vec_id"), "left_anti")
      val pE = ops.IncrState.freshPrefix("cluster_cdc_e_")
      val whE = ops.IncrState.newWarehouse()
      try {
        (0 until 3).foreach { day =>
          ops.ClusterIncr.runDay(spark, kept.filter(pmod($"vec_id", lit(3L)) === day),
            pE, whE, day, nBuckets = 4)
        }
        ops.ClusterIncr.reassign(spark, pE, whE, nBuckets = 4)
        assert(canon(ops.ClusterIncr.report(spark, prefix, wh)) ==
          canon(ops.ClusterIncr.report(spark, pE, whE)),
          "CDC drain != batch recompute on the reduced corpus")
      } finally ops.ClusterIncr.dropState(spark, pE)
    } finally ops.ClusterIncr.dropState(spark, prefix)
  }
}
