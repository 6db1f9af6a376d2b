package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental triangle counting (q_tri_incr): the daily edge fold must
  * be lossless (any slicing == the batch profile, q_graph_triangles —
  * a triangle is counted once, on the day its last edge arrives), must
  * read only the day's slice + state (raw history never re-read), and
  * retraction must land exactly on the reduced-graph recompute. */
class TriIncrSuite extends SparkSpec {

  private def edges(dir: String): DataFrame = {
    import spark.implicits._
    val ls = Tables.lineitem(spark, dir)
      .filter($"l_orderkey" % 6 === 0)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("sk")).distinct()
    ls.as("a").join(ls.as("b"), $"a.ok" === $"b.ok" && $"a.sk" < $"b.sk")
      .select($"a.sk".as("u"), $"b.sk".as("v")).distinct()
  }

  /** The in-engine batch oracle on the exhibit's restricted graph (the
    * same projection/order/limit as q_graph_triangles; the DuckDB
    * oracle independently checks the identical SQL). */
  private def batchProfile(dir: String): DataFrame = {
    import spark.implicits._
    ops.Graph.triangleProfile(edges(dir))
      .select($"node".as("part_key"), $"tri", $"degree", $"cc_ppm")
      .orderBy($"tri".desc, $"part_key")
      .limit(20)
  }

  test("incremental 3-day == batch profile == 5-day == 1-day") {
    val full = canon(batchProfile(sfDir))
    assert(full.exists(_.split('|')(1).toLong > 0),
      "test graph has no triangles — suite is vacuous")
    assert(canon(ops.TriIncr.incremental(spark, sfDir, 3)) == full)
    assert(canon(ops.TriIncr.incremental(spark, sfDir, 5)) == full)
    assert(canon(ops.TriIncr.incremental(spark, sfDir, 1)) == full)
  }

  test("day-2 fold reads only the day-2 slice + state; replay + compaction safe") {
    import spark.implicits._
    val e0 = edges(sfDir)
    val root = java.nio.file.Files.createTempDirectory("tri_incr_bytes_").toString
    (0 to 2).foreach { k =>
      e0.filter(pmod($"u" + $"v", lit(3L)) === k)
        .write.mode("overwrite").parquet(s"$root/slice$k")
    }
    val prefix = ops.IncrState.freshPrefix("tri_incr_t_")
    val wh = s"$root/wh"
    try {
      ops.TriIncr.runDayPath(spark, s"$root/slice0", prefix, wh, 0)
      ops.TriIncr.runDayPath(spark, s"$root/slice1", prefix, wh, 1)
      // the functional never-rescan proof: raw slices 0/1 deleted
      // BEFORE the day-2 fold — any lazy re-read would throw
      Seq("slice0", "slice1").foreach(d => deleteTree(s"$root/$d"))
      // declared reads: the slice (canon + fresh anti-join) + several
      // passes over the adjacency/partial STATE (prior anti-join, the
      // live pin's materialization, then its cached re-reads for count/
      // degree/wedge/closing — cache hits land in inputMetrics too) —
      // never the raw day-0/1 slices, which are gone; the hard claim is
      // the functional proof above, the multiplier only bounds
      // state-amplification drift
      val inputBudget = 2L * dirBytes(s"$root/slice2") + 16L * dirBytes(wh)
      val read = Recorder.during(spark) {
        ops.TriIncr.runDayPath(spark, s"$root/slice2", prefix, wh, 2)
      }.inputBytes
      assert(read > 0, "listener saw no input")
      assert(read <= inputBudget + (256 << 10),
        s"day-2 fold read $read bytes; bound $inputBudget")
      val full = canon(batchProfile(sfDir))
      def rep() = canon(ops.TriIncr.report(spark, prefix, wh))
      assert(rep() == full)
      // replay of day 2 (same slice no longer exists on disk — replay
      // from the equivalent frame): byte-idempotent
      ops.TriIncr.runDay(spark, e0.filter(pmod($"u" + $"v", lit(3L)) === 2),
        prefix, wh, 2)
      assert(rep() == full, "day replay not idempotent")
      // compaction, then a replay AFTER compaction (the effective-fresh
      // anti-join must see the epoch rows as prior days)
      ops.TriIncr.compactState(spark, prefix, wh, nBuckets = 4)
      assert(rep() == full, "compaction changed the profile")
      ops.TriIncr.runDay(spark, e0.filter(pmod($"u" + $"v", lit(3L)) === 2),
        prefix, wh, 2)
      assert(rep() == full, "replay after compaction double-counted")
    } finally ops.TriIncr.dropState(spark, prefix)
  }

  test("streaming CDC inbox: interleaved edge add/delete events == reduced-graph profile") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("tri_cdc_stream_").toString
    val inbox = s"$root/inbox"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inbox))
    val e0 = edges(sfDir)
    def land(df: DataFrame, name: String): Unit = {
      val tmp = s"$root/tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inbox/$name.parquet"))
    }
    def addSlice(k: Long) = e0.filter(pmod($"u" + $"v", lit(4L)) === k)
      .withColumn("op", lit("add"))
    val del = e0.filter(pmod($"u" + $"v", lit(11L)) === 5)
    val prefix = ops.IncrState.freshPrefix("tri_cdc_s_")
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    try {
      land(addSlice(0), "e0_add0")
      land(addSlice(1), "e1_add1")
      land(del.withColumn("op", lit("del")), "e2_del")
      land(addSlice(2), "e3_add2")
      val v1 = streaming.TriIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 6)
      assert(v1 == 3, s"expected 4 one-file micro-batches -> batch 3, got $v1")
      // restart with one more add (containing tombstoned edges that must
      // stay retracted): the profile equals the reduced-graph fold
      land(addSlice(3), "e4_add3")
      val v2 = streaming.TriIncrStream.drainCdc(spark, inbox, prefix, wh, ckpt,
        nBuckets = 4, maxDeltaDays = 6)
      assert(v2 == 4, s"restart should process exactly the new event, got $v2")
      val kept = e0.join(del, Seq("u", "v"), "left_anti")
      val pE = ops.IncrState.freshPrefix("tri_cdc_e_")
      val whE = ops.IncrState.newWarehouse()
      try {
        (0 until 3).foreach { day =>
          ops.TriIncr.runDay(spark, kept.filter(pmod($"u" + $"v", lit(3L)) === day),
            pE, whE, day, nBuckets = 4)
        }
        assert(canon(ops.TriIncr.report(spark, prefix, wh)) ==
          canon(ops.TriIncr.report(spark, pE, whE)),
          "CDC drain != batch recompute on the reduced graph")
      } finally ops.TriIncr.dropState(spark, pE)
    } finally ops.TriIncr.dropState(spark, prefix)
  }

  test("retraction: lost-triangle subtraction == recompute on reduced graph") {
    import spark.implicits._
    val e0 = edges(sfDir)
    val del = e0.filter(pmod($"u" + $"v", lit(11L)) === 5)
    assert(del.count() > 0, "takedown edge set empty — test is vacuous")
    val kept = e0.join(del, Seq("u", "v"), "left_anti")
    val pE = ops.IncrState.freshPrefix("tri_del_e_")
    val pA = ops.IncrState.freshPrefix("tri_del_a_")
    val whE = ops.IncrState.newWarehouse()
    val whA = ops.IncrState.newWarehouse()
    try {
      (0 until 3).foreach { day =>
        ops.TriIncr.runDay(spark, kept.filter(pmod($"u" + $"v", lit(3L)) === day),
          pE, whE, day, nBuckets = 4)
      }
      val expected = canon(ops.TriIncr.report(spark, pE, whE))
      (0 until 3).foreach { day =>
        ops.TriIncr.runDay(spark, e0.filter(pmod($"u" + $"v", lit(3L)) === day),
          pA, whA, day, nBuckets = 4)
      }
      val before = canon(ops.TriIncr.report(spark, pA, whA))
      ops.TriIncr.deleteDay(spark, del, pA, whA, 3, nBuckets = 4)
      ops.TriIncr.purgeDeleted(spark, pA, whA, nBuckets = 4)
      // physical purge: no tombstoned orientation survives in the
      // adjacency, and the surviving graph is intact
      val delPairs = del.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val adjLeft = spark.table(s"${pA}_adj").select($"x", $"y").collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      assert(!adjLeft.exists(delPairs.contains), "purge left tombstoned edges")
      assert(adjLeft.nonEmpty, "purge emptied the adjacency")
      def rep() = canon(ops.TriIncr.report(spark, pA, whA))
      assert(rep() == expected, "retraction != batch on reduced graph")
      assert(before != expected, "delete changed nothing — test is vacuous")
      // replay of the delete day: the lost-triangle enumeration now sees
      // the already-tombstoned edges as absent, so it must subtract
      // NOTHING a second time
      ops.TriIncr.deleteDay(spark, del, pA, whA, 3, nBuckets = 4)
      assert(rep() == expected, "delete replay not idempotent")
      ops.TriIncr.compactState(spark, pA, whA, nBuckets = 4)
      assert(rep() == expected, "compaction corrupted retraction state")
    } finally {
      ops.TriIncr.dropState(spark, pE)
      ops.TriIncr.dropState(spark, pA)
    }
  }
}
