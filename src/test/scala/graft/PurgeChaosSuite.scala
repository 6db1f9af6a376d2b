package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Crash-injection for the DELETE-EPOCH purge (VERDICT r14 #6): the
  * purge is a full compaction whose transform anti-joins the tombstone
  * set (IncrState.compactAllWhere), claimed crash-safe by the
  * stage→swap ordering — "a crash mid-purge leaves a superset; the
  * replay re-runs the same filtered merge". This suite actually opens
  * the two windows no prior test killed:
  *
  *   1. BETWEEN the tombstone write and the purge — the state is
  *      tombstoned but physically unpurged, and the JVM "dies" (the
  *      in-memory catalog is dropped; the warehouse files survive, the
  *      real restart shape). Every read must already be delete-correct
  *      through the tombstone anti-joins, and the purge must run fine
  *      after re-registration.
  *   2. MID-purge across a MULTI-TABLE group — table 1 fully purged,
  *      the crash lands before table 2's merge (injected by a transform
  *      that throws when it reaches the second table). The group is now
  *      heterogeneous (one table purged, one superset) — reads must
  *      STILL be delete-correct, and the replayed purge must complete
  *      the job.
  *
  * Two members with different table counts: DedupIncr (bands + docs +
  * the tombstones compacted alongside) and AnnIncr (codes + vecs,
  * tombstones kept). The oracle everywhere is the member's own
  * reduced-corpus serving read captured BEFORE any chaos. */
class PurgeChaosSuite extends SparkSpec {

  /** Simulate a JVM restart: drop the catalog entries (they are
    * in-memory only — a real restart loses them) while the warehouse
    * files survive. Consumers must come back via ensureRegistered. */
  private def simulateRestart(tables: Seq[String]): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("DedupIncr: crash between tombstone write and purge, then mid-purge") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val prefix = IncrState.freshPrefix("purge_chaos_d_")
    val wh = IncrState.newWarehouse()
    val del = docs.filter(pmod($"doc_id", lit(7L)) === 3).select($"doc_id")
    try {
      (0 until 3).foreach(d => DedupIncr.runDay(spark,
        docs.filter(pmod($"doc_id", lit(3L)) === d), prefix, wh, d, nBuckets = 4))
      DedupIncr.deleteDay(spark, del, prefix, wh, 3, nBuckets = 4)
      val oracle = canon(DedupIncr.pairs(spark, prefix, wh))
      assert(oracle.nonEmpty, "reduced corpus has no pairs — suite is vacuous")

      // window 1: die between the tombstone write and the purge
      simulateRestart(Seq(DedupIncr.bandsTable(prefix),
        DedupIncr.docsTable(prefix), DedupIncr.delTable(prefix)))
      assert(canon(DedupIncr.pairs(spark, prefix, wh)) == oracle,
        "post-restart pre-purge read lost delete correctness")

      // window 2: purge crashes after the FIRST table of the group —
      // inject via a transform that throws when the merge reaches the
      // second table (docs); bands is already purged + swapped. The
      // tomb table's catalog entry also died in the restart — pairs()
      // has no reason to touch it (the delete already rewrote the
      // ledger), so this direct read must re-register it first, the
      // same ensureRegistered step every member read path performs.
      IncrState.ensureRegistered(spark,
        IncrState.StateTable(DedupIncr.delTable(prefix), "doc_id", Seq("doc_id")), wh)
      val tomb = spark.table(DedupIncr.delTable(prefix))
        .select($"doc_id").distinct()
      val boom = intercept[RuntimeException] {
        IncrState.compactAllWhere(spark, wh, DedupIncr.stateTables(prefix), 4,
          t => df =>
            if (t.name == DedupIncr.docsTable(prefix))
              throw new RuntimeException("injected mid-purge crash")
            else df.join(broadcast(tomb), Seq("doc_id"), "left_anti"))
      }
      assert(boom.getMessage.contains("injected"))
      // heterogeneous group (bands purged, docs superset): reads must
      // still be delete-correct through the tombstone anti-joins
      assert(canon(DedupIncr.pairs(spark, prefix, wh)) == oracle,
        "mid-purge crash broke the serving read")
      // the replayed purge completes the job
      DedupIncr.purgeDeleted(spark, prefix, wh, nBuckets = 4)
      assert(canon(DedupIncr.pairs(spark, prefix, wh)) == oracle,
        "replayed purge changed the serving read")
      // physical check: no tombstoned doc survives in either state table
      val delSet = del
      assert(spark.table(DedupIncr.docsTable(prefix))
        .join(delSet, Seq("doc_id"), "left_semi").count() == 0,
        "purge left tombstoned docs in the shingle store")
      assert(spark.table(DedupIncr.bandsTable(prefix))
        .join(delSet, Seq("doc_id"), "left_semi").count() == 0,
        "purge left tombstoned docs in the band store")
    } finally DedupIncr.dropState(spark, prefix)
  }

  test("AnnIncr: crash between tombstone write and purge, then mid-purge") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val prefix = IncrState.freshPrefix("purge_chaos_a_")
    val wh = IncrState.newWarehouse()
    val del = emb.filter(pmod($"vec_id", lit(7L)) === 3).select($"vec_id")
    def serve(): Seq[String] = canon(
      AnnIncr.topK(spark, prefix, wh, AnnIncr.storeQueries(spark, prefix, wh), 3))
    try {
      (0 until 3).foreach(d => AnnIncr.runDay(spark,
        emb.filter(pmod($"vec_id", lit(3L)) === d), prefix, wh, d, nBuckets = 4))
      AnnIncr.deleteDay(spark, del, prefix, wh, 3, nBuckets = 4)
      val oracle = serve()
      assert(oracle.nonEmpty, "serving read is vacuous")

      // window 1: restart between tombstones and purge
      simulateRestart(Seq(AnnIncr.codesTable(prefix),
        AnnIncr.vecsTable(prefix), AnnIncr.delTable(prefix)))
      assert(serve() == oracle, "post-restart pre-purge read broke")

      // window 2: purge dies after codes, before vecs
      val tomb = spark.table(AnnIncr.delTable(prefix))
        .select($"vec_id").distinct()
      intercept[RuntimeException] {
        IncrState.compactAllWhere(spark, wh, AnnIncr.stateTables(prefix), 4,
          t => df =>
            if (t.name == AnnIncr.vecsTable(prefix))
              throw new RuntimeException("injected mid-purge crash")
            else df.join(broadcast(tomb), Seq("vec_id"), "left_anti"))
      }
      assert(serve() == oracle, "mid-purge crash broke the serving read")
      AnnIncr.purgeDeleted(spark, prefix, wh, nBuckets = 4)
      assert(serve() == oracle, "replayed purge changed the serving read")
      assert(spark.table(AnnIncr.vecsTable(prefix))
        .join(del, Seq("vec_id"), "left_semi").count() == 0,
        "purge left tombstoned vectors in the vec store")
      assert(spark.table(AnnIncr.codesTable(prefix))
        .join(del, Seq("vec_id"), "left_semi").count() == 0,
        "purge left tombstoned vectors in the code store")
    } finally AnnIncr.dropState(spark, prefix)
  }

  test("lease takeover mid-compaction: holder dies between stage and swap; the taker converges (VERDICT r16 #7)") {
    // the stage→swap ordering claims crash-safety; prove it COMPOSES
    // with a TTL takeover: a holder crashes after writing the stage dir
    // but before the swap, its lease goes stale, a second writer breaks
    // in and runs its own compaction — the final state must equal the
    // never-crashed run (the taker's stage overwrite must clobber the
    // corpse's leftovers, and the dead holder's release must not damage
    // the taker's lease).
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val prefix = IncrState.freshPrefix("takeover_c_")
    val wh = IncrState.newWarehouse()
    val hconf = spark.sparkContext.hadoopConfiguration
    try {
      (0 until 3).foreach(d => DomainsIncr.runDay(spark,
        docs.filter(pmod($"doc_id", lit(3L)) === d), prefix, wh, d, nBuckets = 4))
      val expected = canon(DomainsIncr.report(spark, prefix, wh))
      assert(expected.nonEmpty, "report vacuous")
      // the crashed holder: acquired, wrote a stage dir (with contents a
      // real mid-compaction crash would leave — here deliberately
      // DIFFERENT rows/schema so any taker that merges instead of
      // overwriting the stage diverges loudly), then died before the swap
      val orphan = IncrState.acquireLease(hconf, wh, prefix)
      spark.range(7).selectExpr("concat('corpse', id) AS junk")
        .write.mode("overwrite").parquet(s"$wh/_compact_stage_${DomainsIncr.dlTable(prefix)}")
      val lease = new org.apache.hadoop.fs.Path(s"$wh/_lease.$prefix")
      val fs = lease.getFileSystem(hconf)
      fs.setTimes(lease, System.currentTimeMillis() - IncrState.DefaultLeaseTtlMs - 60000, -1)
      // the taker breaks the stale lease and compacts
      DomainsIncr.compactState(spark, prefix, wh, nBuckets = 4)
      assert(canon(DomainsIncr.report(spark, prefix, wh)) == expected,
        "takeover compaction diverged from the never-crashed run")
      assert(DomainsIncr.deltaDays(spark, prefix, wh).isEmpty,
        "taker's compaction left day partitions behind")
      assert(DomainsIncr.epochSizes(spark, prefix, wh).nonEmpty,
        "taker's compaction produced no epoch")
      // the corpse's finally block fires late: must be a no-op
      IncrState.releaseLease(hconf, wh, prefix, orphan)
      assert(canon(DomainsIncr.report(spark, prefix, wh)) == expected,
        "dead holder's release damaged post-takeover state")
      // and the next writer proceeds normally
      DomainsIncr.runDay(spark,
        docs.filter(pmod($"doc_id", lit(3L)) === 0), prefix, wh, 3, nBuckets = 4)
    } finally DomainsIncr.dropState(spark, prefix)
  }

  test("pre-scoped-marker warehouses are refused LOUDLY, never degraded (ADVICE r16 #2)") {
    // a warehouse written before the round-16 per-prefix marker scoping
    // carries unscoped `_ann_conf`/`_vec_counts`/... and no format
    // stamp; folding it through the scoped readers would silently code
    // at a different width than the built index. Both the write plane
    // (withLease) and the read plane (ensureRegistered) must refuse
    // with migration instructions.
    val hconf = spark.sparkContext.hadoopConfiguration
    val wh = IncrState.newWarehouse()
    val legacy = new org.apache.hadoop.fs.Path(s"$wh/_ann_conf")
    val fs = legacy.getFileSystem(hconf)
    val out = fs.create(legacy, true)
    try out.write("4 4".getBytes("UTF-8")) finally out.close()
    val e = intercept[IllegalStateException] {
      IncrState.withLease(spark, wh, "p") { fail("must not run on an old-format warehouse") }
    }
    assert(e.getMessage.contains("_ann_conf") && e.getMessage.contains("Migrate"),
      s"refusal must name the legacy marker and the migration: ${e.getMessage}")
    intercept[IllegalStateException] {
      IncrState.ensureRegistered(spark,
        IncrState.StateTable("nonexistent_t", "id", Seq("id")), wh)
    }
    // stamping the version (what a finished migration does) unblocks it
    val stamp = new org.apache.hadoop.fs.Path(s"$wh/${IncrState.FormatMarker}")
    val out2 = fs.create(stamp, true)
    try out2.write(IncrState.FormatVersion.getBytes("UTF-8")) finally out2.close()
    var ran = false
    IncrState.withLease(spark, wh, "p") { ran = true }
    assert(ran)
  }

  test("writeDay refuses a column the existing table lacks (old-layout tombstones)") {
    import spark.implicits._
    val wh = IncrState.newWarehouse()
    val t = IncrState.StateTable(IncrState.freshPrefix("drift_t_"), "id", Seq("id"))
    try {
      IncrState.writeDay(spark,
        spark.range(10).select($"id").withColumn("day", lit(0)), t, wh, 0, nBuckets = 2)
      // a newer writer producing src_day (the round-16 tombstone
      // provenance column) against the old table: the positional select
      // used to DROP it silently and fail far from the cause
      val e = intercept[IllegalStateException] {
        IncrState.writeDay(spark,
          spark.range(10).select($"id").withColumn("src_day", lit(1))
            .withColumn("day", lit(1)), t, wh, 1, nBuckets = 2)
      }
      assert(e.getMessage.contains("src_day") && e.getMessage.contains(t.name),
        s"drift refusal must name the column and table: ${e.getMessage}")
    } finally spark.sql(s"DROP TABLE IF EXISTS ${t.name}")
  }
}
