package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** L48: Incremental data-quality report — the third (and last)
  * corpus-statistics member of the incremental lifecycle (L46 TF-IDF,
  * L47 domain stats; VERDICT r12 #6 named all three daily full-rescans).
  *
  * `q_quality_report` recomputes five corpus-wide constraint counters
  * over the full event stream every run. Four of them — row count, null
  * FK, negative value, FK orphans — are per-ROW properties whose daily
  * partials are plain int64 sums; they live in the O(days) `_qc_counts`
  * marker (day-keyed, so replays overwrite their own line) and serving
  * reads them as driver-side literals, no scan at all. The fifth,
  * pk_dupes = rows − COUNT(DISTINCT event_id), is the interesting one:
  * distinct is not additive across days under arbitrary slicing, so its
  * state is the D14b mergeable-bitmap shape —
  *
  *   - `{prefix}_pk` (bkt, src_day, bm) — per-day 32k-bit bitmaps of
  *     the day's event_ids (`bitmap_construct_agg`), BUCKETED on `bkt`
  *     and day-partitioned; `src_day` is the provenance column (epoch
  *     compaction rewrites the physical `day` but per-day bitmaps must
  *     stay distinct rows until serving ORs them; a replayed day's
  *     byte-identical copy dedups on (bkt, src_day)).
  *
  * Serving ORs the bitmaps per bucket (`bitmap_or_agg` — exact, unlike
  * an HLL merge) and popcounts: correct under ANY slicing, even if the
  * same event_id lands on several days — a strictly stronger losslessness
  * argument than the disjoint-doc-set one L46/L47 lean on. Both the
  * replay dedup and the OR-merge group on clusterings that contain
  * `bkt`, so the state side is exchange-free; what remains is the
  * one-row global popcount sum and the 5-row presentation sort. The
  * bitmap state is ~|id-space|/32768 rows per day and compacts through
  * the shared IncrState lifecycle; at 100 TB serving reads state,
  * never the event stream. Oracle = `q_quality_report`'s SQL verbatim
  * (the planted dirt is a function of event_id, so a slice's dirt is
  * the dirt of the slice).
  *
  * RETRACTION (round 14, VERDICT r13 #1): `deleteDay` folds a takedown
  * slice OUT — the additive counters land as a negated marker line,
  * the distinct-PK term gets a tombstone bitmap and serving popcounts
  * live AND NOT tomb (`functions.BitmapAndNot`). Contract: the delete
  * slice must be rows previously folded (the counters subtract
  * whatever is passed; only the bitmap side is inherently tolerant of
  * never-folded ids), and a tombstoned id stays retracted — re-adding
  * it needs a fresh state prefix. Oracle = the batch recompute on the
  * reduced corpus (`q_quality_del`).
  */
object QualityIncr extends IncrMember {

  private[ops] def pkTable(prefix: String) = s"${prefix}_pk"
  private[ops] def tombTable(prefix: String) = s"${prefix}_pk_del"
  // marker scoped by PREFIX, not warehouse (ADVICE r13): the pk bitmap
  // table is prefix-scoped, so two QualityIncr states sharing one
  // warehouse — which the API permits — must not merge each other's
  // additive counters; the leading underscore keeps the file invisible
  // to Spark's directory listings
  private def countsMarker(prefix: String) = s"_${prefix}_qc_counts"

  private[ops] def stateTables(prefix: String): Seq[IncrState.StateTable] = Seq(
    IncrState.StateTable(pkTable(prefix), "bkt", Seq("bkt", "src_day")),
    IncrState.StateTable(tombTable(prefix), "bkt", Seq("bkt", "src_day")))
  protected def sizingTable(prefix: String): String = pkTable(prefix)

  override protected def registerView: Option[IncrMember.View] =
    Some(IncrViews.registerQuality(_, _, _))

  /** The batch query's planted-dirt transform (deterministic in
    * event_id, so slicing commutes with it): null/orphan uids, negated
    * values, a duplicated slice. */
  private def dirty(slice: DataFrame): DataFrame = {
    val s = slice.sparkSession
    import s.implicits._
    val ev = slice.select($"event_id",
      when($"event_id" % 97 === 0, lit(null).cast("long"))
        .when($"event_id" % 103 === 0, $"user_id" + 1000000L)
        .otherwise($"user_id").as("uid"),
      when($"event_id" % 89 === 0, -$"value").otherwise($"value").as("v"))
    ev.union(ev.filter($"event_id" % 101 === 0))
  }

  /** Per-day marker lines: "day row_count null_user_id negative_value
    * fk_orphans" (keyed by day — a replay rewrites its own line; a
    * DELETE day's line carries negated values). A malformed non-empty
    * line FAILS LOUDLY (ADVICE r13): unlike the `_last_day` recovery
    * marker, these counters are load-bearing for four of the five
    * report checks — the degrade-don't-throw policy fits recovery aids,
    * not correctness state. */
  private[ops] def readCounts(s: SparkSession, wh: String, prefix: String): Map[Int, Seq[Long]] =
    IncrState.readMarker(s, wh, countsMarker(prefix)).map(_.linesIterator.flatMap { l =>
      if (l.trim.isEmpty) None
      else l.trim.split(' ') match {
        case Array(d, rest @ _*) if rest.length == 4
            && d.toIntOption.isDefined && rest.forall(_.toLongOption.isDefined) =>
          Some(d.toInt -> rest.map(_.toLong))
        case _ => throw new IllegalStateException(
          s"corrupt ${countsMarker(prefix)} line (quality counters are " +
            s"correctness state, refusing to silently drop it): '$l'")
      }
    }.toMap).getOrElse(Map.empty)

  private def writeCounts(s: SparkSession, wh: String, prefix: String,
                          counts: Map[Int, Seq[Long]]): Unit =
    IncrState.writeMarker(s, wh, countsMarker(prefix),
      counts.toSeq.sortBy(_._1)
        .map { case (d, vs) => s"$d ${vs.mkString(" ")}" }.mkString("\n"))

  /** Fold one day's RAW events into the quality state: apply the dirt
    * transform, one pass for the four additive counters (the orphan
    * check rides the same pass as a broadcast-dim left join — customer
    * is the static FK dimension), one bucketed bitmap write for the
    * distinct-PK state. Cost ∝ slice; history never re-read. */
  /** The four additive counters of one (dirt-transformed) slice, in ONE
    * pass (c_custkey is the customer PK, so the left join never
    * multiplies rows; absent match = orphan). */
  private def sliceCounters(d: DataFrame, customers: DataFrame): Seq[Long] = {
    val s = d.sparkSession
    import s.implicits._
    val row = d
      .join(broadcast(customers.select($"c_custkey")),
        $"uid" === $"c_custkey", "left")
      .agg(count(lit(1)).as("rc"),
        sum(when($"uid".isNull, 1L).otherwise(0L)).as("nulls"),
        sum(when($"v" < 0, 1L).otherwise(0L)).as("negs"),
        sum(when($"uid".isNotNull && $"c_custkey".isNull, 1L).otherwise(0L))
          .as("orph"))
      .collect()(0)
    Seq(row.getLong(0),
      if (row.isNullAt(1)) 0L else row.getLong(1),
      if (row.isNullAt(2)) 0L else row.getLong(2),
      if (row.isNullAt(3)) 0L else row.getLong(3))
  }

  /** One slice's event_id bitmaps (dup rows OR into the same bits, so
    * the result is exactly the slice's DISTINCT ids), stamped for day. */
  private def sliceBitmaps(d: DataFrame, day: Int): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    d.select(expr("bitmap_bucket_number(event_id)").as("bkt"),
        expr("bitmap_bit_position(event_id)").as("pos"))
      .groupBy($"bkt").agg(expr("bitmap_construct_agg(pos)").as("bm"))
      .withColumn("src_day", lit(day))
      .withColumn("day", lit(day))
  }

  def runDay(s: SparkSession, slice: DataFrame, customers: DataFrame,
             prefix: String, warehouse: String, day: Int,
             nBuckets: Int = 32): Unit =
    IncrState.withLease(s, warehouse, prefix) {
    val Seq(pkT, _) = stateTables(prefix)
    val d = dirty(slice)
    // the additive counters and the PK bitmap write are two independent
    // passes over the same dirt-transformed slice — overlap them (§2.6;
    // join() publishes vals to this thread)
    var vals: Seq[Long] = null
    IncrState.concurrently(Seq(
      () => vals = sliceCounters(d, customers),
      () => IncrState.writeDay(s, sliceBitmaps(d, day), pkT, warehouse, day, nBuckets)))
    writeCounts(s, warehouse, prefix,
      readCounts(s, warehouse, prefix) + (day -> vals))
    // keeps the SQL report view's baked counter literals current
    dayDone(s, prefix, warehouse, day)
  }

  /** Retraction (VERDICT r13 #1): fold one day's DELETED events out of
    * the quality state — the takedown/GDPR path, cost ∝ delete slice
    * (the slice is read once; history is NEVER re-read; no state table
    * is read at all). The state algebra splits exactly as designed:
    *
    *   - the four additive counters SUBTRACT — the delete slice runs
    *     through the same dirt transform and its counters land as a
    *     NEGATED marker line keyed by the delete day (a replayed delete
    *     day rewrites its own line: idempotent);
    *   - the non-additive distinct-PK bitmap gets a TOMBSTONE bitmap in
    *     `{prefix}_pk_del` (same bkt-bucketed day-partitioned shape);
    *     serving reads distinct = popcount(live AND NOT tomb) via the
    *     native `bitmap_andnot`, so a retracted id vanishes from the
    *     distinct count exactly, and retracting an id that was never
    *     folded is harmless (its live bit was never set).
    *
    * Semantics: a tombstone retracts the id from the WHOLE corpus
    * (point-in-time takedown, the reference's overwrite-a-day
    * `src/main.py:70-73` generalized); re-admitting a retracted id
    * later requires a new state prefix, by design — delete wins.
    * `day` must be a fresh day id (same contract as runDay: one day id
    * per fold or delete event). */
  def deleteDay(s: SparkSession, deleted: DataFrame, customers: DataFrame,
                prefix: String, warehouse: String, day: Int,
                nBuckets: Int = 32): Unit =
    IncrState.withLease(s, warehouse, prefix) {
    val Seq(_, tombT) = stateTables(prefix)
    val d = dirty(deleted)
    // same overlap as the fold: counters and tombstone bitmaps are
    // independent passes over the delete slice (§2.6)
    var vals: Seq[Long] = null
    IncrState.concurrently(Seq(
      () => vals = sliceCounters(d, customers).map(-_),
      () => IncrState.writeDay(s, sliceBitmaps(d, day), tombT, warehouse, day, nBuckets)))
    writeCounts(s, warehouse, prefix,
      readCounts(s, warehouse, prefix) + (day -> vals))
    dayDone(s, prefix, warehouse, day)
  }

  /** Path-based delete twin for the suite's input-bytes test. */
  def deleteDayPath(s: SparkSession, slicePath: String, custDir: String,
                    prefix: String, warehouse: String, day: Int,
                    nBuckets: Int = 32): Unit =
    deleteDay(s, s.read.parquet(slicePath), Tables.customer(s, custDir),
      prefix, warehouse, day, nBuckets)

  /** Path-based twin for the suite's input-bytes test. */
  def runDayPath(s: SparkSession, slicePath: String, custDir: String,
                 prefix: String, warehouse: String, day: Int,
                 nBuckets: Int = 32): Unit =
    runDay(s, s.read.parquet(slicePath), Tables.customer(s, custDir),
      prefix, warehouse, day, nBuckets)

  /** The full quality report off the persisted state — output identical
    * to `q_quality_report`. The four additive counters are LITERALS
    * from the marker; pk_dupes = Σrows − exact distinct from the
    * OR-merged bitmap state (dedup and merge both exchange-free under
    * the `bkt` bucketing). */
  def report(s: SparkSession, prefix: String, warehouse: String): DataFrame = {
    import s.implicits._
    allTables(prefix).foreach(IncrState.ensureRegistered(s, _, warehouse))
    val sums = readCounts(s, warehouse, prefix).values
      .foldLeft(Seq(0L, 0L, 0L, 0L))((a, b) => a.zip(b).map(t => t._1 + t._2))
    val Seq(rc, nulls, negs, orph) = sums
    val live = s.table(pkTable(prefix))
      .select($"bkt", $"src_day", $"bm")
      .dropDuplicates("bkt", "src_day")
      .groupBy($"bkt").agg(expr("bitmap_or_agg(bm)").as("lbm"))
    // distinct = popcount(live AND NOT tombstones). The tomb table only
    // exists once a deleteDay ran; the pure-append path keeps its old
    // single-table plan. Both sides are bucketed AND grouped on `bkt`,
    // so the left join stays exchange-free; a bucket with no tombstones
    // coalesces to the empty bitmap (andnot clears nothing past the
    // tombstone's end, so empty = retract nothing).
    val counted =
      if (!s.catalog.tableExists(tombTable(prefix)))
        live.select(expr("bitmap_count(lbm)").as("c"))
      else {
        val tomb = s.table(tombTable(prefix))
          .select($"bkt", $"src_day", $"bm")
          .dropDuplicates("bkt", "src_day")
          .groupBy($"bkt").agg(expr("bitmap_or_agg(bm)").as("tbm"))
        live.join(tomb, Seq("bkt"), "left")
          .select(graft.functions.BitmapAndNot.andNot($"lbm",
            coalesce($"tbm", lit(Array.emptyByteArray))).as("dbm"))
          .select(expr("bitmap_count(dbm)").as("c"))
      }
    counted
      .agg(coalesce(sum($"c"), lit(0L)).as("nd"))
      .selectExpr(s"""stack(5,
          'fk_orphans', ${orph}L,
          'negative_value', ${negs}L,
          'null_user_id', ${nulls}L,
          'pk_dupes', ${rc}L - nd,
          'row_count', ${rc}L) AS (check_name, violations)""")
      .orderBy("check_name")
  }

  /** Daily loop over `days` slices (event_id mod days) + report — the
    * oracle is the full-corpus recompute (`q_quality_report`'s SQL
    * verbatim). */
  def incremental(s: SparkSession, dir: String, days: Int): DataFrame =
    exhibit(s, "quality_incr", col("check_name")) { (prefix, wh) =>
      foldDays(s, dir, prefix, wh, days)
      report(s, prefix, wh)
    }

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("event_id"), col("user_id"), col("value"))

  private def foldDays(s: SparkSession, dir: String, prefix: String, wh: String,
                       days: Int): Unit = {
    val (ev, cust) = (events(s, dir), Tables.customer(s, dir))
    (0 until days).foreach { day =>
      runDay(s, ev.filter(pmod(col("event_id"), lit(days.toLong)) === day),
        cust, prefix, wh, day, nBuckets = 8)
    }
  }

  /** Fold `days` slices, then RETRACT the events with
    * event_id % 7 == 3 (an arbitrary deterministic takedown set, some
    * of whose members land on every fold day) as delete day `days` —
    * the oracle is the batch recompute on the REDUCED corpus
    * (`q_quality_report`'s SQL with the takedown set excluded), so the
    * pass proves fold(deletes) == batch-on-reduced-corpus exactly:
    * additive counters via negated marker lines, the distinct-PK term
    * via the tombstone and-not. */
  def incrementalDel(s: SparkSession, dir: String, days: Int): DataFrame =
    exhibit(s, "quality_del", col("check_name")) { (prefix, wh) =>
      foldDays(s, dir, prefix, wh, days)
      deleteDay(s, events(s, dir).filter(pmod(col("event_id"), lit(7L)) === 3),
        Tables.customer(s, dir), prefix, wh, days, nBuckets = 8)
      report(s, prefix, wh)
    }

  val qs: Map[String, Q] = Map(
    "q_quality_incr" -> ((s, d) => incremental(s, d, 3)),
    "q_quality_del" -> ((s, d) => incrementalDel(s, d, 3))
  )
}
