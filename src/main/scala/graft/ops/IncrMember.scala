package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, pmod}

/** The contract every incremental-state member shares (Curate, Dedup,
  * Ann, Tfidf, Domains, Quality, Cluster, Tri): one prefix-scoped group
  * of IncrState tables that absorbs one slice per day (the reference's
  * daily batch, main.tf:214-244). A member declares only what is its
  * own — its tables, the table whose day partitions drive compaction,
  * its tombstones when it retracts by key, its SQL view — plus its fold
  * and delete. The lifecycle below (sizing accessors, compaction,
  * high-water day, drop, the delete-epoch purge), the path twins, the
  * fold/delete epilogue and the exhibit scaffold are defined here once;
  * the streaming drive (streaming.IncrInboxStream) runs any member.
  */
trait IncrMember {

  /** The member's state tables, tombstones aside. */
  private[ops] def stateTables(prefix: String): Seq[IncrState.StateTable]

  /** The table whose day partitions drive compaction and the file bound. */
  protected def sizingTable(prefix: String): String

  /** Retraction by key: the tombstone table, and the state tables
    * `purgeDeleted` filters against it. None for a member whose
    * retraction is purely additive — nothing to purge. */
  protected def tombstones(prefix: String): Option[IncrMember.Tombstones] = None

  /** The member's SQL view, if it has one: its (re-)registration (the
    * view SQL, IncrViews) and the catalog name it registers under. */
  protected def registerView: Option[IncrMember.View] = None
  protected def viewName(prefix: String): String = IncrViews.viewName(prefix)

  /** The bucket count a member's entry points default to. */
  def DefaultBuckets: Int = 32

  /** Hook the streaming drive runs after every fold and every delete
    * (Cluster's drift check). */
  private[graft] def afterStep(s: SparkSession, prefix: String, warehouse: String,
                               nBuckets: Int): Unit = ()

  // ---- lifecycle (IncrState, metadata-only unless a merge runs) ------

  /** Every table of a prefix's state — the group the lifecycle compacts
    * and drops: the tombstones compact alongside the state they retract
    * from. */
  protected def allTables(prefix: String): Seq[IncrState.StateTable] =
    stateTables(prefix) ++ tombstones(prefix).map(_.table)

  /** Non-epoch day partitions of the sizing table — the compaction
    * trigger's input. */
  def deltaDays(s: SparkSession, prefix: String, warehouse: String): Seq[Int] =
    IncrState.deltaDays(s, sizingTable(prefix), warehouse)

  /** Max parquet files sharing one bucket id — the file-growth number
    * the lifecycle bounds. */
  def maxFilesPerBucket(s: SparkSession, prefix: String, warehouse: String): Int =
    IncrState.maxFilesPerBucket(s, sizingTable(prefix), warehouse)

  /** Epoch partitions (day < 0) of the sizing table with their bytes —
    * the size-tiering input. */
  def epochSizes(s: SparkSession, prefix: String, warehouse: String): Map[Int, Long] =
    IncrState.epochSizes(s, sizingTable(prefix), warehouse)

  /** Daily-cadence hook: IncrState's size-tiered compaction over the
    * whole group. Returns true when a compaction ran. */
  def maybeCompact(s: SparkSession, prefix: String, warehouse: String,
                   nBuckets: Int = DefaultBuckets, maxDeltaDays: Int = 8): Boolean =
    IncrState.withLease(s, warehouse, prefix) {
      IncrState.sizeTieredCompact(s, warehouse, allTables(prefix),
        sizingTable(prefix), nBuckets, maxDeltaDays)
    }

  /** FULL merge: every partition of every table folds into one epoch. */
  def compactState(s: SparkSession, prefix: String, warehouse: String,
                   nBuckets: Int = DefaultBuckets): Unit =
    IncrState.withLease(s, warehouse, prefix) {
      IncrState.compactAll(s, warehouse, allTables(prefix), nBuckets)
    }

  /** Highest day ever folded into this warehouse; -1 when none. */
  def lastDay(s: SparkSession, prefix: String, warehouse: String): Int =
    IncrState.lastDay(s, warehouse, prefix)

  /** Drop `s`'s cached relations of the group's tables, so its next read
    * re-lists their files. A write made through another session — a
    * stream's micro-batch runs in a clone of the caller's — that
    * overwrote a day partition in place (a replayed batch) does not
    * reach `s`'s cached file listing, whose next read would open the
    * replaced files. Catalog-only: no table is resolved or read here. */
  private[graft] def refreshTables(s: SparkSession, prefix: String): Unit =
    allTables(prefix).foreach(t => s.sessionState.catalog.invalidateCachedTable(
      org.apache.spark.sql.catalyst.TableIdentifier(t.name)))

  /** Drop the group's catalog tables (the files stay; JVM-exit cleanup
    * owns exhibit warehouses). */
  def dropState(s: SparkSession, prefix: String): Unit =
    allTables(prefix).foreach(t => s.sql(s"DROP TABLE IF EXISTS ${t.name}"))

  /** The tombstoned keys, when any delete ever ran (None = the
    * pure-append path, whose plans stay tombstone-free). */
  protected def tombstoneKeys(s: SparkSession, prefix: String): Option[DataFrame] =
    tombstones(prefix).filter(t => s.catalog.tableExists(t.table.name))
      .map(t => s.table(t.table.name).select(t.key.map(col): _*).distinct())

  /** `df` minus the tombstoned keys — a broadcast anti-join on the
    * dimension-sized takedown set; `df` itself when no delete ever ran,
    * so pure-append plans stay tombstone-free. */
  protected def minusTombstones(s: SparkSession, prefix: String, df: DataFrame): DataFrame =
    (for (t <- tombstones(prefix); keys <- tombstoneKeys(s, prefix))
      yield df.join(broadcast(keys), t.key, "left_anti")).getOrElse(df)

  /** Physically drop retracted rows — the DELETE EPOCH: a full
    * compaction of the purged tables whose merge anti-joins the
    * tombstones (IncrState.compactAllWhere), so it costs one state
    * rewrite (O(state), never the raw corpus) and inherits the
    * compaction's stage→swap crash ordering. The tombstones themselves
    * are KEPT so delete-wins survives the purge; correctness never
    * depends on it. A no-op for members without tombstones. */
  def purgeDeleted(s: SparkSession, prefix: String, warehouse: String,
                   nBuckets: Int = DefaultBuckets): Unit =
    IncrState.withLease(s, warehouse, prefix) {
      tombstones(prefix).foreach { t =>
        // restart-safe: a purge may be the first touch after a JVM restart
        IncrState.ensureRegistered(s, t.table, warehouse)
        tombstoneKeys(s, prefix).foreach { tomb =>
          IncrState.compactAllWhere(s, warehouse, t.purged, nBuckets,
            _ => df => df.join(broadcast(tomb), t.key, "left_anti"))
        }
      }
    }

  /** The epilogue of every fold and delete: advance the high-water
    * marker, then re-register the member's SQL view if one is
    * registered (marker literals and tombstone-aware forms stay
    * current; a catalog probe otherwise — no jobs). */
  protected def dayDone(s: SparkSession, prefix: String, warehouse: String,
                        day: Int): Unit = {
    IncrState.writeLastDay(s, warehouse, day, prefix)
    registerView.filter(_ => s.catalog.tableExists(viewName(prefix)))
      .foreach(_(s, prefix, warehouse))
  }

  /** The scaffold of every `q_*_incr` / `q_*_del` exhibit: a unique
    * prefix `<tag>_<hex>` and a fresh warehouse for `build`, whose
    * report lands as parquet in the warehouse; the state tables drop and
    * the result is read back (ordered by `order`), so the caller's lazy
    * frame outlives the state. */
  protected def exhibit(s: SparkSession, tag: String, order: Column*)
                       (build: (String, String) => DataFrame): DataFrame = {
    val prefix = IncrState.freshPrefix(s"${tag}_")
    val wh = IncrState.newWarehouse()
    build(prefix, wh).write.mode("overwrite").parquet(s"$wh/result")
    dropState(s, prefix)
    s.read.parquet(s"$wh/result").orderBy(order: _*)
  }
}

object IncrMember {

  /** A SQL view's (re-)registration: (session, prefix, warehouse). */
  type View = (SparkSession, String, String) => Unit

  /** A member's retraction-by-key: the tombstone table, its key columns,
    * and the state tables `purgeDeleted` filters. */
  final case class Tombstones(table: IncrState.StateTable, key: Seq[String],
                              purged: Seq[IncrState.StateTable])

  /** A member whose fold and delete take the day's slice alone — every
    * member but Quality, whose fold also reads the customer dimension
    * (its path twins take that dimension's directory). It declares the
    * two steps, which the streaming shells (streaming.MemberStream)
    * drain through, and gets the path twins from them: the day's inputs
    * are, by construction, one slice directory plus the state, which is
    * what the suites' input-bytes bounds measure. */
  trait SliceFold extends IncrMember {
    private[graft] def fold(s: SparkSession, slice: DataFrame, prefix: String,
                            warehouse: String, day: Int, nBuckets: Int): Unit
    private[graft] def retract(s: SparkSession, deleted: DataFrame, prefix: String,
                               warehouse: String, day: Int, nBuckets: Int): Unit

    def runDayPath(s: SparkSession, slicePath: String, prefix: String,
                   warehouse: String, day: Int, nBuckets: Int = DefaultBuckets): Unit =
      fold(s, s.read.parquet(slicePath), prefix, warehouse, day, nBuckets)

    def deleteDayPath(s: SparkSession, slicePath: String, prefix: String,
                      warehouse: String, day: Int, nBuckets: Int = DefaultBuckets): Unit =
      retract(s, s.read.parquet(slicePath), prefix, warehouse, day, nBuckets)

    /** An exhibit's day: fold slice `k` of `days` of `in` — the rows
      * whose `key` mod `days` is k — as `day`. The bucket count is the
      * deployment's scale knob (hundreds at crawl scale, one bucket ≈
      * one task's worth of state rows); 8 keeps the per-day file count
      * sane at exhibit scale. */
    protected def foldSlice(s: SparkSession, in: DataFrame, key: Column, prefix: String,
                            warehouse: String, days: Int, k: Int, day: Int,
                            nBuckets: Int = 8): Unit =
      fold(s, in.filter(pmod(key, lit(days.toLong)) === k), prefix, warehouse, day, nBuckets)
  }
}
