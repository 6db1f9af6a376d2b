package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** L47: Incremental domain statistics — the second corpus-statistics
  * member of the incremental-state family (after L46 TF-IDF; lifecycle
  * shared with L43/L44/L45 via IncrState).
  *
  * `q_url_domains` — the crawl-governance report (per-domain document
  * count, language spread, deny-list flag; reference src/main.py:49-61's
  * source registry is the domain dimension) — re-scans and re-aggregates
  * the ENTIRE corpus every daily run, yet its state decomposes exactly
  * into mergeable int64 partials: a day's (domain, lang) counts never
  * change once landed (documents are append-only, main.py:263 daily
  * landing). This module persists ONE state table:
  *
  *   - `{prefix}_dl` (domain, lang, src_day, n_part) — the day's
  *     per-(domain, lang) document counts, BUCKETED on `domain` (the
  *     serving group/join key) and partitioned by arrival `day`.
  *     `src_day` is the provenance column (distinct from the physical
  *     partition): epoch compaction rewrites `day` but partials from
  *     different days must stay additive, while a replayed day
  *     re-landing beside its epoch copy must collapse — dedup on
  *     (domain, lang, src_day) does both, because a day's partial is a
  *     deterministic function of its slice.
  *
  * The state is TINY relative to the corpus — |domains| × |langs| ×
  * |days| rows of four scalar columns — so at 100 TB the fold's cost is
  * one map-side-combinable aggregate over the day's slice and the
  * serving report reads megabytes where the batch query re-reads
  * terabytes. Serving is exchange-free on every state side: the replay
  * dedup, the partial sum, and the distinct-language count all group on
  * clusterings that CONTAIN `domain`, which the bucketing satisfies;
  * the deny-list joins broadcast; the one shuffle left is the
  * presentation sort, same as the batch plan's last stage. The DuckDB
  * oracle is `q_url_domains`'s SQL verbatim: summed per-day partials
  * equal the full-corpus counts because doc sets are disjoint across
  * days, and the language set per domain is the union of the per-day
  * sets.
  */
object DomainsIncr extends IncrMember.SliceFold {

  private[ops] def dlTable(prefix: String) = s"${prefix}_dl"

  private[ops] def stateTables(prefix: String): Seq[IncrState.StateTable] = Seq(
    IncrState.StateTable(dlTable(prefix), "domain", Seq("domain", "lang", "src_day")))
  protected def sizingTable(prefix: String): String = dlTable(prefix)

  override protected def registerView: Option[IncrMember.View] =
    Some(IncrViews.registerDomains(_, _, _))

  private[graft] def fold(s: SparkSession, in: DataFrame, p: String, wh: String, day: Int,
                          nb: Int): Unit = runDay(s, in, p, wh, day, nb)
  private[graft] def retract(s: SparkSession, in: DataFrame, p: String, wh: String, day: Int,
                             nb: Int): Unit = deleteDay(s, in, p, wh, day, nb)

  /** Fold one day's documents into the statistics state: derive the
    * domain (same expression as the batch query), one partial-aggregable
    * count per (domain, lang), bucketed write. Cost ∝ slice; no join,
    * no history read. */
  def runDay(s: SparkSession, slice: DataFrame, prefix: String,
             warehouse: String, day: Int, nBuckets: Int = 32): Unit =
    step(s, slice, prefix, warehouse, day, nBuckets, sign = 1)

  /** Retraction (VERDICT r13 #1): fold one day's DELETED documents OUT
    * of the statistics state — the takedown/GDPR path. The state is
    * purely additive, so deletion is exact and free of any state read:
    * the delete slice runs through the SAME per-(domain, lang) count as
    * a fold and lands with `n_part` NEGATED under its own day id — cost
    * ∝ delete slice, history never touched, replay idempotent (the
    * delete day dynamic-overwrites its own partition, like any day).
    * Serving nets the signed partials per (domain, lang); a group whose
    * docs are all retracted nets to 0 and drops out of BOTH the doc
    * count and the language spread, matching the batch recompute on the
    * reduced corpus exactly. `day` must be a fresh day id (same
    * contract as runDay). */
  def deleteDay(s: SparkSession, deleted: DataFrame, prefix: String,
                warehouse: String, day: Int, nBuckets: Int = 32): Unit =
    step(s, deleted, prefix, warehouse, day, nBuckets, sign = -1)

  /** The one day step of fold (`sign` 1) and delete (`sign` -1): the
    * slice's per-(domain, lang) counts land with that sign. */
  private def step(s: SparkSession, slice: DataFrame, prefix: String, warehouse: String,
                   day: Int, nBuckets: Int, sign: Int): Unit =
    IncrState.withLease(s, warehouse, prefix) {
      import s.implicits._
      val Seq(dlT) = stateTables(prefix)
      val n = count(lit(1))
      val part = slice
        .withColumn("url", concat(lit("https://"), $"source",
          lit(".example.com/d/"), $"doc_id".cast("string")))
        .withColumn("domain", regexp_extract($"url", "https?://([^/]+)/", 1))
        .groupBy($"domain", $"lang").agg((if (sign < 0) -n else n).as("n_part"))
        .withColumn("src_day", lit(day))
        .withColumn("day", lit(day))
      IncrState.writeDay(s, part, dlT, warehouse, day, nBuckets)
      dayDone(s, prefix, warehouse, day)
    }

  /** The full domain report off the persisted state — output identical
    * to `q_url_domains`: the serving read `IncrViews.domainsSql` (replay
    * dedup → SIGNED partial net per (domain, lang), a fully-retracted
    * group nets to 0 and is dropped, so both n_docs and the language
    * spread shrink exactly as the batch recompute on the reduced corpus
    * would → per-domain sum + language count, every grouping contains
    * `domain`, which the bucketing satisfies — no exchange → broadcast
    * deny join) plus the presentation sort (the one shuffle, identical
    * to the batch plan's). */
  def report(s: SparkSession, prefix: String, warehouse: String): DataFrame = {
    allTables(prefix).foreach(IncrState.ensureRegistered(s, _, warehouse))
    s.sql(IncrViews.domainsSql(s, prefix, warehouse)).orderBy("domain")
  }

  /** Daily loop over `days` slices (doc_id mod days) + report — the
    * oracle is the full-corpus recompute (`q_url_domains`'s SQL
    * verbatim). */
  def incremental(s: SparkSession, dir: String, days: Int): DataFrame =
    exhibit(s, "domains_incr", col("domain")) { (prefix, wh) =>
      val docs = Tables.documents(s, dir)
      (0 until days).foreach(d => foldSlice(s, docs, col("doc_id"), prefix, wh, days, d, d))
      report(s, prefix, wh)
    }

  /** Fold `days` slices, then RETRACT the documents with
    * doc_id % 7 == 3 (a deterministic takedown set spanning every fold
    * day) as delete day `days` — the oracle is the batch recompute on
    * the REDUCED corpus (`q_url_domains`'s SQL with the takedown set
    * excluded), proving fold(deletes) == batch-on-reduced-corpus via
    * pure negative partials. */
  def incrementalDel(s: SparkSession, dir: String, days: Int): DataFrame =
    exhibit(s, "domains_del", col("domain")) { (prefix, wh) =>
      val docs = Tables.documents(s, dir)
      (0 until days).foreach(d => foldSlice(s, docs, col("doc_id"), prefix, wh, days, d, d))
      deleteDay(s, docs.filter(pmod(col("doc_id"), lit(7L)) === 3),
        prefix, wh, days, nBuckets = 8)
      report(s, prefix, wh)
    }

  val qs: Map[String, Q] = Map(
    "q_domains_incr" -> ((s, d) => incremental(s, d, 3)),
    "q_domains_del" -> ((s, d) => incrementalDel(s, d, 3))
  )
}
