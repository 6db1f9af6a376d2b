package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** L46: Incremental TF-IDF — the corpus-statistics family joins the
  * incremental-state lifecycle (L43 curation, L44 near-dup, L45 ANN).
  * `q_text_tfidf` re-tokenizes and re-aggregates the ENTIRE corpus every
  * run to refresh two corpus-wide statistics — per-term document
  * frequency and the document count — yet both are exactly the mergeable
  * int64 partials the D11/D14b aggregates already demonstrate: a day's
  * df contribution never changes once computed (documents are
  * append-only, reference src/main.py:263 daily landing), so the daily
  * full rescan is pure waste at 100 TB. This module persists:
  *
  *   - `{prefix}_tf` (doc_id, tok, tf, src_day) — per-document term
  *     frequencies, BUCKETED on `tok` (the serving join key) and
  *     partitioned by arrival day. doc_ids are disjoint across days, so
  *     rows are unique on (doc_id, tok, src_day) and each document is
  *     tokenized ONCE, ever; `src_day` is the provenance column (same
  *     role as the df table's — epoch compaction rewrites the physical
  *     `day` but a replayed day must still collapse against its epoch
  *     copy, and a delete day's NEGATED rows must stay distinct from
  *     the fold rows they retract until serving nets them).
  *   - `{prefix}_df` (tok, src_day, df_part) — the day's document-
  *     frequency partials, bucketed on `tok` likewise. `src_day` is a
  *     PROVENANCE column distinct from the physical `day` partition:
  *     epoch compaction rewrites `day` but must keep partials from
  *     different days additive, while a replayed day re-landing beside
  *     its epoch copy must still collapse — dedup on (tok, src_day)
  *     does both (partial values are deterministic functions of the
  *     slice, so the copies are byte-identical).
  *   - `_doc_counts` — the per-day document counts (IncrState day-count
  *     marker, O(days) bytes), so n_docs is a driver-side literal at
  *     serving time: no scan at all for the global count.
  *
  * A day's fold is tokenize → two map-side-combinable aggregates →
  * bucketed writes: cost ∝ slice, no join, no history read. Serving
  * reads the state exchange-free on every side — the tf·df join and
  * both dedup/sum aggregates are satisfied by the shared `tok`
  * bucketing (HashPartitioning(tok) satisfies any clustering that
  * CONTAINS tok) — so the only shuffle in the whole report is the
  * output-inherent per-document top-k window, identical to the batch
  * query's last stage. The DuckDB oracle is `q_text_tfidf`'s SQL
  * verbatim: summed per-day df partials equal the full-corpus df
  * because doc sets are disjoint across days.
  */
object TfidfIncr extends IncrMember.SliceFold {

  private[ops] def tfTable(prefix: String) = s"${prefix}_tf"
  private[ops] def dfTable(prefix: String) = s"${prefix}_df"

  /** PER-PREFIX marker (round 16, the ClusterIncr/QualityIncr house
    * pattern): two TF-IDF members sharing one warehouse must not pool
    * their n_docs. */
  private def docCountsMarker(prefix: String) = s"_doc_counts.$prefix"

  private[ops] def stateTables(prefix: String): Seq[IncrState.StateTable] = Seq(
    IncrState.StateTable(tfTable(prefix), "tok", Seq("doc_id", "tok", "src_day")),
    IncrState.StateTable(dfTable(prefix), "tok", Seq("tok", "src_day")))

  /** The tf table drives sizing. */
  protected def sizingTable(prefix: String): String = tfTable(prefix)

  override protected def registerView: Option[IncrMember.View] =
    Some(IncrViews.registerTfidf(_, _, _))

  private[graft] def fold(s: SparkSession, in: DataFrame, p: String, wh: String, day: Int,
                          nb: Int): Unit = runDay(s, in, p, wh, day, nb)
  private[graft] def retract(s: SparkSession, in: DataFrame, p: String, wh: String, day: Int,
                             nb: Int): Unit = deleteDay(s, in, p, wh, day, nb)

  /** Fold one day's documents into the statistics state. Reads ONLY the
    * slice (once, for the tf build) plus the fresh tf partition it just
    * wrote (the df partials derive from stored tf rows, not a second
    * scan of raw text — the family's no-runtime-cache discipline). */
  def runDay(s: SparkSession, slice: DataFrame, prefix: String,
             warehouse: String, day: Int, nBuckets: Int = 32): Unit =
    step(s, slice, prefix, warehouse, day, nBuckets, sign = 1)

  /** Retraction (VERDICT r13 #1, round 14): fold one day's DELETED
    * documents OUT of the statistics state — the takedown/GDPR path.
    * Both state tables are purely ADDITIVE int64 partials, so deletion
    * is exact and reads no state at all: the delete slice runs through
    * the SAME tokenize → tf → df pipeline as a fold with every partial
    * NEGATED, landing under its own fresh day id — cost ∝ delete slice,
    * history never touched, replay idempotent (the delete day
    * dynamic-overwrites its own partition and its rows dedup on
    * (doc_id, tok, src_day) / (tok, src_day) like any day's). Serving
    * nets the signed partials: a retracted document's tf rows sum to 0
    * and drop out, each of its tokens' df drops by one, and n_docs
    * shrinks via a negated marker line — exactly the batch recompute on
    * the reduced corpus. Contract: the delete slice must be documents
    * previously folded, with IDENTICAL text (the negation subtracts
    * whatever is passed); `day` must be a fresh day id (one day id per
    * fold or delete event, same as runDay). */
  def deleteDay(s: SparkSession, deleted: DataFrame, prefix: String,
                warehouse: String, day: Int, nBuckets: Int = 32): Unit =
    step(s, deleted, prefix, warehouse, day, nBuckets, sign = -1)

  /** The one day step of fold (`sign` 1) and delete (`sign` -1): every
    * partial of the slice — tf, df and the day's doc count — lands with
    * that sign. */
  private def step(s: SparkSession, slice: DataFrame, prefix: String, warehouse: String,
                   day: Int, nBuckets: Int, sign: Int): Unit =
    IncrState.withLease(s, warehouse, prefix) {
    import s.implicits._
    def signed(n: Column): Column = if (sign < 0) -n else n
    val Seq(tfT, dfT) = stateTables(prefix)
    val tf = slice
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(signed(count(lit(1))).as("tf"))
      .withColumn("src_day", lit(day))
    IncrState.writeDay(s, tf.withColumn("day", lit(day)), tfT, warehouse, day, nBuckets)
    val freshTf = s.table(tfTable(prefix)).filter($"day" === day)
    // df partial: one row per distinct token of the slice — vocab-sized,
    // partial-aggregable (tf rows are already distinct on (doc_id, tok));
    // on a delete, count = the df this slice contributed at fold time
    // (identical text ⇒ identical token set). The df write and the day's
    // doc count both read the just-written fresh partition and neither
    // reads the other's output — overlap them (§2.6; join() below
    // publishes nDay to this thread)
    var nDay = 0L
    IncrState.concurrently(Seq(
      () => IncrState.writeDay(s,
        freshTf.groupBy($"tok").agg(signed(count(lit(1))).as("df_part"))
          .withColumn("src_day", lit(day)).withColumn("day", lit(day)),
        dfT, warehouse, day, nBuckets),
      // the day's document count, read off the fresh partition (empty
      // ReadSchema scan) into the O(days) marker — serving never scans
      // for n_docs
      () => nDay = freshTf.select($"doc_id").distinct().count()))
    IncrState.writeDayCounts(s, warehouse, docCountsMarker(prefix),
      IncrState.readDayCounts(s, warehouse, docCountsMarker(prefix)) + (day -> sign * nDay))
    // keeps the SQL report view's baked n_docs literal current
    dayDone(s, prefix, warehouse, day)
  }

  /** Live document count of the member's corpus, off the O(days)
    * marker (fold entries positive, delete entries negative). */
  private[ops] def nDocs(s: SparkSession, prefix: String, warehouse: String): Long =
    IncrState.readDayCounts(s, warehouse, docCountsMarker(prefix)).values.sum

  /** The full TF-IDF report off the persisted state — output identical
    * to `q_text_tfidf` (same expression, same tie-break): the serving
    * read `IncrViews.tfidfSql` (n_docs from the `_doc_counts` marker as
    * a LITERAL; replay dedup and the signed tf/df nets ride the tok
    * bucketing; the per-document top-k window is the one shuffle,
    * exactly as in the batch plan) plus the presentation order. */
  def report(s: SparkSession, prefix: String, warehouse: String): DataFrame = {
    allTables(prefix).foreach(IncrState.ensureRegistered(s, _, warehouse))
    s.sql(IncrViews.tfidfSql(s, prefix, warehouse)).orderBy("doc_id", "rk")
  }

  /** Daily loop over `days` slices (doc_id mod days) + report — the
    * oracle is the full-corpus recompute (`q_text_tfidf`'s SQL
    * verbatim). */
  def incremental(s: SparkSession, dir: String, days: Int): DataFrame =
    exhibit(s, "tfidf_incr", col("doc_id"), col("rk")) { (prefix, wh) =>
      val docs = Tables.documents(s, dir)
      (0 until days).foreach(d => foldSlice(s, docs, col("doc_id"), prefix, wh, days, d, d))
      report(s, prefix, wh)
    }

  /** Fold `days` slices, then RETRACT the documents with
    * doc_id % 7 == 3 (a deterministic takedown set spanning every fold
    * day) as delete day `days` — the oracle is the batch recompute on
    * the REDUCED corpus (`q_text_tfidf`'s SQL with the takedown set
    * excluded), proving fold(deletes) == batch-on-reduced-corpus via
    * pure signed-partial netting on BOTH state tables plus the negated
    * doc-count marker line. */
  def incrementalDel(s: SparkSession, dir: String, days: Int): DataFrame =
    exhibit(s, "tfidf_del", col("doc_id"), col("rk")) { (prefix, wh) =>
      val docs = Tables.documents(s, dir)
      (0 until days).foreach(d => foldSlice(s, docs, col("doc_id"), prefix, wh, days, d, d))
      deleteDay(s, docs.filter(pmod(col("doc_id"), lit(7L)) === 3),
        prefix, wh, days, nBuckets = 8)
      report(s, prefix, wh)
    }

  val qs: Map[String, Q] = Map(
    "q_tfidf_incr" -> ((s, d) => incremental(s, d, 3)),
    "q_tfidf_del" -> ((s, d) => incrementalDel(s, d, 3))
  )
}
