package graft.streaming

import graft.ops.CurateIncr
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The daily-cadence curation loop DRIVEN AS A STREAM — ops.CurateIncr's
  * versioned partial-state fold wired to the engine's ingest layer
  * (VERDICT r9 #1 composed with the I-layer): a file-stream inbox where
  * each arriving parquet slice is "a day" (reference main.tf:217 daily
  * schedule), `Trigger.AvailableNow` + maxFilesPerTrigger=1 so each
  * slice is one micro-batch, and `foreachBatch` folding slice N into
  * state version N.
  *
  * Exactly-once without a transactional sink: the state version IS the
  * batch id. A failed/replayed micro-batch re-reads state v(N−1) —
  * which a partial failure never touched — and deterministically
  * rewrites v(N); the checkpoint guarantees the slice→batch-id mapping
  * is stable across restarts, so replay converges to byte-identical
  * state (same reasoning as the versioned-dir design in
  * ops.CurateIncr). Restarting with the same checkpoint after new
  * slices land processes ONLY the new slices — the suite drives two
  * sessions over a growing inbox and pins the final report to the
  * full-recompute oracle both times. */
object CurateIncrStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Precomputed eval-side reference for per-batch fuzzy
    * decontamination: the benchmark docs' shingle sets and MinHash band
    * rows (the L15b machinery). Built ONCE per drain — the eval side of
    * a real deployment is benchmark-sized (thousands of docs), so both
    * frames are broadcast-sized at any corpus scale; each micro-batch
    * only ever bands its own slice. */
  case class DecontamRef(evalBands: DataFrame, evalSh: DataFrame) {
    /** Release the two persisted eval-side frames once the drain is
      * done — without this the broadcast-sized blocks outlive the
      * stream and compound across drains in one session (ADVICE r11). */
    def release(): Unit = {
      evalBands.unpersist(blocking = false)
      evalSh.unpersist(blocking = false)
      ()
    }
  }

  def decontamRef(evalDocs: DataFrame): DecontamRef = {
    // persist exactly the two frames the ref hands out, so release()
    // frees what was cached (unpersisting a frame DERIVED from a
    // persisted one is a no-op in the cache manager)
    val evalSh = graft.ops.Dedup.withShingles(evalDocs)
      .select(col("doc_id").as("eval_id"), col("shs").as("sb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = graft.ops.Dedup.minhashBands(
      evalSh.select(col("eval_id").as("doc_id"), explode(col("sb")).as("sh")), "doc_id", "sh")
      .select(col("band"), col("doc_id").as("eval_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    DecontamRef(bands, evalSh)
  }

  /** Drop every doc in `batch` that fuzzy-matches an eval doc: MinHash
    * band recall against the broadcast eval band table, exact-Jaccard
    * ≥ 0.2 verify (shared-randomness bands ⇒ deterministic recall, so a
    * replayed batch flags the same docs and the versioned-state replay
    * contract is untouched). */
  def decontaminate(batch: DataFrame, ref: DecontamRef): DataFrame =
    decontaminateKeepShingles(batch, ref, persistShingles = false)._1

  /** As decontaminate, but optionally persists the per-batch shingle
    * frame (used twice: band build + verify join) and returns it so the
    * caller can unpersist AFTER the returned lazy frame has been acted
    * on. (Unpersisting before the action — the r11 shape — meant the
    * persist never materialized and the batch was re-shingled anyway.)
    * The no-persist form is for callers with no release point. */
  private def decontaminateKeepShingles(batch: DataFrame, ref: DecontamRef,
                                        persistShingles: Boolean = true): (DataFrame, DataFrame) = {
    val sh0 = graft.ops.Dedup.withShingles(batch)
    val sh = if (persistShingles) sh0.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY) else sh0
    val bands = graft.ops.Dedup.minhashBands(
      sh.select(col("doc_id"), explode(col("shs")).as("sh")), "doc_id", "sh")
    val flagged = bands
      .join(broadcast(ref.evalBands), "band")
      .select(col("doc_id"), col("eval_id")).distinct()
      .join(sh.select(col("doc_id"), col("shs").as("sa")), "doc_id")
      .join(broadcast(ref.evalSh), "eval_id")
      .withColumn("ni", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .filter(round(col("ni").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("ni")), 6) >= 0.2)
      .select(col("doc_id")).distinct()
    (batch.join(flagged, Seq("doc_id"), "left_anti"), sh)
  }

  /** One micro-batch fold: optional decontamination, then the versioned
    * CurateIncr state write (state version = batch id — exposed so the
    * suite can drive a REPLAY of a contaminated batch directly). The
    * batch's shingle persist is released only after runDay's actions. */
  def foldBatch(batch: DataFrame, stateDir: String, batchId: Int,
                decontam: Option[DecontamRef]): Unit = decontam match {
    case None => CurateIncr.runDay(batch.sparkSession, batch, stateDir, batchId)
    case Some(r) =>
      val (slice, sh) = decontaminateKeepShingles(batch, r)
      try CurateIncr.runDay(batch.sparkSession, slice, stateDir, batchId)
      finally { sh.unpersist(blocking = false); () }
  }

  /** Drain every slice currently in `inboxDir` (one micro-batch per
    * file) into the CurateIncr state at `stateDir`; returns the highest
    * state version written (-1 if the inbox was empty). Idempotent
    * under restart with the same `checkpointDir`. When `decontam` is
    * set, each slice is fuzzy-decontaminated against the eval reference
    * BEFORE it folds into curation state (VERDICT r10 #6). */
  def drainInbox(spark: SparkSession, inboxDir: String, stateDir: String,
                 checkpointDir: String,
                 decontam: Option[DecontamRef] = None): Int =
    IncrInboxStream.drainForm(spark, inboxDir, checkpointDir, docSchema, "plain") { (batch, day) =>
      foldBatch(batch, stateDir, day, decontam)
    } {
      // a restart that found no new files: recover the current version
      // from the state layout itself (the v<N> backend keeps no
      // high-water marker; its v<N> dirs are the equivalent record)
      val d = new java.io.File(stateDir)
      val vs = Option(d.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("v")).flatMap(s => s.drop(1).toIntOption)
      if (vs.isEmpty) -1 else vs.max
    }

  /** The CDC form: add/delete events on the shared drive against the
    * RETRACTABLE backend (L53 — the member-level keeper state; the v<N>
    * backend above compresses keepers lossily and cannot retract).
    * Delete events must carry the documents as folded (the negated tf
    * partials re-derive from the slice; the keeper tombstones are keyed
    * on doc_id). */
  def drainCdc(spark: SparkSession, inboxDir: String, prefix: String,
               warehouse: String, checkpointDir: String,
               nBuckets: Int = 8, maxDeltaDays: Int = 8): Int =
    IncrInboxStream.drainCdc(spark, CurateIncr, docSchema, inboxDir, prefix, warehouse,
      checkpointDir, nBuckets, maxDeltaDays)(CurateIncr.fold(_, _, prefix, warehouse, _, nBuckets))(
      CurateIncr.retract(_, _, prefix, warehouse, _, nBuckets))
}
