package graft.streaming

import graft.ops.CurateIncr
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The daily-cadence curation fold DRIVEN AS A STREAM on the shared
  * drive (see IncrInboxStream): each inbox slice of documents folds into
  * ops.CurateIncr's member-level keeper state as one day, with optional
  * per-batch fuzzy decontamination against an eval reference (VERDICT
  * r10 #6) before the slice reaches the state. Delete events must carry
  * the documents as folded (the negated tf partials re-derive from the
  * slice; the keeper tombstones are keyed on doc_id), and pass through
  * the same decontamination filter, so what a delete negates is exactly
  * what its add folded. The filter is deterministic (shared-randomness
  * MinHash bands), so a replayed micro-batch flags the same docs and
  * rewrites its own day partitions unchanged. */
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
    * replayed batch flags the same docs and replay stays idempotent). */
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

  /** Drain every slice currently in `inboxDir` into the CurateIncr
    * state at `warehouse`; returns the highest batch id committed (-1 if
    * none). Idempotent under restart with the same `checkpointDir`. When
    * `decontam` is set, each add and delete slice is fuzzy-decontaminated
    * against the eval reference BEFORE it reaches the state; the batch's
    * shingle persist is released only after the step's actions. */
  def drainCdc(spark: SparkSession, inboxDir: String, prefix: String,
               warehouse: String, checkpointDir: String,
               nBuckets: Int = 8, maxDeltaDays: Int = 8,
               decontam: Option[DecontamRef] = None): Int = {
    def clean(step: IncrInboxStream.Step): IncrInboxStream.Step = decontam match {
      case None => step
      case Some(r) => (s, slice, day) =>
        val (kept, sh) = decontaminateKeepShingles(slice, r)
        try step(s, kept, day) finally { sh.unpersist(blocking = false); () }
    }
    IncrInboxStream.drainCdc(spark, CurateIncr, docSchema, inboxDir, prefix, warehouse,
      checkpointDir, nBuckets, maxDeltaDays)(
      clean(CurateIncr.fold(_, _, prefix, warehouse, _, nBuckets)))(
      clean(CurateIncr.retract(_, _, prefix, warehouse, _, nBuckets)))
  }
}
