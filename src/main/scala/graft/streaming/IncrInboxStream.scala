package graft.streaming

import graft.ops.IncrMember
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The one streaming drive of the incremental-state family: every
  * member (ops.IncrMember — curation, near-dup, ANN, TF-IDF, domain
  * stats, quality, k-means, triangles) drains its inbox through the
  * plain `drain` or the add/delete `drainCdc` here. Each `*IncrStream`
  * object is a shell: a `MemberStream` naming its member and inbox
  * schema, except Quality's (its steps re-read the customer dimension)
  * and Curate's (its plain drain is the v<N> backend's). A file-stream
  * inbox where each arriving parquet slice is "a day" (reference
  * main.tf:217's daily cadence), `Trigger.AvailableNow` +
  * maxFilesPerTrigger=1 so each slice is exactly one micro-batch, and
  * `foreachBatch` handing slice N to the member's day-N fold. Per step
  * the call sequence is fixed: fold, the
  * member's post-step hook (k-means' drift check), its size-tiered
  * compaction; delete, then the hook.
  *
  * Exactly-once without a transactional sink: the fold day IS the batch
  * id and every member's fold is idempotent per day (dynamic partition
  * overwrite of exactly `day=N`; day-keyed markers), so a
  * failed/replayed micro-batch rewrites its own partitions
  * byte-identically. The checkpoint keeps the slice→batch-id mapping
  * stable across restarts; a restart after new slices land folds ONLY
  * the new slices — and thanks to IncrState's warehouse re-registration
  * the restart may be a REAL process restart, not just a new query. A
  * restart with nothing new answers from the member's high-water
  * marker.
  */
object IncrInboxStream {

  /** A checkpoint (and the warehouse it drives) is permanently bound to
    * ONE drive form (ADVICE r14): `drain` maps batch b → day b while
    * `drainCdc` maps b → days 2b/2b+1, so switching forms on one
    * warehouse+checkpoint would make a later plain batch k
    * dynamic-overwrite CDC batch k/2's add partition (day collision for
    * even k), silently destroying folded state. The form is recorded in
    * a marker beside the checkpoint on first drain and enforced loudly
    * on every later one. */
  private def pinDriveForm(spark: SparkSession, checkpointDir: String,
                           form: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$checkpointDir/_graft_drive_form")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val prev = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim
      finally in.close()
      require(prev == form,
        s"inbox checkpoint '$checkpointDir' was driven as '$prev' but this " +
          s"drain is '$form': the two forms map batch ids to DIFFERENT day " +
          "spaces (plain: day=b; cdc: days 2b/2b+1), so mixing them on one " +
          "warehouse+checkpoint would dynamic-overwrite already-folded day " +
          "partitions. Use a fresh warehouse + checkpoint per drive form.")
    } else {
      fs.mkdirs(p.getParent)
      val out = fs.create(p, true)
      try out.write(form.getBytes("UTF-8")) finally out.close()
    }
  }

  /** One drained slice folded in (or retracted) as `day`. */
  type Step = (SparkSession, DataFrame, Int) => Unit

  /** The plain drive: drain every slice currently in `inboxDir` (one
    * micro-batch per file, batch b → day b) into member `m`'s state at
    * `warehouse` — `fold`, then the member's post-step hook, then its
    * size-tiered compaction. Returns the highest day folded, or the
    * member's own high-water marker when the drain saw no new files (a
    * restart with nothing to do: compaction folds settled day partitions
    * into the epoch, so the layout alone cannot answer). Idempotent
    * under restart with the same `checkpointDir`, which is BOUND to this
    * plain form forever (see pinDriveForm). */
  def drain(spark: SparkSession, m: IncrMember, schema: StructType,
            inboxDir: String, prefix: String, warehouse: String,
            checkpointDir: String, nBuckets: Int, maxDeltaDays: Int)
           (fold: Step): Int =
    drainForm(spark, inboxDir, checkpointDir, schema, "plain")(
      foldStep(m, prefix, warehouse, nBuckets, maxDeltaDays, fold))(
      m.lastDay(spark, prefix, warehouse))

  /** Fold, the member's post-step hook, then its compaction. */
  private def foldStep(m: IncrMember, prefix: String, warehouse: String,
                       nBuckets: Int, maxDeltaDays: Int, fold: Step)
                      (batch: DataFrame, day: Int): Unit = {
    val s = batch.sparkSession
    fold(s, batch, day)
    m.afterStep(s, prefix, warehouse, nBuckets)
    m.maybeCompact(s, prefix, warehouse, nBuckets, maxDeltaDays)
    ()
  }

  /** The low-level inbox loop: each micro-batch of `inboxDir` through
    * `fold(batch, batchId)`; `fallback` answers when no new file came. */
  private[streaming] def drainForm(spark: SparkSession, inboxDir: String, checkpointDir: String,
                                   schema: StructType, form: String)
                                  (fold: (DataFrame, Int) => Unit)
                                  (fallback: => Int): Int = {
    pinDriveForm(spark, checkpointDir, form)
    val seen = new java.util.concurrent.atomic.AtomicInteger(-1)
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inboxDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        fold(batch, batchId.toInt)
        seen.set(math.max(seen.get, batchId.toInt))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    if (seen.get >= 0) seen.get else fallback
  }

  /** The CDC drive (round 14): the same inbox loop over ONE ordered
    * stream of add/delete events — how a takedown feed actually arrives
    * next to the crawl feed. Each slice carries an `op` discriminator
    * column ('add' | 'del'); day ids split the batch-id space
    * deterministically — adds fold as day 2·batch, deletes as day
    * 2·batch+1 — so fold and delete events never collide, a slice
    * carrying BOTH ops lands each under its own day, and a replayed
    * micro-batch rewrites exactly its own partitions (the drain's
    * byte-idempotence argument, now covering retraction). Content-based
    * guards are replay-stable (the same file yields the same split) and
    * an op with no rows burns no day id on an empty partition write.
    * Adds run as in the plain drive (fold, hook, compaction); deletes
    * run `delete`, then the hook. Ordering is the stream's: an id
    * re-added after its own takedown in a later slice stays retracted
    * (delete wins at every member), and add+delete in ONE slice nets to
    * retracted because the delete day (2b+1) follows the add day (2b).
    * The checkpoint is BOUND to the cdc form forever (see pinDriveForm —
    * the 2b/2b+1 day space must never be re-entered by a plain drain's
    * day=b). `schema` is the member's inbox schema without the `op`
    * column. */
  def drainCdc(spark: SparkSession, m: IncrMember, schema: StructType,
               inboxDir: String, prefix: String, warehouse: String,
               checkpointDir: String, nBuckets: Int, maxDeltaDays: Int)
              (fold: Step)(delete: Step): Int = {
    import org.apache.spark.sql.functions.col
    drainForm(spark, inboxDir, checkpointDir, cdcSchema(schema), "cdc") { (batch, day) =>
      val adds = batch.filter(col("op") === "add").drop("op")
      val dels = batch.filter(col("op") === "del").drop("op")
      if (!adds.isEmpty) foldStep(m, prefix, warehouse, nBuckets, maxDeltaDays, fold)(adds, 2 * day)
      if (!dels.isEmpty) {
        delete(dels.sparkSession, dels, 2 * day + 1)
        m.afterStep(dels.sparkSession, prefix, warehouse, nBuckets)
      }
    }(m.lastDay(spark, prefix, warehouse))
  }

  /** A member's inbox schema + the CDC op discriminator. */
  def cdcSchema(base: StructType): StructType =
    StructType(base.fields :+
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType))
}

/** The streaming shell of a member whose fold and delete take the slice
  * alone: its plain and CDC drains on the shared drive, with the
  * member's own steps. `inboxSchema` is the member's slice schema
  * (without the CDC `op` column). */
abstract class MemberStream(m: IncrMember.SliceFold) {
  protected def inboxSchema: StructType

  /** Drain every slice currently in `inboxDir` into the member's state at
    * `warehouse`; returns the highest day folded (-1 if the inbox was
    * empty and no state exists). Idempotent under restart with the same
    * `checkpointDir`. */
  def drainInbox(spark: SparkSession, inboxDir: String, prefix: String,
                 warehouse: String, checkpointDir: String,
                 nBuckets: Int = 8, maxDeltaDays: Int = 8): Int =
    IncrInboxStream.drain(spark, m, inboxSchema, inboxDir, prefix, warehouse,
      checkpointDir, nBuckets, maxDeltaDays)(m.fold(_, _, prefix, warehouse, _, nBuckets))

  /** The CDC form: one ordered inbox of add/delete events (an `op`
    * column), adds as day 2·batch, deletes as day 2·batch+1. */
  def drainCdc(spark: SparkSession, inboxDir: String, prefix: String,
               warehouse: String, checkpointDir: String,
               nBuckets: Int = 8, maxDeltaDays: Int = 8): Int =
    IncrInboxStream.drainCdc(spark, m, inboxSchema, inboxDir, prefix, warehouse,
      checkpointDir, nBuckets, maxDeltaDays)(m.fold(_, _, prefix, warehouse, _, nBuckets))(
      m.retract(_, _, prefix, warehouse, _, nBuckets))
}
