package graft.streaming

import graft.ops.{IncrMember, IncrState}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The one streaming drive of the incremental-state family: every
  * member (ops.IncrMember — curation, near-dup, ANN, TF-IDF, domain
  * stats, quality, k-means, triangles) drains its inbox through
  * `drainCdc` here. Each `*IncrStream` object is a shell: a
  * `MemberStream` naming its member and inbox schema, except Quality's
  * (its steps re-read the customer dimension) and Curate's (its steps
  * may decontaminate the slice first). A file-stream inbox where each
  * arriving parquet slice is "a day" (reference main.tf:217's daily
  * cadence), `Trigger.AvailableNow` + maxFilesPerTrigger=1 so each slice
  * is exactly one micro-batch, and `foreachBatch` handing slice b to the
  * member as days 2b (adds) and 2b+1 (deletes).
  *
  * One ordered stream of add/delete events — how a takedown feed
  * actually arrives next to the crawl feed. Each slice may carry an `op`
  * discriminator column ('add' | 'del'); a null `op`, or a slice with no
  * `op` column at all, is an add, so an inbox with no deletes is just a
  * CDC inbox whose rows are all adds. Any other `op` value fails the
  * micro-batch before any state write. Per step the call sequence is
  * fixed: fold, the member's post-step hook (k-means' drift check), its
  * size-tiered compaction; delete, then the hook. An op with no rows
  * burns no day id on an empty partition write. Ordering is the
  * stream's: an id re-added after its own takedown in a later slice
  * stays retracted (delete wins at every member), and add+delete in ONE
  * slice nets to retracted because the delete day (2b+1) follows the add
  * day (2b).
  *
  * Exactly-once without a transactional sink: the fold days are a
  * function of the batch id and every member's fold is idempotent per
  * day (dynamic partition overwrite of exactly `day=N`; day-keyed
  * markers), so a failed/replayed micro-batch rewrites its own
  * partitions byte-identically. The checkpoint keeps the slice→batch-id
  * mapping stable across restarts; a restart after new slices land
  * folds ONLY the new slices — and thanks to IncrState's warehouse
  * re-registration the restart may be a REAL process restart, not just
  * a new query. The batches write through the stream's own session, so
  * the drain ends by refreshing the member's tables in the caller's
  * session: a replayed day must not be read from a stale file listing.
  */
object IncrInboxStream {

  private val DriveFormMarker = "_graft_drive_form"

  /** A checkpoint (and the warehouse it drives) is bound to the 2b/2b+1
    * day space: the first drain records `cdc` beside the checkpoint. A
    * checkpoint pinned `plain` was driven by the retired batch b → day b
    * drive; resuming it here would make batch k dynamic-overwrite the
    * already-folded day k partitions (day collision for even k), so it
    * is refused loudly. */
  private def pinDriveForm(spark: SparkSession, checkpointDir: String): Unit =
    IncrState.readMarker(spark, checkpointDir, DriveFormMarker).map(_.trim) match {
      case None => IncrState.writeMarker(spark, checkpointDir, DriveFormMarker, "cdc")
      case Some(prev) => require(prev == "cdc",
        s"inbox checkpoint '$checkpointDir' was driven as '$prev' but this drain is " +
          "'cdc': the plain form mapped batch b to day b, the cdc form maps it to " +
          "days 2b/2b+1, so resuming it would dynamic-overwrite already-folded day " +
          "partitions. Use a fresh warehouse + checkpoint.")
    }

  /** One drained slice folded in (or retracted) as `day`. */
  type Step = (SparkSession, DataFrame, Int) => Unit

  /** Drain every slice currently in `inboxDir` (one micro-batch per
    * file) into member `m`'s state at `warehouse`: batch b's adds run
    * `fold` as day 2b, then the member's post-step hook, then its
    * size-tiered compaction; its deletes run `delete` as day 2b+1, then
    * the hook. Returns the highest batch id committed in the checkpoint
    * (-1 when none), whether or not this drain saw new files.
    * Idempotent under restart with the same `checkpointDir`. `schema`
    * is the member's inbox schema without the `op` column. */
  def drainCdc(spark: SparkSession, m: IncrMember, schema: StructType,
               inboxDir: String, prefix: String, warehouse: String,
               checkpointDir: String, nBuckets: Int, maxDeltaDays: Int)
              (fold: Step)(delete: Step): Int = {
    pinDriveForm(spark, checkpointDir)
    val op = coalesce(col("op"), lit("add"))
    try spark.readStream
      .schema(cdcSchema(schema))
      .option("maxFilesPerTrigger", 1)
      .parquet(inboxDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val day = 2 * batchId.toInt
        val ops = opsOf(batch.select(op))
        val unknown = ops -- Set("add", "del")
        if (unknown.nonEmpty) throw new IllegalArgumentException(
          s"inbox '$inboxDir' batch $batchId carries unknown op values " +
            s"${unknown.toSeq.sorted.map(v => s"'$v'").mkString(", ")}: " +
            "only 'add', 'del' or null (= add) are accepted")
        if (ops("add")) {
          fold(s, batch.filter(op === "add").drop("op"), day)
          m.afterStep(s, prefix, warehouse, nBuckets)
          m.maybeCompact(s, prefix, warehouse, nBuckets, maxDeltaDays)
        }
        if (ops("del")) {
          delete(s, batch.filter(op === "del").drop("op"), day + 1)
          m.afterStep(s, prefix, warehouse, nBuckets)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    finally m.refreshTables(spark, prefix)
    lastCommitted(spark, checkpointDir)
  }

  /** The distinct values of a one-string-column frame: one job, one
    * stage (per-partition sets, merged on the driver — no shuffle). */
  private def opsOf(ops: DataFrame): Set[String] =
    ops.rdd.mapPartitions(rows => Iterator(rows.map(_.getString(0)).toSet))
      .collect().toSet.flatten

  /** The highest batch id in `<checkpointDir>/commits`; -1 when none. */
  private def lastCommitted(spark: SparkSession, checkpointDir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$checkpointDir/commits")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1
    else fs.listStatus(p).flatMap(_.getPath.getName.toIntOption).maxOption.getOrElse(-1)
  }

  /** A member's inbox schema + the CDC op discriminator. */
  def cdcSchema(base: StructType): StructType =
    StructType(base.fields :+ StructField("op", StringType))
}

/** The streaming shell of a member whose fold and delete take the slice
  * alone: its drain on the shared drive, with the member's own steps.
  * `inboxSchema` is the member's slice schema (without the CDC `op`
  * column). */
abstract class MemberStream(m: IncrMember.SliceFold) {
  protected def inboxSchema: StructType

  /** Drain every slice currently in `inboxDir` into the member's state at
    * `warehouse` (adds as day 2·batch, deletes as day 2·batch+1); returns
    * the highest batch id committed (-1 if none). Idempotent under
    * restart with the same `checkpointDir`. */
  def drainCdc(spark: SparkSession, inboxDir: String, prefix: String,
               warehouse: String, checkpointDir: String,
               nBuckets: Int = 8, maxDeltaDays: Int = 8): Int =
    IncrInboxStream.drainCdc(spark, m, inboxSchema, inboxDir, prefix, warehouse,
      checkpointDir, nBuckets, maxDeltaDays)(m.fold(_, _, prefix, warehouse, _, nBuckets))(
      m.retract(_, _, prefix, warehouse, _, nBuckets))
}
