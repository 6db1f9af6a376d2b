package graft.streaming

import graft.Tables
import graft.ops.QualityIncr
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** The incremental quality-report fold DRIVEN AS A STREAM (L48) on the
  * shared drive (see IncrInboxStream). The customer FK dimension is
  * re-read per micro-batch from `custDir` (a tiny static dim — the read
  * is a broadcast-sized scan, and re-reading keeps the fold correct if
  * the dim is republished between drains). */
object QualityIncrStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("value", DoubleType)))

  /** Drain every slice currently in `inboxDir` into the QualityIncr
    * state at `warehouse`; returns the highest batch id committed (-1 if
    * none). Add events fold counters + pk bitmaps, delete events land
    * NEGATED counter lines + tombstone bitmaps (the L50 bitmap-tombstone
    * algebra); the customer dim is re-read per micro-batch. */
  def drainCdc(spark: SparkSession, inboxDir: String, custDir: String,
               prefix: String, warehouse: String, checkpointDir: String,
               nBuckets: Int = 8, maxDeltaDays: Int = 8): Int =
    IncrInboxStream.drainCdc(spark, QualityIncr, eventSchema, inboxDir, prefix, warehouse,
      checkpointDir, nBuckets, maxDeltaDays)((s, adds, day) =>
      QualityIncr.runDay(s, adds, Tables.customer(s, custDir), prefix, warehouse, day, nBuckets))(
      (s, dels, day) => QualityIncr.deleteDay(s, dels, Tables.customer(s, custDir),
        prefix, warehouse, day, nBuckets))
}
