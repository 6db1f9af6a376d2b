package graft.streaming

import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The incremental triangle-count fold DRIVEN AS A STREAM (L55) on the
  * shared drive (see IncrInboxStream): each arriving parquet slice of
  * canonical (u, v) edges is "a day", folded through `TriIncr.runDay`
  * (idempotent per day — the effective-fresh anti-join makes a replayed
  * slice count nothing twice, even after an epoch compaction). The CDC
  * form drains one ordered inbox of add/delete edge events (the
  * keyed-tombstone retraction algebra: delete events carry just the
  * edge endpoints). */
object TriIncrStream extends MemberStream(graft.ops.TriIncr) {

  val edgeSchema: StructType = StructType(Seq(
    StructField("u", LongType), StructField("v", LongType)))

  protected def inboxSchema: StructType = edgeSchema
}
