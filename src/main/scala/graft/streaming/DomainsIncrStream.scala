package graft.streaming

import org.apache.spark.sql.types.StructType

/** The incremental domain-statistics fold DRIVEN AS A STREAM (L47) on
  * the shared drive (see IncrInboxStream). The CDC form is the ADDITIVE
  * retraction algebra: delete events must carry the documents as folded
  * (the negative partial re-derives the per-(domain, lang) counts from
  * the slice, the L49 contract) — unlike the keyed-tombstone members,
  * whose deletes are id-only. */
object DomainsIncrStream extends MemberStream(graft.ops.DomainsIncr) {
  protected def inboxSchema: StructType = CurateIncrStream.docSchema
}
