package graft.streaming

import org.apache.spark.sql.types.StructType

/** The incremental TF-IDF fold DRIVEN AS A STREAM (L46) on the shared
  * drive (see IncrInboxStream): each inbox slice of documents folds
  * into the tf/df state as one day; `TfidfIncr.runDay` is idempotent
  * per day (dynamic partition overwrite of exactly `day=N`, and the
  * `_doc_counts` marker keyed by day). The CDC form is the ADDITIVE
  * retraction algebra (L49), so delete events must carry the documents
  * as folded (the negative tf/df partials re-derive from the slice). */
object TfidfIncrStream extends MemberStream(graft.ops.TfidfIncr) {

  protected def inboxSchema: StructType = CurateIncrStream.docSchema
}
