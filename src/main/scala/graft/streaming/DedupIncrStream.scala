package graft.streaming

import org.apache.spark.sql.types.StructType

/** The incremental NEAR-DUP band-store fold DRIVEN AS A STREAM (L44) on
  * the shared drive (see IncrInboxStream): each inbox slice of
  * documents folds into the band store as one day. `DedupIncr.runDay`
  * is idempotent per day — every day-N write (band rows, shingle sets,
  * ledger pairs) is a dynamic partition overwrite of exactly `day=N`,
  * so a replayed micro-batch rewrites its own partitions byte-identically
  * (all randomness shared through U.h64).
  *
  * The state LIFECYCLE rides along: after each fold,
  * `DedupIncr.maybeCompact` — a metadata-only listing unless the
  * settled-day count passes `maxDeltaDays` — folds history into the
  * epoch partition (and rewrites the pair ledger), bounding partitions
  * and files-per-bucket while the inbox grows without bound. Compaction
  * after the state write is replay-safe: a replayed batch N only
  * overwrites `day=N`, which a prior compaction has already emptied into
  * the epoch — the rewrite re-lands the same rows under day=N and the
  * NEXT compaction merges them; the ledger pair set is keyed (d1,d2)
  * either way. CDC delete rows need only `doc_id` populated (the
  * keyed-tombstone contract — no text); a doc added after its own
  * takedown in a LATER slice stays retracted (delete wins). */
object DedupIncrStream extends MemberStream(graft.ops.DedupIncr) {
  protected def inboxSchema: StructType = CurateIncrStream.docSchema

  /** The CDC inbox schema: the document columns + the op discriminator. */
  val cdcSchema: StructType = IncrInboxStream.cdcSchema(CurateIncrStream.docSchema)
}
