package graft.streaming

import org.apache.spark.sql.types.StructType

/** The incremental k-means fold DRIVEN AS A STREAM (L51) on the shared
  * drive (see IncrInboxStream). Each drained slice folds vectors +
  * centroid partials + serving assignments; the member's drift check
  * runs after every fold and every delete, so the re-assign epoch fires
  * inside the drain exactly when the refined centroids move (a takedown
  * that moves them past the gate triggers it like a fold). The CDC form
  * is the HYBRID retraction algebra (L54): delete events must carry the
  * embeddings as folded (negated centroid partials re-derive from the
  * slice; vec/assignment tombstones are keyed). */
object ClusterIncrStream extends MemberStream(graft.ops.ClusterIncr) {
  protected def inboxSchema: StructType = AnnIncrStream.embSchema
}
