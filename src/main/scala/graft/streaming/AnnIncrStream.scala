package graft.streaming

import org.apache.spark.sql.types.{FloatType, ArrayType, IntegerType, LongType, StructField, StructType}

/** The incremental ANN index fold DRIVEN AS A STREAM (L45) on the shared
  * drive (see IncrInboxStream): each inbox slice of embeddings folds
  * into the code/vector stores as one day; `AnnIncr.runDay` is
  * idempotent per day (dynamic partition overwrite of exactly `day=N`).
  * CDC delete events need only `vec_id` (payload columns null — the ANN
  * tombstone is keyed, L52 form); this is what lets ANN share one
  * embeddings CDC inbox with the k-means member in the composed day
  * driver (DayDriverSuite). */
object AnnIncrStream extends MemberStream(graft.ops.AnnIncr) {

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  protected def inboxSchema: StructType = embSchema
}
