package graft.sources

import org.apache.spark.sql.SparkSession

/** §2.A7 — the object-store path (≙ `boto3 upload_file`, reference
  * src/main.py:76-80). Every sink in this engine addresses storage
  * through the Hadoop FileSystem API, so pointing any writer at
  * `s3a://bucket/prefix` instead of a local path is the whole code
  * change — EXCEPT that the default Hadoop commit protocol
  * (rename-based FileOutputCommitter) is both slow and unsafe on S3's
  * non-atomic rename. These are the standard, public Spark/Hadoop knobs
  * that switch parquet/json commits to the S3A "magic" committer
  * (single-PUT visibility, no renames); they ship in
  * spark-hadoop-cloud, which is not present in this sandbox (no object
  * store to talk to), so they are applied at session build time on a
  * real cluster and are inert here.
  *
  * The engine's own exactly-once landing (streaming.ManifestSink) is
  * committer-independent: visibility is gated on the manifest log, not
  * on rename atomicity, so it is object-store-safe even with the
  * default committer.
  */
object CloudConf {

  /** Public S3A magic-committer wiring (Hadoop S3A + Spark cloud-commit
    * docs). Keys are static confs: set them on the builder, not on a
    * running session. */
  val s3aCommitter: Map[String, String] = Map(
    "spark.hadoop.fs.s3a.committer.name" -> "magic",
    "spark.hadoop.fs.s3a.committer.magic.enabled" -> "true",
    "spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a" ->
      "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory",
    "spark.sql.sources.commitProtocolClass" ->
      "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
    "spark.sql.parquet.output.committer.class" ->
      "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter")

  /** Apply the committer confs to a cluster session's builder `b`, then
    * `CloudConf(b).getOrCreate()`. */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    s3aCommitter.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
