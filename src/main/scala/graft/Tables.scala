package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver test tables (TESTDATA.md / FIXTURES.md).
  *
  * Mirrors the reference's landed-data surface — Glue-crawled S3 objects
  * queried by Athena (reference src/main.py:4-5, main.tf:304-314): a
  * loader registers its table in the catalog once per dir
  * (`graft.<t>`, `sources.Catalog.table`), which infers the schema once,
  * and every later call resolves the name with no Spark job. Results are
  * not memoised: each query still scans the files. Filters/projections
  * applied downstream are pushed into the scan by Catalyst, the
  * Spark-native analogue of the reference compiling its filters into the
  * API query string (reference src/main.py:89-101).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    sources.Catalog.table(spark, dir, name)

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `ts` as a µs TimestampType whichever encoding the dir shipped
    * (the `graft.events` view's normalization). */
  def events(s: SparkSession, d: String): DataFrame   = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
