package graft.ops

import graft.Q
import graft.sources.Catalog

/** Catalog-name SQL surface (≙ Athena over the Glue db `fanstatsai`,
  * reference main.tf:301-314): queries addressed purely by table NAME
  * through `spark.sql`, no parquet path in sight — the first query an
  * Athena-migrating user runs. */
object CatalogOps {

  val qs: Map[String, Q] = Map(
    // Star-join expressed 100% in SQL over catalog names (the
    // `SELECT … FROM fanstatsai.tweets` shape), once the three tables are
    // registered for `d`. Same physical plan as the DataFrame form: dims
    // auto-broadcast under AQE.
    "q_catalog_sql" -> ((s, d) => {
      Seq("customer", "nation", "region").foreach(Catalog.table(s, d, _))
      s.sql(s"""
        SELECT n_name AS nation, r_name AS region, COUNT(*) AS n_cust,
               SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS bal_cents
        FROM ${Catalog.Db}.customer
        JOIN ${Catalog.Db}.nation ON c_nationkey = n_nationkey
        JOIN ${Catalog.Db}.region ON n_regionkey = r_regionkey
        GROUP BY n_name, r_name
        ORDER BY nation, region""")
    }),
    // Durable-catalog surface: metastore-level EXTERNAL tables plus the
    // persistent graft.events view (the ns→µs normalization stored as
    // view SQL, like a crawler-declared column type). The query runs in
    // a FRESH session that never saw the registration call — catalog
    // objects, unlike temp views, are shared metastore state (Glue's
    // survives-restart semantics at the sandbox's provable ceiling;
    // CatalogSuite pins the cross-session behavior).
    "q_catalog_external" -> ((s, d) => {
      graft.sources.Catalog.registerExternalTables(s, d)
      val s2 = s.newSession()
      s2.sql("""
        SELECT event_type, date_format(ts, 'yyyy-MM-dd') AS day,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM graft.events
        GROUP BY event_type, day
        ORDER BY event_type, day""")
    }),
    // Query on the MANAGED lang-partitioned catalog table: the partition
    // predicate prunes at planning time (PlanSuite asserts the pruned
    // file set), so at 100 TB a two-language query reads two partition
    // trees, not the corpus.
    "q_catalog_pruned" -> ((s, d) => {
      val tbl = Catalog.ensurePartitionedDocs(s, d)
      s.sql(s"""
        SELECT lang, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars
        FROM $tbl
        WHERE lang IN ('en', 'fr')
        GROUP BY lang
        ORDER BY lang""")
    })
  )
}
