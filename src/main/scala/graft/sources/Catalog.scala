package graft.sources

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.plans.logical.View
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The catalog surface — SURVEY.md §2 "What's missing #2" (round 3).
  *
  * The reference's query layer is a *catalog*: a Glue database
  * (`fanstatsai`, reference main.tf:301-303) whose tables a crawler
  * registers from landed S3 prefixes (main.tf:304-314), and which Athena
  * queries BY NAME (`SELECT … FROM fanstatsai.tweets`). This is that
  * role on the Spark session catalog, in two forms:
  *
  *   - `table` / `registerExternalTables`: CATALOG-LEVEL external
  *     tables (`graft.<t>` + the `graft.events` normalizing view) — the
  *     crawler-registered form, and the one loader of the test tables
  *     (`graft.Tables` reads through it). Bytes stay where they landed; the
  *     catalog maps name → location + schema. These are metastore
  *     objects: every session sharing the metastore sees them WITHOUT
  *     re-running setup (`spark.newSession()` proves it in
  *     CatalogSuite), and against a persistent metastore (Hive, Glue)
  *     they survive JVM restart — the sandbox's in-memory metastore is
  *     the only thing keeping them process-scoped here.
  *   - `ensurePartitionedDocs`: a MANAGED lang-partitioned table
  *     (`saveAsTable`, hive-style `lang=…/` directories ≙ the
  *     `<platform>/<league>/YYYY/MM/DD/` key layout, reference
  *     src/main.py:70-73) — partition pruning on it is asserted in
  *     PlanSuite.
  */
object Catalog {

  /** ≙ the Glue database name (`fanstatsai`, main.tf:301). */
  val Db = "graft"

  /** The landed test tables (TESTDATA.md), one `<t>.parquet` per dir. */
  val TestTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Where test table `t` lands under `dir` — the one spelling of the
    * file layout. */
  def tablePath(dir: String, t: String): String = s"$dir/$t.parquet"

  // the dir a registration was crawled from, and a per-registration id:
  // a relation a session cached from an earlier registration of the same
  // name carries another id, whatever its dir
  private val DirProp = "graft.source.dir"
  private val RegProp = "graft.registration"

  /** `dir` qualified against its filesystem (`/x`, `file:/x` and a path
    * relative to the working directory name one dir): the identity a
    * registration records. */
  private def qualify(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** Test table `t` of `dir`, read through its DURABLE catalog
    * registration (`graft.<t>`; `events` is the `graft.events` view that
    * normalizes `ts` over `graft.events_raw`). The schema is inferred
    * once per dir, when the table is registered (≙ one crawler run,
    * main.tf:304-314); after that a call resolves the name with no Spark
    * job, no SQL statement, no file listing and no lock. Registering
    * `dir` re-points the name, like a crawler re-run: frames built before
    * keep reading the dir they were built on. It also installs
    * `plans.OnePartition` on the session (idempotent), so a query over a
    * tiny dir runs with no shuffle jobs. */
  def table(spark: SparkSession, dir: String, t: String): DataFrame = {
    graft.plans.OnePartition.enable(spark)
    val canon = qualify(spark, dir)
    resolved(spark, t, canon).getOrElse(synchronized {
      // this session may hold a relation cached from an earlier
      // registration (another dir, or this dir before a rewrite)
      invalidate(spark, t)
      resolved(spark, t, canon).getOrElse {
        register(spark, t, canon)
        // an unlocked resolve that began before the re-point can cache
        // the old relation once more
        Iterator.continually { invalidate(spark, t); resolved(spark, t, canon) }
          .take(4).collectFirst { case Some(df) => df }
          .getOrElse(throw new IllegalStateException(s"$Db.$t does not resolve to $canon"))
      }
    })
  }

  /** The registration `graft.<t>` records for `canon` (None when it
    * records another dir, or it or the database is missing) — a
    * metadata read, no SQL. */
  private def recorded(spark: SparkSession, t: String, canon: String): Option[CatalogTable] =
    try Some(spark.sessionState.catalog.getTableMetadata(TableIdentifier(t, Some(Db))))
      .filter(_.properties.get(DirProp).contains(canon))
    catch { case _: AnalysisException => None }

  /** `graft.<t>` resolved for `canon`, when the catalog records that dir
    * and the session resolves the name to that very registration. */
  private def resolved(spark: SparkSession, t: String, canon: String): Option[DataFrame] =
    recorded(spark, t, canon).flatMap { m =>
      try {
        val df = spark.table(s"$Db.$t")
        val regs = df.queryExecution.analyzed.collect {
          case v: View => v.desc.properties.get(RegProp)
          case r: LogicalRelation => r.catalogTable.flatMap(_.properties.get(RegProp))
        }
        if (regs.nonEmpty && regs.forall(_ == m.properties.get(RegProp))) Some(df) else None
      } catch { case _: AnalysisException => None } // dropped by a concurrent re-point
    }

  /** The stored table behind test table `t`. */
  private def stored(t: String): String = if (t == "events") "events_raw" else t

  /** Drop this session's cached relation for `t` (catalog-only). */
  private def invalidate(spark: SparkSession, t: String): Unit =
    spark.sessionState.catalog.invalidateCachedTable(TableIdentifier(stored(t), Some(Db)))

  /** (Re-)register `graft.<t>` for `canon`. `events` lands as
    * `graft.events_raw` plus the persistent `graft.events` view: the ts
    * normalization travels with the catalog (≙ a crawler-declared column
    * type), so a session that never called `table` still reads µs
    * instants. ts has shipped as ns-int64 (read as a long under the
    * `nanosAsLong` pin) and as naive timestamp[us] (read as
    * TIMESTAMP_NTZ); both become a µs TimestampType, and sessions pin UTC
    * so the NTZ cast keeps the instant. */
  private def register(spark: SparkSession, t: String, canon: String): Unit = {
    ensureDb(spark)
    val props = s"TBLPROPERTIES ('$DirProp'='$canon', '$RegProp'='${java.util.UUID.randomUUID()}')"
    val tbl = s"$Db.${stored(t)}"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING parquet LOCATION '${tablePath(canon, t)}' $props")
    if (t == "events") {
      val raw = spark.sessionState.catalog.getTableMetadata(TableIdentifier(stored(t), Some(Db)))
      val cols = raw.schema.fields.map { f =>
        if (f.name != "ts") s"`${f.name}`"
        else f.dataType match {
          case LongType      => "timestamp_micros(ts div 1000) AS ts"
          case TimestampType => "`ts`"
          case _             => "CAST(ts AS TIMESTAMP) AS ts"
        }
      }
      spark.sql(s"CREATE OR REPLACE VIEW $Db.events $props AS SELECT ${cols.mkString(", ")} FROM $tbl")
    }
  }

  /** Create the database when missing, under a temp-dir warehouse
    * location so managed tables never land in the working directory. */
  private def ensureDb(spark: SparkSession): Unit =
    if (!spark.catalog.databaseExists(Db))
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $Db LOCATION '${dbRoot.resolve(Db)}'")
  private lazy val dbRoot = graft.ops.IncrState.tempRoot("graft_warehouse_")

  /** Forget the registrations of `tables` that record `dir` — call after
    * rewriting their files in place, so the next read re-crawls the
    * schema and the file listing, in every session. */
  def unregister(spark: SparkSession, dir: String, tables: Seq[String]): Unit = synchronized {
    val canon = qualify(spark, dir)
    tables.filter(recorded(spark, _, canon).nonEmpty).foreach { t =>
      if (t == "events") spark.sql(s"DROP VIEW IF EXISTS $Db.events")
      spark.sql(s"DROP TABLE IF EXISTS $Db.${stored(t)}")
    }
  }

  /** Register every test table of `dir` as a DURABLE external table
    * (`graft.<t>`, with `graft.events` the normalizing view) — the whole
    * crawler run. Idempotent; re-pointing at a different dir replaces the
    * definitions. Returns the database name. */
  def registerExternalTables(spark: SparkSession, dir: String): String = {
    TestTables.foreach(table(spark, dir, _))
    Db
  }

  /** Compute catalog statistics for the given `graft.<t>` tables
    * (row counts + sizes; ≙ Glue column statistics): with stats in the
    * metastore the PLANNER sizes joins — a dimension under the broadcast
    * threshold hash-broadcasts at planning time even with AQE off, and
    * CBO (`spark.sql.cbo.enabled`) can reorder multiway joins. At 100 TB
    * the stats pass is one metadata-ish scan per table, amortized over
    * every subsequent query. */
  def analyzeTables(spark: SparkSession, tables: Seq[String]): Unit =
    tables.foreach { t =>
      spark.sql(s"ANALYZE TABLE $Db.$t COMPUTE STATISTICS")
    }

  /** Register an EXTERNAL partitioned table over hive-style directories
    * at `location` (schema inferred from the files present, partition
    * columns last). Partition directories present at registration are
    * discovered; ones landed LATER by other writers need
    * `recoverPartitions` — exactly the Glue split between the crawler's
    * first run and its daily re-crawl (reference main.tf:304-314). */
  def registerPartitionedExternal(spark: SparkSession, table: String,
                                  location: String, partCols: Seq[String]): Unit = synchronized {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $Db")
    if (!spark.catalog.tableExists(table)) {
      val schema = spark.read.parquet(location).schema
      val ddl = (schema.fields.filterNot(f => partCols.contains(f.name)) ++
        partCols.map(schema(_)))
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(s"""CREATE TABLE $table ($ddl) USING parquet
                    PARTITIONED BY (${partCols.mkString(", ")})
                    LOCATION '$location'""")
      spark.sql(s"MSCK REPAIR TABLE $table")
    }
  }

  /** Re-discover partitions landed at the table's location by writers
    * the catalog never saw (≙ the crawler's daily re-crawl picking up
    * prefixes other producers dropped in, main.tf:304-314). One listing
    * pass over the location; new directories become queryable by name,
    * and pruning over the refreshed partition index keeps working. */
  def recoverPartitions(spark: SparkSession, table: String): Unit =
    spark.sql(s"MSCK REPAIR TABLE $table")

  /** Register the engine's SQL-callable functions (≙ the reference's
    * Comprehend sentiment reached FROM SQL): after this,
    * `SELECT graft_sentiment(text) FROM graft.documents` works for a
    * pure-SQL user. Idempotent. */
  def registerFunctions(spark: SparkSession): Unit = {
    spark.udf.register("graft_sentiment", graft.ops.TextOps.sentimentSqlUdf)
    ()
  }

  /** The pure-SQL operator surface (VERDICT r6 #3): the L/J text and
    * dedup pipelines as DURABLE catalog views over the `graft.*`
    * external tables, so the Athena-migrating SQL user (reference
    * src/main.py:4-5) reaches them with `SELECT * FROM graft.v_…` and
    * NO Scala. Each view's SQL is the exact relational program of its
    * `SparkEntry.queries` twin (CatalogSuite pins row-level equality
    * from a FRESH session), minus the presentation ORDER BY — views
    * are composable relations; consumers order. h64 appears as its
    * built-in equivalent `conv(substring(md5(x),1,15),16,10)` so the
    * views resolve with zero session setup (a permanent view cannot
    * reference a session-registered function). Map: view name →
    * (queries key it mirrors, view body SQL). */
  val operatorViews: Map[String, (String, String)] = {
    val h64 = (e: String) => s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"
    val langsArr = "array('de','en','es','fr','zh')"
    Map(
      "v_agg_regression" -> ("q_agg_regression",
        s"""WITH b AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
                  CAST(FLOOR(l_extendedprice) AS BIGINT) AS y FROM $Db.lineitem),
            m AS (SELECT l_returnflag, COUNT(*) AS n,
                    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
                    CAST(SUM(CAST(x*x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
                    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
                    CAST(SUM(CAST(y*y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
                    CAST(SUM(CAST(x*y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
                    CAST(COUNT(*) AS DOUBLE) AS nd
                  FROM b GROUP BY l_returnflag)
            SELECT l_returnflag, n,
              ROUND((nd*sxy - sx*sy) / (nd*sxx - sx*sx), 6) AS slope,
              ROUND((sy - ((nd*sxy - sx*sy) / (nd*sxx - sx*sx)) * sx) / nd, 6) AS intercept,
              ROUND((nd*sxy - sx*sy) * (nd*sxy - sx*sy)
                    / ((nd*sxx - sx*sx) * (nd*syy - sy*sy)), 6) AS r2
            FROM m"""),
      "v_agg_entropy" -> ("q_agg_entropy",
        s"""WITH c AS (SELECT date_format(ts, 'yyyy-MM-dd') AS day, event_type,
                    COUNT(*) AS c
                  FROM $Db.events GROUP BY date_format(ts, 'yyyy-MM-dd'), event_type),
            n AS (SELECT day, SUM(c) AS n, COUNT(*) AS n_types FROM c GROUP BY day),
            t AS (SELECT c.day, n.n, n.n_types,
                    CAST(FLOOR((CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE))
                      * ln(CAST(n.n AS DOUBLE) / CAST(c.c AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS nm
                  FROM c JOIN n ON c.day = n.day)
            SELECT day, MAX(n) AS n_events, MAX(n_types) AS n_types,
                   SUM(nm) AS entropy_micro_nats
            FROM t GROUP BY day"""),
      "v_resample_gapfill" -> ("q_resample_gapfill",
        s"""WITH ev AS (SELECT user_id, date_trunc('hour', ts) AS h,
                    CAST(FLOOR(value * 1000000) AS BIGINT) AS vm FROM $Db.events),
            b AS (SELECT user_id, h, SUM(vm) AS vm, COUNT(*) AS n
                  FROM ev GROUP BY user_id, h),
            s AS (SELECT user_id, MIN(h) AS lo, MAX(h) AS hi FROM b GROUP BY user_id),
            g AS (SELECT user_id, explode(sequence(lo, hi, interval 1 hour)) AS h FROM s),
            j AS (SELECT g.user_id, g.h, COALESCE(b.n, CAST(0 AS BIGINT)) AS n,
                    LAST(b.vm) IGNORE NULLS OVER (PARTITION BY g.user_id ORDER BY g.h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vmf
                  FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.h = b.h)
            SELECT user_id, date_format(h, 'yyyy-MM-dd HH:mm:ss') AS hour, n,
                   COALESCE(vmf, CAST(0 AS BIGINT)) AS vm_filled
            FROM j"""),
      "v_agg_mode" -> ("q_agg_mode",
        s"""WITH c AS (SELECT lang, source, COUNT(*) AS n FROM $Db.documents
                  GROUP BY lang, source),
            r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY n DESC, source) AS rk FROM c)
            SELECT lang, source AS modal_source, n FROM r WHERE rk = 1"""),
      "v_win_pct_of_total" -> ("q_win_pct_of_total",
        s"""WITH g AS (SELECT date_format(ts, 'yyyy-MM-dd') AS day, event_type,
                    SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS vm
                  FROM $Db.events GROUP BY date_format(ts, 'yyyy-MM-dd'), event_type)
            SELECT day, event_type, vm,
                   vm * 1000000L div nullif(SUM(vm) OVER (PARTITION BY day), 0L)
                     AS share_ppm
            FROM g"""),
      "v_transitions" -> ("q_transitions",
        s"""WITH x AS (SELECT event_type AS from_type,
                    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      AS to_type
                  FROM $Db.events),
            m AS (SELECT from_type, to_type, COUNT(*) AS n FROM x
                  WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
            o AS (SELECT from_type, SUM(n) AS outflow FROM m GROUP BY from_type)
            SELECT m.from_type, m.to_type, m.n,
                   m.n * CAST(1000000 AS BIGINT) div o.outflow AS share_ppm
            FROM m JOIN o ON m.from_type = o.from_type"""),
      "v_interval_concurrency" -> ("q_interval_concurrency",
        s"""WITH o AS (SELECT CAST(o_orderdate AS DATE) AS lo,
                    date_add(CAST(o_orderdate AS DATE), 30) AS hi FROM $Db.orders),
            d AS (SELECT day, SUM(delta) AS delta FROM (
                    SELECT lo AS day, CAST(1 AS BIGINT) AS delta FROM o
                    UNION ALL SELECT hi AS day, CAST(-1 AS BIGINT) AS delta FROM o)
                  GROUP BY day)
            SELECT date_format(day, 'yyyy-MM-dd') AS day, delta,
                   SUM(delta) OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_orders
            FROM d"""),
      "v_sessionize" -> ("q_sessionize",
        s"""WITH e AS (SELECT user_id, event_id, ts,
                    CAST(FLOOR(value * 1000000) AS BIGINT) AS vm FROM $Db.events),
            x AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS prev_ts FROM e),
            f AS (SELECT *, CASE WHEN prev_ts IS NULL
                    OR unix_timestamp(ts) - unix_timestamp(prev_ts) > 1800
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS new_s FROM x),
            s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM f)
            SELECT user_id, session_id,
                   date_format(MIN(ts), 'yyyy-MM-dd HH:mm:ss') AS session_start,
                   date_format(MAX(ts), 'yyyy-MM-dd HH:mm:ss') AS session_end,
                   COUNT(*) AS n_events, SUM(vm) AS value_micros
            FROM s GROUP BY user_id, session_id"""),
      "v_scd2" -> ("q_scd2",
        s"""WITH e AS (SELECT user_id, event_type, ts, event_id FROM $Db.events),
            c AS (SELECT user_id, event_type, ts, event_id,
                    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      AS prev,
                    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      AS rn
                  FROM e),
            ch AS (SELECT user_id, event_type, ts, event_id FROM c
                   WHERE rn = 1 OR NOT (prev <=> event_type)),
            h AS (SELECT user_id, event_type, ts AS valid_from,
                    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      AS valid_to
                  FROM ch)
            SELECT user_id, event_type, valid_from,
                   COALESCE(valid_to, TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
                   (valid_to IS NULL) AS is_current
            FROM h"""),
      "v_text_tokens" -> ("q_text_tokens",
        s"""SELECT lang, tok, COUNT(*) AS n
            FROM (SELECT lang, explode(split(text, ' ')) AS tok FROM $Db.documents)
            GROUP BY lang, tok"""),
      "v_text_bigrams" -> ("q_text_bigrams",
        s"""WITH t AS (SELECT lang, split(text, ' ') AS toks FROM $Db.documents),
            b AS (SELECT lang, explode(CASE WHEN size(toks) >= 2 THEN
                    transform(sequence(2, size(toks)),
                      i -> concat(element_at(toks, i-1), ' ', element_at(toks, i)))
                  ELSE array() END) AS bigram FROM t),
            c AS (SELECT lang, bigram, COUNT(*) AS n FROM b GROUP BY lang, bigram),
            r AS (SELECT lang, bigram, n, CAST(ROW_NUMBER() OVER
                    (PARTITION BY lang ORDER BY n DESC, bigram) AS BIGINT) AS rk FROM c)
            SELECT lang, rk, bigram, n FROM r WHERE rk <= 5"""),
      "v_text_quality" -> ("q_text_quality",
        s"""WITH t AS (SELECT doc_id, n_chars, split(text, ' ') AS toks FROM $Db.documents),
            m AS (SELECT doc_id, n_chars,
                    CAST(size(toks) AS BIGINT) AS n_toks,
                    CAST(size(array_distinct(toks)) AS BIGINT) AS n_distinct,
                    CAST(size(filter(toks, t -> t = 'the' OR t = 'a')) AS BIGINT) AS n_stop
                  FROM t)
            SELECT doc_id, n_toks, n_distinct,
              FLOOR(CAST(n_distinct AS DOUBLE) * 1000000 / n_toks) AS ttr_micros,
              FLOOR(CAST(n_stop AS DOUBLE) * 1000000 / n_toks) AS stop_micros,
              FLOOR(CAST(n_chars AS DOUBLE) * 1000000 / n_toks) AS avg_len_micros,
              CASE WHEN n_toks >= 40
                     AND FLOOR(CAST(n_distinct AS DOUBLE) * 1000000 / n_toks) >= 350000
                   THEN 'high' WHEN n_toks >= 20 THEN 'medium' ELSE 'low' END AS quality
            FROM m"""),
      "v_text_bpe" -> ("q_text_bpe",
        s"""WITH w AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+', 0) AS words
                       FROM $Db.documents)
            SELECT doc_id, CAST(size(words) AS BIGINT) AS n_words,
              aggregate(words, 0L, (acc, t) -> acc + (length(t) + 3) div 4) AS n_pieces
            FROM w"""),
      "v_text_scrub" -> ("q_text_scrub",
        s"""WITH t AS (SELECT doc_id, split(text, ' ') AS toks FROM $Db.documents),
            k AS (SELECT doc_id, toks, filter(toks, t -> t <> 'the' AND t <> 'a') AS kept FROM t)
            SELECT doc_id, array_join(kept, ' ') AS scrubbed,
                   CAST(size(toks) - size(kept) AS BIGINT) AS n_removed
            FROM k"""),
      "v_text_repetition" -> ("q_text_repetition",
        s"""WITH t AS (SELECT doc_id, split(text, ' ') AS toks FROM $Db.documents),
            f AS (SELECT doc_id, CAST(size(toks) AS BIGINT) AS n_toks, toks
                  FROM t WHERE size(toks) >= 3),
            g AS (SELECT doc_id, n_toks, explode(concat(
                    transform(sequence(2, size(toks)),
                      i -> concat('2:', element_at(toks, i-1), ' ', element_at(toks, i))),
                    transform(sequence(3, size(toks)),
                      i -> concat('3:', element_at(toks, i-2), ' ', element_at(toks, i-1), ' ',
                                  element_at(toks, i))))) AS g
                  FROM f),
            c AS (SELECT doc_id, n_toks, g, COUNT(*) AS c FROM g GROUP BY doc_id, n_toks, g),
            m AS (SELECT doc_id, n_toks,
                    MAX(CASE WHEN g LIKE '2:%' THEN c END) AS c2,
                    MAX(CASE WHEN g LIKE '3:%' THEN c END) AS c3
                  FROM c GROUP BY doc_id, n_toks),
            p AS (SELECT doc_id,
                    FLOOR(CAST(c2 AS DOUBLE) * 1000000 / (n_toks - 1)) AS top2_ppm,
                    FLOOR(CAST(c3 AS DOUBLE) * 1000000 / (n_toks - 2)) AS top3_ppm
                  FROM m)
            SELECT doc_id, top2_ppm, top3_ppm,
              CASE WHEN top2_ppm > 200000 OR top3_ppm > 180000 THEN 'drop' ELSE 'keep' END AS verdict
            FROM p"""),
      "v_text_pii" -> ("q_text_pii",
        s"""WITH r AS (SELECT doc_id,
                  concat(text, ' contact u', CAST(doc_id AS STRING), '@mail-', source,
                         '.com call 555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'),
                         ' from 10.', CAST(doc_id % 200 AS STRING), '.0.',
                         CAST((doc_id % 250) + 1 AS STRING)) AS raw
                FROM $Db.documents)
            SELECT doc_id,
              regexp_replace(regexp_replace(regexp_replace(raw,
                '[a-z0-9._%+-]+@[a-z0-9.-]+\\\\.[a-z]{2,}', '<EMAIL>'),
                '\\\\b\\\\d{1,3}\\\\.\\\\d{1,3}\\\\.\\\\d{1,3}\\\\.\\\\d{1,3}\\\\b', '<IP>'),
                '\\\\b\\\\d{3}-\\\\d{4}\\\\b', '<PHONE>') AS redacted,
              CAST(size(regexp_extract_all(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\\\\.[a-z]{2,}', 0)) AS BIGINT) AS n_emails,
              CAST(size(regexp_extract_all(raw, '\\\\b\\\\d{3}-\\\\d{4}\\\\b', 0)) AS BIGINT) AS n_phones,
              CAST(size(regexp_extract_all(raw, '\\\\b\\\\d{1,3}\\\\.\\\\d{1,3}\\\\.\\\\d{1,3}\\\\.\\\\d{1,3}\\\\b', 0)) AS BIGINT) AS n_ips
            FROM r"""),
      "v_dedup_exact" -> ("q_dedup_exact",
        s"""SELECT md5(text) AS text_md5, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
            FROM $Db.documents GROUP BY md5(text)"""),
      "v_dedup_lines" -> ("q_dedup_lines",
        s"""WITH t AS (SELECT doc_id, split(text, ' ') AS toks FROM $Db.documents),
            l AS (SELECT doc_id, posexplode(transform(sequence(1, size(toks), 3),
                    i -> concat_ws(' ', slice(toks, i, 3)))) AS (idx, line) FROM t),
            k AS (SELECT line, MIN(struct(doc_id, idx)) AS k FROM l GROUP BY line),
            j AS (SELECT l.doc_id, l.idx, l.line,
                    (l.doc_id = k.k.doc_id AND l.idx = k.k.idx) AS first
                  FROM l JOIN k ON l.line = k.line)
            SELECT doc_id, COUNT(*) AS n_lines,
              SUM(CASE WHEN first THEN 1L ELSE 0L END) AS n_kept,
              array_join(transform(array_sort(collect_list(
                CASE WHEN first THEN struct(idx, line) END)), x -> x.line), ' ') AS kept_text
            FROM j GROUP BY doc_id"""),
      "v_text_tfidf" -> ("q_text_tfidf",
        s"""WITH tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM
                    (SELECT doc_id, explode(split(text, ' ')) AS tok FROM $Db.documents)
                  GROUP BY doc_id, tok),
            df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
            n AS (SELECT COUNT(*) AS n_docs FROM $Db.documents),
            s AS (SELECT tf.doc_id, tf.tok,
                    ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS score
                  FROM tf JOIN df USING (tok) CROSS JOIN n),
            r AS (SELECT doc_id, tok, score, CAST(ROW_NUMBER() OVER
                    (PARTITION BY doc_id ORDER BY score DESC, tok) AS BIGINT) AS rk FROM s)
            SELECT doc_id, rk, tok, score FROM r WHERE rk <= 3"""),
      "v_split_train" -> ("q_split_train",
        s"""WITH b AS (SELECT doc_id, lang, n_chars,
                    ${h64("concat('split:', CAST(doc_id AS STRING))")} % 1000 AS b
                  FROM $Db.documents),
            s AS (SELECT CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'valid'
                              ELSE 'test' END AS split, lang, doc_id, n_chars FROM b)
            SELECT split, lang, COUNT(*) AS n_docs, MIN(doc_id) AS first_id,
                   SUM(n_chars) AS total_chars
            FROM s GROUP BY split, lang"""),
      "v_agg_stats" -> ("q_agg_stats",
        s"""WITH b AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
                              CAST(FLOOR(l_extendedprice) AS BIGINT) AS y
                       FROM $Db.lineitem),
            m AS (SELECT l_returnflag, COUNT(*) AS n,
                         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
                         CAST(SUM(CAST(x*x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
                         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
                         CAST(SUM(CAST(y*y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
                         CAST(SUM(CAST(x*y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
                         CAST(COUNT(*) AS DOUBLE) AS nd
                  FROM b GROUP BY l_returnflag)
            SELECT l_returnflag, n,
                   round(sx / nd, 6) AS mean_x, round(sy / nd, 6) AS mean_y,
                   round((nd*sxx - sx*sx) / (nd*nd), 6) AS var_pop_x,
                   round(sqrt((nd*sxx - sx*sx) / (nd*(nd - 1.0))), 6) AS stddev_samp_x,
                   round((nd*sxy - sx*sy) / (nd*nd), 6) AS covar_pop,
                   round((nd*sxy - sx*sy)
                         / (sqrt(nd*sxx - sx*sx) * sqrt(nd*syy - sy*sy)), 6) AS corr_xy
            FROM m"""),
      "v_heavy_hitters" -> ("q_heavy_hitters",
        s"""WITH k AS (SELECT CASE WHEN event_id % 5 = 0
                         THEN concat('hot_', CAST(event_id % 3 AS STRING))
                         ELSE concat('cold_', CAST(event_id % 7919 AS STRING)) END AS k
                       FROM $Db.events),
            c AS (SELECT k, COUNT(*) AS cnt FROM k GROUP BY k),
            n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c)
            SELECT c.k, c.cnt FROM c CROSS JOIN n WHERE c.cnt * 25 > n.total"""),
      "v_dedup_spans" -> ("q_dedup_spans",
        s"""WITH t AS (SELECT doc_id, split(text, ' ') AS toks FROM $Db.documents),
            sp AS (SELECT doc_id, explode(CASE WHEN size(toks) >= 8
                     THEN transform(sequence(8, size(toks)),
                            i -> concat_ws(' ', slice(toks, i-7, 8)))
                     ELSE array() END) AS span FROM t),
            e AS (SELECT doc_id, ${h64("span")} AS h FROM sp),
            dd AS (SELECT h, CAST(1 AS BIGINT) AS isdup
                   FROM e GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
            m AS (SELECT e.doc_id, COUNT(*) AS n_spans,
                         CAST(SUM(coalesce(dd.isdup, 0)) AS BIGINT) AS n_dup_spans
                  FROM e LEFT JOIN dd ON e.h = dd.h GROUP BY e.doc_id)
            SELECT doc_id, n_spans, n_dup_spans,
                   round(CAST(n_dup_spans AS DOUBLE) / CAST(n_spans AS DOUBLE), 6) AS dup_frac
            FROM m WHERE n_dup_spans > 0"""),
      "v_graph_pagerank" -> ("q_graph_pagerank",
        s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
                        FROM $Db.orders JOIN $Db.lineitem ON o_orderkey = l_orderkey),
            e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
            deg AS (SELECT u, COUNT(*) AS outdeg FROM e GROUP BY u),
            r0 AS (SELECT u, CAST(1000000 AS BIGINT) AS r FROM deg),
            s1 AS (SELECT e.v AS u,
                          CAST(150000 + (SUM(r0.r div deg.outdeg) * 85) div 100 AS BIGINT) AS r
                   FROM e JOIN r0 ON e.u = r0.u JOIN deg ON deg.u = e.u GROUP BY e.v),
            s2 AS (SELECT e.v AS u,
                          CAST(150000 + (SUM(s1.r div deg.outdeg) * 85) div 100 AS BIGINT) AS r
                   FROM e JOIN s1 ON e.u = s1.u JOIN deg ON deg.u = e.u GROUP BY e.v),
            s3 AS (SELECT e.v AS u,
                          CAST(150000 + (SUM(s2.r div deg.outdeg) * 85) div 100 AS BIGINT) AS r
                   FROM e JOIN s2 ON e.u = s2.u JOIN deg ON deg.u = e.u GROUP BY e.v)
            SELECT (u - 1) div 2 AS supp_key, r AS rank_m FROM s3 WHERE u % 2 = 1"""),
      "v_graph_triangles" -> ("q_graph_triangles",
        s"""WITH ls AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS sk
                        FROM $Db.lineitem),
            e0 AS (SELECT DISTINCT a.sk AS u, b.sk AS v
                   FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk < b.sk),
            deg AS (SELECT x, COUNT(*) AS dg FROM
                      (SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0) GROUP BY x),
            e AS (SELECT CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND u < v)
                              THEN u ELSE v END AS s,
                         CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND u < v)
                              THEN v ELSE u END AS t
                  FROM e0 JOIN deg d1 ON d1.x = e0.u JOIN deg d2 ON d2.x = e0.v),
            tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
                    FROM e e1 JOIN e e2 ON e1.t = e2.s
                    WHERE EXISTS (SELECT 1 FROM e e3
                                  WHERE e3.s = e1.s AND e3.t = e2.t)),
            pn AS (SELECT x, COUNT(*) AS tri FROM
                     (SELECT a AS x FROM tri UNION ALL SELECT b FROM tri
                      UNION ALL SELECT c FROM tri) GROUP BY x)
            SELECT part_key, tri, degree,
                   CASE WHEN degree >= 2 THEN (tri * 2000000) div (degree * (degree - 1))
                        ELSE CAST(0 AS BIGINT) END AS cc_ppm
            FROM (SELECT deg.x AS part_key, CAST(coalesce(pn.tri, 0) AS BIGINT) AS tri,
                         deg.dg AS degree
                  FROM deg LEFT JOIN pn ON pn.x = deg.x)
            ORDER BY tri DESC, part_key LIMIT 20"""),
      // colorful triangle estimate (L37b): the vertex color is the same
      // md5-fold hash the Scala twin uses, applied BEFORE pair
      // production so only monochromatic co-purchase pairs ever leave
      // the self-join; the sampled count scales by m² = 16. The exact
      // count over the SAMPLED edge set is a plain 3-way canonical
      // self-join (a<b<c counts each triangle once) — the sample is
      // ~1/m² of the full pair stream, where the degree-oriented wedge
      // machinery of v_graph_triangles matters less than readability.
      "v_graph_triangles_approx" -> ("q_graph_triangles_approx",
        s"""WITH ls AS (SELECT ok, sk,
                    ${h64("CAST(sk AS STRING)")} % 4 AS c
                  FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS sk
                        FROM $Db.lineitem)),
            es AS (SELECT DISTINCT a.sk AS u, b.sk AS v
                   FROM ls a JOIN ls b
                     ON a.ok = b.ok AND a.sk < b.sk AND a.c = b.c),
            tri AS (SELECT COUNT(*) AS t FROM es e1
                    JOIN es e2 ON e2.u = e1.v
                    JOIN es e3 ON e3.u = e1.u AND e3.v = e2.v),
            ne AS (SELECT COUNT(*) AS n FROM es)
            SELECT CAST(4 AS BIGINT) AS sample_mod, ne.n AS edges_sampled,
                   tri.t AS tri_sampled, tri.t * CAST(16 AS BIGINT) AS est_tri
            FROM tri CROSS JOIN ne"""),
      // three-step funnel (I12): chained per-user min-aggregates — the
      // same three partial-aggregable stages as the Scala twin, each
      // step's time strictly after the previous step's
      "v_funnel" -> ("q_funnel",
        s"""WITH e AS (SELECT user_id, event_type, ts FROM $Db.events),
            u AS (SELECT DISTINCT user_id FROM e),
            s1 AS (SELECT user_id, MIN(ts) AS t1 FROM e
                   WHERE event_type = 'click' GROUP BY user_id),
            s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
                   WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
                   WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
            SELECT u.user_id,
                   CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                             WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
                   date_format(t1, 'yyyy-MM-dd HH:mm:ss') AS t1,
                   date_format(t2, 'yyyy-MM-dd HH:mm:ss') AS t2,
                   date_format(t3, 'yyyy-MM-dd HH:mm:ss') AS t3
            FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
                   LEFT JOIN s3 USING (user_id)"""),
      // cohort retention matrix (I13): first-activity cohort + distinct
      // (user, day) activity, one equi-join — two shuffles at any scale
      "v_retention" -> ("q_retention",
        s"""WITH a AS (SELECT DISTINCT user_id, to_date(ts) AS day FROM $Db.events),
            c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY user_id)
            SELECT date_format(c.cohort_day, 'yyyy-MM-dd') AS cohort_day,
                   CAST(datediff(a.day, c.cohort_day) AS BIGINT) AS day_offset,
                   COUNT(*) AS n_users
            FROM a JOIN c USING (user_id)
            GROUP BY c.cohort_day, datediff(a.day, c.cohort_day)"""),
      // RAKE keyphrases (J3b): stopword-delimited runs chunked to ≤3
      // tokens, ranked by corpus TF-IDF — the same doc-bounded windows
      // and partial-aggregable tf/df shuffles as the Scala twin
      "v_text_keyphrases" -> ("q_text_keyphrases",
        s"""WITH t AS (SELECT doc_id, pos, tok FROM $Db.documents
                  LATERAL VIEW posexplode(split(text, ' ')) AS pos, tok),
            s AS (SELECT doc_id, pos, tok,
                    CASE WHEN tok IN ('a','the','is','of','and','to','in')
                         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_stop
                  FROM t),
            r AS (SELECT *, SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
                  FROM s),
            ch AS (SELECT doc_id, run_id, pos, tok,
                     FLOOR((ROW_NUMBER() OVER (PARTITION BY doc_id, run_id
                       ORDER BY pos) - 1) / 3) AS chunk
                   FROM r WHERE is_stop = 0),
            p AS (SELECT doc_id, run_id, chunk,
                    array_join(transform(array_sort(collect_list(struct(pos, tok))),
                      x -> x.tok), ' ') AS phrase,
                    COUNT(*) AS plen
                  FROM ch GROUP BY doc_id, run_id, chunk),
            tf AS (SELECT doc_id, phrase, COUNT(*) AS tf FROM p
                   WHERE plen >= 2 GROUP BY doc_id, phrase),
            df AS (SELECT phrase, COUNT(*) AS df FROM tf GROUP BY phrase),
            n AS (SELECT COUNT(*) AS n_docs FROM $Db.documents),
            sc AS (SELECT tf.doc_id, tf.phrase,
                     ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS score
                   FROM tf JOIN df USING (phrase) CROSS JOIN n),
            rk AS (SELECT doc_id, phrase, score, CAST(ROW_NUMBER() OVER
                     (PARTITION BY doc_id ORDER BY score DESC, phrase) AS BIGINT) AS rk
                   FROM sc)
            SELECT doc_id, rk, phrase, score FROM rk WHERE rk <= 3"""),
      "v_split_drift" -> ("q_split_drift",
        s"""WITH t AS (SELECT ${h64("concat('split:', CAST(doc_id AS STRING))")} % 1000
                         < 800 AS is_tr, explode(split(text, ' ')) AS tok
                  FROM $Db.documents),
            c AS (SELECT tok, SUM(CASE WHEN is_tr THEN 1 ELSE 0 END) AS n_tr,
                       SUM(CASE WHEN is_tr THEN 0 ELSE 1 END) AS n_ho
                  FROM t GROUP BY tok),
            tot AS (SELECT SUM(n_tr) AS t_tr, SUM(n_ho) AS t_ho FROM c),
            ppm AS (SELECT tok, n_tr, n_ho,
                           (n_tr * 1000000) div t_tr AS p_ppm,
                           (n_ho * 1000000) div t_ho AS q_ppm,
                           abs((n_tr * 1000000) div t_tr
                               - (n_ho * 1000000) div t_ho) AS drift_ppm
                    FROM c CROSS JOIN tot),
            top AS (SELECT * FROM ppm ORDER BY drift_ppm DESC, tok LIMIT 20),
            tv AS (SELECT '__tv_total__' AS tok, t_tr AS n_tr, t_ho AS n_ho,
                          CAST(0 AS BIGINT) AS p_ppm, CAST(0 AS BIGINT) AS q_ppm,
                          (SELECT SUM(drift_ppm) FROM ppm) div 2 AS drift_ppm
                   FROM tot)
            SELECT * FROM (SELECT * FROM top UNION ALL SELECT * FROM tv)
            ORDER BY drift_ppm DESC, tok"""),
      "v_quality_classify" -> ("q_quality_classify",
        s"""WITH d0 AS (SELECT doc_id, split(text, ' ') AS toks FROM $Db.documents),
            d AS (SELECT doc_id, toks, CAST(size(toks) AS BIGINT) AS n_toks,
                    (size(toks) >= 40 AND
                     floor(CAST(size(array_distinct(toks)) AS DOUBLE) * 1000000 / size(toks)) >= 350000) AS label_pos,
                    ${h64("concat('split:', CAST(doc_id AS STRING))")} % 1000 < 800 AS is_tr
                  FROM d0),
            tok AS (SELECT doc_id, label_pos, is_tr, explode(toks) AS tok FROM d),
            cnt AS (SELECT tok, SUM(CASE WHEN label_pos THEN 1 ELSE 0 END) AS c_pos,
                           SUM(CASE WHEN label_pos THEN 0 ELSE 1 END) AS c_neg
                    FROM tok WHERE is_tr GROUP BY tok),
            tot AS (SELECT SUM(c_pos) AS t_pos, SUM(c_neg) AS t_neg, COUNT(*) AS vocab FROM cnt),
            wts AS (SELECT tok, CAST(floor(ln(CAST((c_pos + 1) * (t_neg + vocab) AS DOUBLE)
                              / ((c_neg + 1) * (t_pos + vocab))) * 1000000 + 0.000001) AS BIGINT) AS w
                    FROM cnt CROSS JOIN tot),
            sc AS (SELECT t.doc_id, t.label_pos, COUNT(*) AS n_toks,
                          SUM(coalesce(w.w, 0L)) AS score_micros
                   FROM tok t LEFT JOIN wts w ON t.tok = w.tok
                   GROUP BY t.doc_id, t.label_pos)
            SELECT doc_id, n_toks, score_micros,
                   CASE WHEN score_micros > 0 THEN 'pos' ELSE 'neg' END AS pred,
                   CASE WHEN label_pos THEN 'pos' ELSE 'neg' END AS label,
                   CAST(CAST((score_micros > 0) = label_pos AS INT) AS BIGINT) AS correct
            FROM sc"""),
      "v_text_bpe_encode" -> ("q_text_bpe_encode", {
        def round(i: Int) = {
          val prev = s"d${i - 1}"
          s"""
            p$i AS (SELECT freq, filter(split(repr, '\\\\|'), x -> x != '') AS syms FROM $prev),
            c$i AS (SELECT p.a AS a, p.b AS b, SUM(freq) AS cnt FROM (
                      SELECT freq, explode(transform(sequence(1, size(syms) - 1),
                        i -> named_struct('a', element_at(syms, i), 'b', element_at(syms, i + 1)))) AS p
                      FROM p$i WHERE size(syms) >= 2) GROUP BY p.a, p.b),
            b$i AS (SELECT a, b, cnt FROM c$i ORDER BY cnt DESC, a, b LIMIT 1),
            d$i AS (SELECT w, freq,
                      replace(replace(replace(replace(repr, pat, rep), pat, rep), pat, rep), pat, rep) AS repr
                    FROM $prev CROSS JOIN (SELECT concat('|', a, '|', b, '|') AS pat,
                                                  concat('|', a, b, '|') AS rep FROM b$i))"""
        }
        s"""WITH wt AS (SELECT tok AS w, COUNT(*) AS freq FROM (
                 SELECT explode(split(text, ' ')) AS tok FROM $Db.documents)
               WHERE length(tok) > 0 GROUP BY tok),
            d0 AS (SELECT w, freq, concat('|',
                     array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), '|'),
                     '|') AS repr FROM wt),${round(1)},${round(2)},${round(3)},
            dict AS (SELECT w,
                       CAST(size(filter(split(repr, '\\\\|'), x -> x != '')) AS BIGINT) AS np
                     FROM d3),
            tok AS (SELECT doc_id, tok AS w FROM (
                      SELECT doc_id, explode(split(text, ' ')) AS tok FROM $Db.documents)
                    WHERE length(tok) > 0)
            SELECT doc_id, COUNT(*) AS n_words, SUM(np) AS n_pieces,
                   (SUM(np) * 1000000) div COUNT(*) AS ppw_ppm
            FROM tok JOIN dict USING (w) GROUP BY doc_id"""
      }),
      "v_cluster_terms" -> ("q_cluster_terms",
        s"""WITH m0 AS (SELECT vec_id,
                  transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS v
                  FROM $Db.embeddings),
            m AS (SELECT vec_id, v, aggregate(v, 0L, (a, x) -> a + x * x) AS n2 FROM m0),
            seeds AS (SELECT vec_id AS sid, v AS sv, n2 AS sn2 FROM m WHERE vec_id < 8),
            a1 AS (SELECT vec_id, sid,
                     CAST(aggregate(zip_with(v, sv, (x, y) -> x * y), 0L, (a, x) -> a + x) AS DOUBLE)
                       / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(sn2 AS DOUBLE))) AS sim
                   FROM m CROSS JOIN seeds),
            asg AS (SELECT vec_id, sid AS cl FROM (
                      SELECT vec_id, sid,
                             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, sid) AS rk
                      FROM a1) WHERE rk = 1),
            t AS (SELECT cl, explode(split(text, ' ')) AS tok
                  FROM $Db.documents d JOIN asg ON d.doc_id = asg.vec_id),
            ct AS (SELECT cl, tok, COUNT(*) AS tf_c FROM t GROUP BY cl, tok),
            cc AS (SELECT cl, SUM(tf_c) AS tot_c FROM ct GROUP BY cl),
            gt AS (SELECT tok, SUM(tf_c) AS tf_g FROM ct GROUP BY tok),
            gg AS (SELECT SUM(tf_g) AS tot_g FROM gt),
            sc AS (SELECT ct.cl, ct.tok, ct.tf_c,
                     (ct.tf_c * 1000000) div cc.tot_c - (gt.tf_g * 1000000) div gg.tot_g AS lift_ppm
                   FROM ct JOIN cc ON ct.cl = cc.cl JOIN gt ON ct.tok = gt.tok CROSS JOIN gg),
            r AS (SELECT cl, tok, tf_c, lift_ppm,
                    ROW_NUMBER() OVER (PARTITION BY cl ORDER BY lift_ppm DESC, tok) AS rk
                  FROM sc)
            SELECT cl AS cluster, CAST(rk AS BIGINT) AS rk, tok, lift_ppm, tf_c
            FROM r WHERE rk <= 3"""),
      // D12: exact-moment outlier report — the |x−μ|>1.5σ test cleared
      // of division/sqrt ((x·n−Σx)²·4 > 9·(n·Σx²−(Σx)²)), decimal(38,0)
      // intermediates exactly like the Scala twin
      "v_agg_outliers" -> ("q_agg_outliers",
        s"""WITH ev AS (SELECT event_type,
                  CAST(FLOOR(value * 100) AS DECIMAL(38,0)) AS x FROM $Db.events),
            st AS (SELECT event_type, CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                     SUM(x) AS sum_c, SUM(x * x) AS ssq
                   FROM ev GROUP BY event_type),
            f AS (SELECT ev.event_type, ev.x,
                    CAST(CAST(4 * (ev.x * st.n - st.sum_c) * (ev.x * st.n - st.sum_c)
                              > 9 * (st.n * st.ssq - st.sum_c * st.sum_c) AS INT) AS BIGINT) AS is_out
                  FROM ev JOIN st ON ev.event_type = st.event_type)
            SELECT event_type, COUNT(*) AS n_events, SUM(is_out) AS n_outliers,
                   MAX(CASE WHEN is_out = 1 THEN CAST(x AS BIGINT) END) AS max_outlier_cents
            FROM f GROUP BY event_type"""),
      // D13: data-quality constraint report — planted dirt (null/orphan
      // uids, negated values, duplicated slice) identical to the twin,
      // tall (check_name, violations) via stack
      "v_quality_report" -> ("q_quality_report",
        s"""WITH ev AS (SELECT event_id,
                    CASE WHEN event_id % 97 = 0 THEN CAST(NULL AS BIGINT)
                         WHEN event_id % 103 = 0 THEN user_id + 1000000
                         ELSE user_id END AS uid,
                    CASE WHEN event_id % 89 = 0 THEN -value ELSE value END AS v
                  FROM $Db.events),
            dirty AS (SELECT * FROM ev
                      UNION ALL SELECT * FROM ev WHERE event_id % 101 = 0),
            orph AS (SELECT COUNT(*) AS fk_orphans FROM dirty
                     WHERE uid IS NOT NULL AND NOT EXISTS (
                       SELECT 1 FROM $Db.customer c WHERE c.c_custkey = dirty.uid)),
            agg AS (SELECT COUNT(*) AS row_count,
                      COUNT(*) - COUNT(DISTINCT event_id) AS pk_dupes,
                      SUM(CASE WHEN uid IS NULL THEN CAST(1 AS BIGINT) ELSE 0 END) AS null_user_id,
                      SUM(CASE WHEN v < 0 THEN CAST(1 AS BIGINT) ELSE 0 END) AS negative_value
                    FROM dirty)
            SELECT stack(5,
              'fk_orphans', fk_orphans,
              'negative_value', negative_value,
              'null_user_id', null_user_id,
              'pk_dupes', pk_dupes,
              'row_count', row_count) AS (check_name, violations)
            FROM agg CROSS JOIN orph"""),
      // L29: fuzzy matching — the same q-gram blocking + short-name
      // cross + levenshtein verify as the Scala twin (never bare n²
      // over the long names)
      "v_fuzzy_match" -> ("q_fuzzy_match",
        s"""WITH nm AS (SELECT DISTINCT lower(p_name) AS nm FROM $Db.part),
            ln AS (SELECT nm FROM nm WHERE length(nm) >= 7),
            sn AS (SELECT nm FROM nm WHERE length(nm) < 7),
            g AS (SELECT nm, explode(array_distinct(
                    transform(sequence(1, length(nm) - 1),
                      i -> substring(nm, i, 2)))) AS g FROM ln),
            blocked AS (SELECT DISTINCT a.nm AS n1, b.nm AS n2
                        FROM g a JOIN g b ON a.g = b.g AND a.nm < b.nm),
            cand AS (SELECT * FROM blocked
                     UNION ALL SELECT a.nm AS n1, b.nm AS n2
                               FROM sn a JOIN nm b ON a.nm < b.nm
                     UNION ALL SELECT a.nm AS n1, b.nm AS n2
                               FROM ln a JOIN sn b ON a.nm < b.nm),
            v AS (SELECT n1, n2, CAST(levenshtein(n1, n2) AS BIGINT) AS dist
                  FROM cand WHERE abs(length(n1) - length(n2)) <= 2)
            SELECT n1, n2, dist FROM v WHERE dist <= 2"""),
      // L30: sequence packing — per-shard running token offset div the
      // context length; shard key via the md5-based h64 twin
      "v_pack_sequences" -> ("q_pack_sequences",
        s"""WITH d AS (SELECT doc_id,
                    CAST(size(split(text, ' ')) AS BIGINT) AS n_toks,
                    ${h64("concat('pack:', CAST(doc_id AS STRING))")} % 8 AS shard
                  FROM $Db.documents),
            w AS (SELECT doc_id, shard, n_toks,
                    COALESCE(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off_global
                  FROM d)
            SELECT doc_id, shard, off_global div 64 AS pack_id,
                   off_global % 64 AS off_in_pack, n_toks,
                   CASE WHEN off_global % 64 + n_toks > 64 THEN 'yes' ELSE 'no' END AS split
            FROM w"""),
      // L33: seeded k-means + one Lloyd step — assignment CTE shared
      // with v_cluster_terms; centroid re-collect via posexplode +
      // ordered struct sort (the CentroidAgg floor-average, in SQL)
      "v_cluster_kmeans" -> ("q_cluster_kmeans",
        s"""WITH m0 AS (SELECT vec_id,
                  transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS v
                  FROM $Db.embeddings),
            m AS (SELECT vec_id, v, aggregate(v, 0L, (a, x) -> a + x * x) AS n2 FROM m0),
            seeds AS (SELECT vec_id AS sid, v AS sv, n2 AS sn2 FROM m WHERE vec_id < 8),
            a1 AS (SELECT vec_id, sid,
                     CAST(aggregate(zip_with(v, sv, (x, y) -> x * y), 0L, (a, x) -> a + x) AS DOUBLE)
                       / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(sn2 AS DOUBLE))) AS sim
                   FROM m CROSS JOIN seeds),
            as1 AS (SELECT vec_id, sid AS cl FROM (
                      SELECT vec_id, sid,
                             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, sid) AS rk
                      FROM a1) WHERE rk = 1),
            e AS (SELECT as1.cl, pe.i, pe.c FROM as1 JOIN m USING (vec_id)
                  LATERAL VIEW posexplode(v) pe AS i, c),
            cs AS (SELECT cl, i,
                     CAST(FLOOR(CAST(SUM(c) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cc
                   FROM e GROUP BY cl, i),
            cv AS (SELECT cl AS cl2,
                     transform(array_sort(collect_list(struct(i, cc))), s -> s.cc) AS cvec
                   FROM cs GROUP BY cl),
            cn AS (SELECT cl2, cvec, aggregate(cvec, 0L, (a, x) -> a + x * x) AS cn2 FROM cv),
            a2 AS (SELECT vec_id, cl2,
                     CAST(aggregate(zip_with(v, cvec, (x, y) -> x * y), 0L, (a, x) -> a + x) AS DOUBLE)
                       / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS sim
                   FROM m CROSS JOIN cn),
            as2 AS (SELECT vec_id, cl2, sim FROM (
                      SELECT vec_id, cl2, sim,
                             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cl2) AS rk
                      FROM a2) WHERE rk = 1),
            f AS (SELECT cl2 AS cluster, CAST(FLOOR(sim * 1000000) AS BIGINT) AS sim_i FROM as2)
            SELECT cluster, COUNT(*) AS n, SUM(sim_i) AS sim_sum,
                   round(CAST(SUM(sim_i) AS DOUBLE) / (1000000.0 * CAST(COUNT(*) AS DOUBLE)), 6) AS mean_sim
            FROM f GROUP BY cluster"""),
      // L34: SemDeDup — within-cluster exact-cosine pair sweep over the
      // same seeded assignment; keep-lowest-id drop profile
      "v_dedup_semantic" -> ("q_dedup_semantic",
        s"""WITH m0 AS (SELECT vec_id,
                  transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS v
                  FROM $Db.embeddings),
            m AS (SELECT vec_id, v, aggregate(v, 0L, (a, x) -> a + x * x) AS n2 FROM m0),
            seeds AS (SELECT vec_id AS sid, v AS sv, n2 AS sn2 FROM m WHERE vec_id < 8),
            a1 AS (SELECT vec_id, sid,
                     CAST(aggregate(zip_with(v, sv, (x, y) -> x * y), 0L, (a, x) -> a + x) AS DOUBLE)
                       / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(sn2 AS DOUBLE))) AS sim
                   FROM m CROSS JOIN seeds),
            asg AS (SELECT t.vec_id, t.sid AS cl, m.v, m.n2 FROM (
                      SELECT vec_id, sid,
                             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, sid) AS rk
                      FROM a1) t JOIN m USING (vec_id) WHERE rk = 1),
            p AS (SELECT a.cl, b.vec_id AS ib,
                    CAST(aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0L, (acc, x) -> acc + x) AS DOUBLE)
                      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS ps
                  FROM asg a JOIN asg b ON a.cl = b.cl AND a.vec_id < b.vec_id),
            dr AS (SELECT cl, COUNT(DISTINCT ib) AS n_dropped
                   FROM p WHERE ps >= 0.4 GROUP BY cl),
            mem AS (SELECT cl, COUNT(*) AS n_members FROM asg GROUP BY cl)
            SELECT mem.cl AS cluster, n_members,
                   COALESCE(dr.n_dropped, CAST(0 AS BIGINT)) AS n_dropped,
                   n_members - COALESCE(dr.n_dropped, CAST(0 AS BIGINT)) AS n_kept
            FROM mem LEFT JOIN dr ON mem.cl = dr.cl"""),
      // L42: A-ES weighted sampling — ln-quantized exponential keys
      // over the md5-h64 uniform, top-5 per language
      "v_sample_weighted" -> ("q_sample_weighted",
        s"""WITH d0 AS (SELECT doc_id, lang,
                  CAST(size(split(text, ' ')) AS BIGINT) AS w,
                  ${h64("concat('wsamp:', CAST(doc_id AS STRING))")} AS h
                  FROM $Db.documents),
            kq AS (SELECT doc_id, lang, w,
                     CAST(FLOOR(ln((CAST(h AS DOUBLE) + 1) / 1152921504606846976.0)
                                / w * 1000000 + 0.000001) AS BIGINT) AS key_micros
                   FROM d0),
            r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY key_micros DESC, doc_id) AS BIGINT) AS rk
                  FROM kq)
            SELECT lang, rk, doc_id, w, key_micros
            FROM r WHERE rk <= 5"""),
      "v_text_langid" -> ("q_text_langid",
        s"""WITH v AS (SELECT doc_id, lang AS labeled, explode(split(text, ' ')) AS t
                  FROM $Db.documents),
            h AS (SELECT doc_id, labeled, ${h64("t")} % 5 AS lang_idx FROM v),
            g AS (SELECT doc_id, labeled, lang_idx, COUNT(*) AS votes
                  FROM h GROUP BY doc_id, labeled, lang_idx),
            r AS (SELECT doc_id, labeled, lang_idx, votes, ROW_NUMBER() OVER
                    (PARTITION BY doc_id ORDER BY votes DESC, lang_idx) AS rn FROM g)
            SELECT doc_id,
              element_at($langsArr, CAST(lang_idx + 1 AS INT)) AS pred_lang, votes,
              CAST(CAST(labeled = element_at($langsArr, CAST(lang_idx + 1 AS INT)) AS INT) AS BIGINT) AS is_match
            FROM r WHERE rn = 1"""),
      "v_dedup_cluster" -> ("q_dedup_cluster",
        s"""WITH RECURSIVE $minhashPairCtes,
            edges AS (SELECT d1 AS u, d2 AS v FROM pairs
                      UNION ALL SELECT d2, d1 FROM pairs),
            $reachCte,
            comp AS (SELECT vid AS doc_id, MIN(lbl) AS cluster_id
                     FROM reach GROUP BY vid),
            sz AS (SELECT cluster_id, COUNT(*) AS n_members FROM comp GROUP BY cluster_id)
            SELECT doc_id, comp.cluster_id, n_members
            FROM comp JOIN sz ON comp.cluster_id = sz.cluster_id"""),
      "v_dedup_survivors" -> ("q_dedup_survivors",
        s"""WITH RECURSIVE $minhashPairCtes,
            edges AS (SELECT d1 AS u, d2 AS v FROM pairs
                      UNION ALL SELECT d2, d1 FROM pairs),
            $reachCte,
            losers AS (SELECT vid FROM (SELECT vid, MIN(lbl) AS cluster_id
                                        FROM reach GROUP BY vid)
                       WHERE vid <> cluster_id)
            SELECT doc_id, lang, source FROM $Db.documents
            WHERE doc_id NOT IN (SELECT vid FROM losers)"""),
      // Diagnostic twin-less view (empty qKey): the reach CTE above is
      // DEPTH-BOUNDED (d ≤ 8 — see reachCte), so a dup chain with
      // diameter > 8 would silently under-merge at the SQL surface
      // while the Scala operator's star-contraction fallback still
      // converges. This view makes the truncation OBSERVABLE instead
      // of silent: a converged min-label CC gives both endpoints of
      // every edge the same label, so `unconverged_edges` is nonzero
      // EXACTLY when the depth bound cut propagation short — SQL-only
      // users check it the way Scala users trust the operator's
      // fallback. (ADVICE r10; documented in README §SQL surface.)
      "v_dedup_cc_residual" -> ("",
        s"""WITH RECURSIVE $minhashPairCtes,
            edges AS (SELECT d1 AS u, d2 AS v FROM pairs
                      UNION ALL SELECT d2, d1 FROM pairs),
            $reachCte,
            comp AS (SELECT vid AS doc_id, MIN(lbl) AS cluster_id
                     FROM reach GROUP BY vid)
            SELECT COUNT(*) AS unconverged_edges
            FROM edges e JOIN comp a ON a.doc_id = e.u
                         JOIN comp b ON b.doc_id = e.v
            WHERE a.cluster_id <> b.cluster_id"""))
  }

  /** MinHash candidate pairs in pure Spark SQL, ending in
    * `pairs(d1, d2)` — the exact relational program of
    * ops.Dedup.minhashPairs (same shared-randomness permutations, same
    * band layout, same exact-Jaccard verify), expressed with built-ins
    * only so a permanent view can hold it. */
  private lazy val minhashPairCtes: String = {
    val h64 = (e: String) => s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"
    val mod = graft.ops.Dedup.PermMod
    val minCols = (0 until graft.ops.Dedup.NumSeeds)
      .map(j => s"MIN((${graft.ops.Dedup.permA(j)} * h + ${graft.ops.Dedup.permB(j)}) % $mod) AS m$j")
      .mkString(", ")
    val bandList = (0 until graft.ops.Dedup.NumBands)
      .map(b => s"concat_ws(':', '$b', m${2 * b}, m${2 * b + 1})").mkString(", ")
    s"""sh AS (SELECT doc_id,
                 CASE WHEN size(split(text, ' ')) >= 3 THEN
                   array_distinct(transform(sequence(3, size(split(text, ' '))),
                     i -> concat(element_at(split(text, ' '), i - 2), ' ',
                                 element_at(split(text, ' '), i - 1), ' ',
                                 element_at(split(text, ' '), i))))
                 ELSE array() END AS shs
               FROM $Db.documents),
        e AS (SELECT doc_id, ${h64("sh0")} % $mod AS h
              FROM (SELECT doc_id, explode(shs) AS sh0 FROM sh)),
        mins AS (SELECT doc_id, $minCols FROM e GROUP BY doc_id),
        bands AS (SELECT doc_id, explode(array($bandList)) AS band FROM mins),
        cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.doc_id < b.doc_id),
        v AS (SELECT d1, d2,
                     CAST(size(array_intersect(sa.shs, sb.shs)) AS BIGINT) AS ni,
                     size(sa.shs) AS na, size(sb.shs) AS nb
              FROM cand JOIN sh sa ON sa.doc_id = d1 JOIN sh sb ON sb.doc_id = d2),
        pairs AS (SELECT d1, d2
                  FROM (SELECT d1, d2,
                          round(CAST(ni AS DOUBLE) / (na + nb - ni), 6) AS jac FROM v)
                  WHERE jac >= 0.2)"""
  }

  /** Min-label connected components as a depth-bounded recursive CTE
    * (`reach(vid, lbl, d)` over `edges(u, v)`) — the pure-SQL reach of
    * the ops.Dedup.connectedComponents fixpoint. Spark 4's recursive
    * CTEs only admit UNION ALL, so cycle safety comes from the depth
    * bound instead of set semantics, and the per-level DISTINCT plus
    * the `lbl < v` monotone-propagation prune keep each level at
    * O(Σ cluster²) rows rather than O(walks). The bound mirrors the
    * operator's hash-to-min round cap: components of diameter ≤ 8
    * (every near-dup cluster — they are dense) are labeled exactly;
    * a pathological chain longer than the bound would under-merge
    * HERE, which is precisely where the view form stops being
    * advisable and the Scala operator (cap + star-contraction
    * fallback, log-round) is the right tool. */
  // `final` + literal = a compile-time constant: operatorViews (declared
  // above) forces the lazy reachCte during object init, BEFORE a plain
  // val declared here would be assigned — which silently interpolated
  // depth 0 and produced a recursion that never took a step
  private final val CcViewDepth = 8
  private lazy val reachCte: String =
    s"""reach(vid, lbl, d) AS (
          SELECT DISTINCT u, u, 0 FROM edges
          UNION ALL
          SELECT DISTINCT e.v, r.lbl, r.d + 1
          FROM reach r JOIN edges e ON e.u = r.vid
          WHERE r.d < $CcViewDepth AND r.lbl < e.v)"""

  /** Create/refresh the durable operator views (`graft.v_*`) over the
    * external tables at `dir`. Idempotent; re-pointing at a new dir
    * refreshes the underlying tables and the views follow by name. */
  def registerOperatorViews(spark: SparkSession, dir: String): Unit = synchronized {
    registerExternalTables(spark, dir)
    operatorViews.foreach { case (v, (_, sql)) =>
      spark.sql(s"CREATE OR REPLACE VIEW $Db.$v AS $sql")
    }
  }

  /** Land `documents` as a lang-partitioned MANAGED catalog table and
    * return its name. One-time per (JVM, source dir) — reruns hit the
    * tableExists fast path (≙ the crawler registering a partitioned
    * table once, then queries pruning on it forever). */
  def ensurePartitionedDocs(spark: SparkSession, dir: String): String = synchronized {
    // dir-keyed name: the same JVM may catalog several scale factors.
    // 64-bit portable hash of the qualified path — a 32-bit hashCode
    // collision would silently serve the other dir's table
    val key = java.lang.Long.toHexString(graft.U.h64Local(qualify(spark, dir)))
    val tbl = s"$Db.documents_by_lang_$key"
    if (!spark.catalog.tableExists(tbl)) {
      ensureDb(spark)
      // a dead SparkContext can leave the managed location on disk while
      // the in-memory catalog forgot the table (the metastore dies with
      // the context; the warehouse does not) — those bytes are
      // unreachable garbage, so clear them before landing
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(spark.catalog.getDatabase(Db).locationUri),
        tbl.split('.').last)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      graft.Tables.documents(spark, dir)
        .write.mode("overwrite")
        .partitionBy("lang")
        .saveAsTable(tbl)
    }
    tbl
  }
}
