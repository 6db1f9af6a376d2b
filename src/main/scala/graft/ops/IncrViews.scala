package graft.ops

import org.apache.spark.sql.SparkSession

/** SQL surface of the incremental-state family's SERVING READS
  * (VERDICT r14 #4, A9b ∘ L46/L47/L48/L55): a SQL-only user — the
  * Athena-migrating persona of the reference, src/main.py:4-5 — can
  * reach every BATCH operator through the `graft.v_*` views but had no
  * name for the incremental members' reports, which are plain
  * relational programs over the (default-catalog) state tables. These
  * builders register `v_<prefix>_report` catalog views.
  *
  * ONE PROGRAM PER READ: for TF-IDF, domains, triangles, k-means and
  * curation, the `<x>Sql` string below IS the serving read — the
  * member's `report` is `s.sql(<x>Sql(...))` plus its presentation
  * ORDER BY, and the view is the same string under CREATE OR REPLACE
  * VIEW (IncrViewsSuite pins that both plans are one). Each broadcast
  * of a dimension-sized side (deny list, tombstones) is a
  * `/*+ BROADCAST */` hint, so the plan-shape bounds hold with
  * broadcast joins off. Replay dedup is `SELECT DISTINCT` over the
  * read's columns, so two rows equal on a table's natural key but not
  * on a value both count: the k-means assignment table holds such rows
  * between a re-assign's epoch write and its old partitions' drop,
  * until the pending re-run (ClusterIncrSuite pins both). Two members
  * keep a separate Scala read:
  *
  *   - QUALITY: a permanent view cannot call the native
  *     `bitmap_andnot`, so the view spells |live \ tomb| as
  *     |live ∪ tomb| − |tomb| over the built-in
  *     bitmap_or_agg/bitmap_count; the UNION ALL under the |L∪T| or_agg
  *     loses the bucketed scans' output partitioning, so the view pays
  *     ONE exchange the Scala report does not — over the replay-deduped
  *     bitmap rows, i.e. ≤ buckets × (days + epochs) ROWS regardless of
  *     corpus, plus the trivial SinglePartition scalar sum
  *     (QualityIncrSuite pins the Scala plan without it).
  *   - ANN: `AnnIncr.topK` takes a query DataFrame; the view reads a
  *     landing table (the INSERT-then-SELECT contract below).
  *
  * Two non-relational inputs need special handling:
  *
  *   - MARKER SCALARS (TF-IDF's n_docs, quality's four counters) live
  *     in warehouse marker files, which Spark's file listing cannot see
  *     (underscore-prefixed = hidden). They are baked into the SQL as
  *     LITERALS when it is built — and the view is kept fresh by the
  *     member contract's fold/delete epilogue (IncrMember.dayDone: a
  *     no-op catalog probe unless the view exists, then a CREATE OR
  *     REPLACE with the new literal — pure catalog ops, no jobs).
  *   - CONDITIONAL STATE (tombstone tables exist only once a delete
  *     ran): the SQL is generated against the tables present when it is
  *     built, and the delete's epilogue swaps the view to the
  *     tombstone-aware form the moment it first matters.
  *
  * Views use ONLY built-in functions (the house rule of
  * Catalog.operatorViews: a permanent view cannot reference a
  * session-registered function). */
object IncrViews {

  def viewName(prefix: String): String = s"v_${prefix}_report"

  private def create(s: SparkSession, prefix: String, sql: String): String = {
    val v = viewName(prefix)
    s.sql(s"CREATE OR REPLACE VIEW $v AS $sql")
    v
  }

  // ---- L46 incremental TF-IDF -------------------------------------

  /** n_docs is a literal from the `_doc_counts` marker — re-baked by
    * every fold/delete's re-registration so the view never goes stale.
    *
    * The report's ORDER BY doc_id, rk is intentionally OMITTED here
    * (ADVICE r15): that ordering is pure presentation — unlike the
    * triangle read's ORDER BY, which is semantic (top-20) — and a sort
    * baked into a composable view would charge a range-partition
    * exchange to every downstream query that doesn't want it
    * (Catalyst's EliminateSorts cannot always remove it). A SQL user
    * diffing against `TfidfIncr.report` appends `ORDER BY doc_id, rk`,
    * as the report does. */
  def tfidfSql(s: SparkSession, prefix: String, warehouse: String): String = {
    val nDocs = TfidfIncr.nDocs(s, prefix, warehouse)
    s"""WITH tf AS (SELECT doc_id, tok, SUM(tf) AS tf
       |            FROM (SELECT DISTINCT doc_id, tok, src_day, tf
       |                  FROM ${TfidfIncr.tfTable(prefix)})
       |            GROUP BY doc_id, tok HAVING SUM(tf) > 0),
       |     df AS (SELECT tok, SUM(df_part) AS df
       |            FROM (SELECT DISTINCT tok, src_day, df_part
       |                  FROM ${TfidfIncr.dfTable(prefix)})
       |            GROUP BY tok HAVING SUM(df_part) > 0),
       |     sc AS (SELECT tf.doc_id, tf.tok,
       |                   ROUND(tf.tf * LN(CAST($nDocs AS DOUBLE) / df.df), 4) AS score
       |            FROM tf JOIN df ON tf.tok = df.tok)
       |SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok, score
       |FROM (SELECT doc_id, tok, score,
       |             ROW_NUMBER() OVER (PARTITION BY doc_id
       |               ORDER BY score DESC, tok) AS rk
       |      FROM sc)
       |WHERE rk <= 3""".stripMargin
  }

  def registerTfidf(s: SparkSession, prefix: String, warehouse: String): String =
    create(s, prefix, tfidfSql(s, prefix, warehouse))

  // ---- L47 incremental domain stats --------------------------------

  /** Fully static (no marker scalars, single always-present state
    * table) — the fold/delete re-registration replaces it unchanged. The
    * deny list is the same inline dimension as the batch query's
    * (ops/TextAnalysis.scala L25), as VALUES, broadcast. */
  def domainsSql(s: SparkSession, prefix: String, warehouse: String): String =
    s"""WITH net AS (SELECT domain, lang, SUM(n_part) AS n
       |             FROM (SELECT DISTINCT domain, lang, src_day, n_part
       |                   FROM ${DomainsIncr.dlTable(prefix)})
       |             GROUP BY domain, lang HAVING SUM(n_part) > 0),
       |     agg AS (SELECT domain, SUM(n) AS n_docs, COUNT(1) AS n_langs
       |             FROM net GROUP BY domain),
       |     deny AS (SELECT * FROM VALUES
       |                ('src1.example.com', CAST(1 AS BIGINT)),
       |                ('src3.example.com', CAST(1 AS BIGINT))
       |              AS t(domain, blocked))
       |SELECT /*+ BROADCAST(d) */ a.domain, a.n_docs, a.n_langs,
       |       COALESCE(d.blocked, CAST(0 AS BIGINT)) AS blocked
       |FROM agg a LEFT JOIN deny d ON a.domain = d.domain""".stripMargin

  def registerDomains(s: SparkSession, prefix: String, warehouse: String): String =
    create(s, prefix, domainsSql(s, prefix, warehouse))

  // ---- L48 incremental quality report -------------------------------

  /** The four additive counters are literals from the counts marker;
    * pk-distinct uses the |L∪T|−|T| identity when the tombstone table
    * exists (both or_aggs bucket-local under the bkt bucketing). */
  def registerQuality(s: SparkSession, prefix: String, warehouse: String): String = {
    val sums = QualityIncr.readCounts(s, warehouse, prefix).values
      .foldLeft(Seq(0L, 0L, 0L, 0L))((a, b) => a.zip(b).map(t => t._1 + t._2))
    val Seq(rc, nulls, negs, orph) = sums
    val hasTomb = s.catalog.tableExists(QualityIncr.tombTable(prefix))
    val ndCte =
      if (!hasTomb)
        s"""lv AS (SELECT bkt, bm FROM (SELECT DISTINCT bkt, src_day, bm
           |                            FROM ${QualityIncr.pkTable(prefix)})),
           |nd AS (SELECT COALESCE(SUM(c), CAST(0 AS BIGINT)) AS nd
           |       FROM (SELECT bitmap_count(bitmap_or_agg(bm)) AS c
           |             FROM lv GROUP BY bkt))""".stripMargin
      else
        s"""lv AS (SELECT bkt, bm FROM (SELECT DISTINCT bkt, src_day, bm
           |                            FROM ${QualityIncr.pkTable(prefix)})),
           |tb AS (SELECT bkt, bm FROM (SELECT DISTINCT bkt, src_day, bm
           |                            FROM ${QualityIncr.tombTable(prefix)})),
           |ut AS (SELECT bkt, bitmap_count(bitmap_or_agg(bm)) AS c
           |       FROM (SELECT bkt, bm FROM lv
           |             UNION ALL SELECT bkt, bm FROM tb) GROUP BY bkt),
           |tc AS (SELECT bkt, bitmap_count(bitmap_or_agg(bm)) AS c
           |       FROM tb GROUP BY bkt),
           |nd AS (SELECT COALESCE(SUM(u.c - COALESCE(t.c, CAST(0 AS BIGINT))),
           |                       CAST(0 AS BIGINT)) AS nd
           |       FROM ut u LEFT JOIN tc t ON u.bkt = t.bkt)""".stripMargin
    create(s, prefix,
      s"""WITH $ndCte
         |SELECT stack(5,
         |    'fk_orphans', ${orph}L,
         |    'negative_value', ${negs}L,
         |    'null_user_id', ${nulls}L,
         |    'pk_dupes', ${rc}L - nd,
         |    'row_count', ${rc}L) AS (check_name, violations)
         |FROM nd""".stripMargin)
  }

  // ---- L55 incremental triangles ------------------------------------

  /** No marker scalars; the only registration-time dependence is
    * whether the tombstone table exists (first deleteDay refreshes).
    * ORDER BY … LIMIT 20 stays in the SQL — it is the operator's
    * top-k semantics, not presentation. */
  def trianglesSql(s: SparkSession, prefix: String, warehouse: String): String = {
    val hasTomb = s.catalog.tableExists(TriIncr.delTable(prefix))
    val liveCte =
      if (!hasTomb)
        s"live AS (SELECT DISTINCT x, y FROM ${TriIncr.adjTable(prefix)})"
      else
        s"""adj AS (SELECT DISTINCT x, y FROM ${TriIncr.adjTable(prefix)}),
           |live AS (SELECT /*+ BROADCAST(t) */ a.x, a.y FROM adj a
           |         LEFT ANTI JOIN ${TriIncr.delTable(prefix)} t
           |           ON a.x = t.x AND a.y = t.y)""".stripMargin
    s"""WITH $liveCte,
       |     deg AS (SELECT x AS node, COUNT(1) AS degree
       |             FROM live GROUP BY x),
       |     tri AS (SELECT node, SUM(tri_part) AS tri
       |             FROM (SELECT DISTINCT node, src_day, tri_part
       |                   FROM ${TriIncr.triTable(prefix)})
       |             GROUP BY node)
       |SELECT deg.node AS part_key,
       |       COALESCE(tri.tri, CAST(0 AS BIGINT)) AS tri,
       |       deg.degree,
       |       CASE WHEN deg.degree >= 2
       |            THEN COALESCE(tri.tri, CAST(0 AS BIGINT)) * 2000000
       |                   div (deg.degree * (deg.degree - 1))
       |            ELSE CAST(0 AS BIGINT) END AS cc_ppm
       |FROM deg LEFT JOIN tri ON deg.node = tri.node
       |ORDER BY tri DESC, part_key LIMIT 20""".stripMargin
  }

  def registerTriangles(s: SparkSession, prefix: String, warehouse: String): String =
    create(s, prefix, trianglesSql(s, prefix, warehouse))

  // ---- L51 incremental k-means ---------------------------------------

  /** No marker scalars; the only registration-time dependence is the
    * vec tombstone table (first deleteDay refreshes). One K-row
    * aggregate over the replay-deduped assignment state. */
  def clusterSql(s: SparkSession, prefix: String, warehouse: String): String = {
    val hasTomb = s.catalog.tableExists(ClusterIncr.delTable(prefix))
    // one row per (vec_id, src_day): the newest epoch's (the smallest
    // day), so a re-assign caught between its epoch write and its old
    // partitions' drop counts each vector once (rows of one day that share
    // the key are equal, so MIN_BY per column reads one row; fixed-width
    // buffers keep it a hash aggregate)
    val asgCte =
      s"""asg AS (SELECT vec_id, MIN_BY(cl, day) AS cl, MIN_BY(sim_i, day) AS sim_i
         |        FROM ${ClusterIncr.asgTable(prefix)} GROUP BY vec_id, src_day)""".stripMargin
    val liveCte =
      if (!hasTomb) s"$asgCte,\nlive AS (SELECT vec_id, cl, sim_i FROM asg)"
      else
        s"""$asgCte,
           |live AS (SELECT /*+ BROADCAST(t) */ a.vec_id, a.cl, a.sim_i FROM asg a
           |         LEFT ANTI JOIN ${ClusterIncr.delTable(prefix)} t
           |           ON a.vec_id = t.vec_id)""".stripMargin
    s"""WITH $liveCte
       |SELECT cl AS cluster, COUNT(1) AS n, SUM(sim_i) AS sim_sum,
       |       ROUND(CAST(SUM(sim_i) AS DOUBLE)
       |             / (1000000.0 * CAST(COUNT(1) AS DOUBLE)), 6) AS mean_sim
       |FROM live GROUP BY cl""".stripMargin
  }

  def registerCluster(s: SparkSession, prefix: String, warehouse: String): String =
    create(s, prefix, clusterSql(s, prefix, warehouse))

  // ---- L53 retractable curation (member-level keeper backend) ---------

  /** The hard retraction case as SQL: the keeper is re-derived at read
    * time from the member-level state via MIN(STRUCT(...)) per group
    * (struct ordering == the Scala min(struct) keeper pick), with the
    * doc_id tombstones anti-joined BEFORE the min — exactly why the
    * member-level backend exists (a compressed keeper could not give
    * the runner-up back). splitOf's h64 appears as its built-in
    * `conv(substring(md5))` equivalent, the Catalog view convention. */
  def curateSql(s: SparkSession, prefix: String, warehouse: String): String = {
    val hasTomb = s.catalog.tableExists(CurateIncr.delmTable(prefix))
    val bc = if (!hasTomb) "" else "/*+ BROADCAST(t) */ "
    val anti = (alias: String) =>
      if (!hasTomb) ""
      else s" LEFT ANTI JOIN ${CurateIncr.delmTable(prefix)} t ON $alias.doc_id = t.doc_id"
    val split = (docId: String) =>
      s"""CASE WHEN CAST(conv(substring(md5(concat('split:', CAST($docId AS STRING))), 1, 15), 16, 10) AS BIGINT) % 1000 < 800 THEN 'train'
       |     WHEN CAST(conv(substring(md5(concat('split:', CAST($docId AS STRING))), 1, 15), 16, 10) AS BIGINT) % 1000 < 900 THEN 'valid'
       |     ELSE 'test' END""".stripMargin
    s"""WITH md5k AS (
       |  SELECT k_md5, k.doc_id AS doc_id, k.lang AS lang,
       |         k.n_toks AS n_toks, k.n_lines AS n_lines
       |  FROM (SELECT k_md5,
       |               MIN(STRUCT(doc_id, lang, n_toks, n_lines)) AS k
       |        FROM (SELECT ${bc}m.k_md5, m.doc_id, m.lang, m.n_toks, m.n_lines
       |              FROM (SELECT DISTINCT k_md5, doc_id, lang, n_toks, n_lines
       |                    FROM ${CurateIncr.md5mTable(prefix)}) m${anti("m")})
       |        GROUP BY k_md5)),
       |linek AS (
       |  SELECT line, k.doc_id AS doc_id, k.lang AS lang, k.len AS len
       |  FROM (SELECT line, MIN(STRUCT(doc_id, idx, lang, len)) AS k
       |        FROM (SELECT ${bc}l.line, l.doc_id, l.idx, l.lang, l.len
       |              FROM (SELECT DISTINCT line, doc_id, idx, lang, len
       |                    FROM ${CurateIncr.linemTable(prefix)}) l${anti("l")})
       |        GROUP BY line)),
       |tfk AS (
       |  SELECT split, lang, tok, SUM(c) AS c
       |  FROM (SELECT DISTINCT split, lang, tok, src_day, c
       |        FROM ${CurateIncr.tfmTable(prefix)})
       |  GROUP BY split, lang, tok HAVING SUM(c) > 0),
       |d1 AS (SELECT ${split("doc_id")} AS split, lang,
       |              COUNT(1) AS n_docs, SUM(n_toks) AS sum_toks,
       |              SUM(n_lines) AS n_lines
       |       FROM md5k GROUP BY 1, 2),
       |d2 AS (SELECT ${split("doc_id")} AS split, lang,
       |              COUNT(1) AS n_kept, SUM(len) AS kept_chars
       |       FROM linek GROUP BY 1, 2),
       |d3 AS (SELECT split, lang, COUNT(1) AS n_vocab, SUM(c) AS n_tok_occ
       |       FROM tfk GROUP BY split, lang)
       |SELECT split, lang,
       |       COALESCE(n_docs, CAST(0 AS BIGINT)) AS n_docs,
       |       COALESCE(sum_toks, CAST(0 AS BIGINT)) AS sum_toks,
       |       COALESCE(n_lines, CAST(0 AS BIGINT)) AS n_lines,
       |       COALESCE(n_kept, CAST(0 AS BIGINT)) AS n_kept,
       |       COALESCE(kept_chars, CAST(0 AS BIGINT)) AS kept_chars,
       |       COALESCE(n_vocab, CAST(0 AS BIGINT)) AS n_vocab,
       |       COALESCE(n_tok_occ, CAST(0 AS BIGINT)) AS n_tok_occ
       |FROM d1 FULL OUTER JOIN d2 USING (split, lang)
       |        FULL OUTER JOIN d3 USING (split, lang)""".stripMargin
  }

  def registerCurate(s: SparkSession, prefix: String, warehouse: String): String =
    create(s, prefix, curateSql(s, prefix, warehouse))

  // ---- L45 incremental ANN top-k (VERDICT r15 #4) ---------------------

  def topkViewName(prefix: String): String = s"v_${prefix}_topk"
  def queriesTable(prefix: String): String = s"${prefix}_queries"

  /** The last SQL-surface gap: `AnnIncr.topK` is parameterized by query
    * VECTORS, which a view cannot take as arguments — so the contract is
    * INSERT-then-SELECT. Registration creates an empty landing table
    * `<prefix>_queries (q_id BIGINT, qv ARRAY<BIGINT>)`; the SQL user
    * lands query vectors there (e.g. `INSERT INTO <prefix>_queries
    * SELECT vec_id, v FROM <prefix>_vecs WHERE vec_id % 50 = 0`) and
    * reads `v_<prefix>_topk`, which computes the full multiprobe +
    * exact-rerank pipeline of `AnnIncr.topK` in pure built-in SQL:
    *
    *   - the query norm (`qn`) is derived in the view — the user lands
    *     only (q_id, qv);
    *   - the hyperplane sign bits bake the SAME `Dedup.planesFor(tables,
    *     bits)` literals the fold used (read from the warehouse's
    *     `_ann_conf` marker at registration; every fold/delete
    *     re-bakes them after a width migration), with `DotL.dot`
    *     replaced by its built-in `aggregate(zip_with(...))` spelling
    *     (exact: both are wraparound int64 sums);
    *   - candidate recall, replay dedup, tombstone anti-join (present
    *     only once a delete ran, like the other views), rerank and the
    *     top-k window mirror the Scala plan shape — state sides stay
    *     bucket-local, and the queries table is tiny so its joins
    *     broadcast.
    *
    * k is fixed at registration (a view has no parameters) and recorded
    * in the `_ann_topk_k` marker so fold/delete re-register at the
    * same k. Output matches `topK(s, prefix, wh, queries, k)` row-for-row
    * on the same landed queries (IncrViewsSuite pins fresh-session
    * equality and the ≤4-state-side-exchange plan). */
  def registerAnnTopK(s: SparkSession, prefix: String, warehouse: String,
                      k: Int = 3): String = {
    AnnIncr.stateTables(prefix).foreach(IncrState.ensureRegistered(s, _, warehouse))
    // the landing table lives at an explicit warehouse location and the
    // VIEW below reads it PATH-based (`parquet.`<loc>``), not by catalog
    // name: a catalog-name read caches the file listing per session, so
    // a second session's INSERT was invisible to the registered session
    // until a manual refreshTable (VERDICT r16 #6 — a SQL user won't
    // know that). A path scan re-lists per query; the table is
    // query-sized, so the listing is noise. INSERTs still go through
    // the catalog name — only the read side changes.
    val qLoc = s"$warehouse/${queriesTable(prefix)}"
    s.sql(s"""CREATE TABLE IF NOT EXISTS ${queriesTable(prefix)}
             |(q_id BIGINT, qv ARRAY<BIGINT>) USING PARQUET
             |LOCATION '$qLoc'""".stripMargin)
    // seed one zero-row parquet file so the path scan can infer the
    // schema before the first INSERT lands (a bare dir cannot)
    val qDir = new org.apache.hadoop.fs.Path(qLoc)
    val qFs = qDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val seeded = qFs.exists(qDir) && qFs.listStatus(qDir).exists(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))
    if (!seeded) {
      import org.apache.spark.sql.types._
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(Seq(StructField("q_id", LongType),
            StructField("qv", ArrayType(LongType)))))
        .write.mode("append").parquet(qLoc)
    }
    IncrState.writeMarker(s, warehouse, s"_ann_topk_k.$prefix", k.toString)
    val (tables, bits) = AnnIncr.annConf(s, prefix, warehouse)
    val planes = Dedup.planesFor(tables, bits)
    val planesLit = planes.map(_.mkString("array(", ", ", ")"))
      .mkString("array(", ",\n                ", ")")
    def dot(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    // table t's bucket code from the sign-bit array, XOR'd with each
    // radius-1 multiprobe mask — the SQL spelling of Dedup.codeColFor
    val probeTerms = (for {
      t <- 0 until tables
      m <- Dedup.probeMasks1For(bits)
    } yield {
      val code = (0 until bits)
        .map(j => s"element_at(bits, ${t * bits + j + 1}) * ${1L << j}L")
        .mkString(" + ")
      s"concat_ws(':', $t, ($code) ^ ${m}L)"
    }).mkString(",\n                  ")
    val hasTomb = s.catalog.tableExists(AnnIncr.delTable(prefix))
    val vecsCte =
      if (!hasTomb)
        s"""vecs AS (SELECT vec_id, MAX(v) AS v, MAX(n2) AS n2
           |         FROM ${AnnIncr.vecsTable(prefix)} GROUP BY vec_id)""".stripMargin
      else
        s"""vecs AS (SELECT l.vec_id, l.v, l.n2
           |         FROM (SELECT vec_id, MAX(v) AS v, MAX(n2) AS n2
           |               FROM ${AnnIncr.vecsTable(prefix)} GROUP BY vec_id) l
           |         LEFT ANTI JOIN ${AnnIncr.delTable(prefix)} t
           |           ON l.vec_id = t.vec_id)""".stripMargin
    val v = topkViewName(prefix)
    s.sql(
      s"""CREATE OR REPLACE VIEW $v AS
         |WITH q AS (SELECT q_id, qv, ${dot("qv", "qv")} AS qn
         |           FROM parquet.`$qLoc`),
         |     qb AS (SELECT q_id,
         |                   transform($planesLit,
         |                     p -> CASE WHEN ${dot("qv", "p")} > 0
         |                               THEN CAST(1 AS BIGINT)
         |                               ELSE CAST(0 AS BIGINT) END) AS bits
         |            FROM q),
         |     probes AS (SELECT q_id, bkt FROM qb
         |                LATERAL VIEW explode(array(
         |                  $probeTerms)) pr AS bkt),
         |     cand AS (SELECT DISTINCT p.q_id, c.vec_id AS c_id
         |              FROM probes p JOIN ${AnnIncr.codesTable(prefix)} c
         |                ON p.bkt = c.bkt
         |              WHERE p.q_id <> c.vec_id),
         |     $vecsCte,
         |     sc AS (SELECT cand.q_id, cand.c_id,
         |                   ROUND(CAST(${dot("q.qv", "vecs.v")} AS DOUBLE)
         |                         / (SQRT(CAST(q.qn AS DOUBLE))
         |                            * SQRT(CAST(vecs.n2 AS DOUBLE))), 6) AS sim
         |            FROM cand JOIN vecs ON cand.c_id = vecs.vec_id
         |                      JOIN q ON cand.q_id = q.q_id)
         |SELECT q_id, CAST(rk AS BIGINT) AS rk, c_id, sim
         |FROM (SELECT q_id, c_id, sim,
         |             ROW_NUMBER() OVER (PARTITION BY q_id
         |               ORDER BY sim DESC, c_id) AS rk
         |      FROM sc)
         |WHERE rk <= $k""".stripMargin)
    v
  }

  /** The k the top-k view was last registered at (3 when unrecorded) —
    * what the member's fold/delete re-registration reuses. */
  private[ops] def registeredK(s: SparkSession, prefix: String, warehouse: String): Int =
    IncrState.readMarker(s, warehouse, s"_ann_topk_k.$prefix")
      .flatMap(_.trim.toIntOption).getOrElse(3)

  /** Drop a previously registered report view (member dropState twins). */
  def dropView(s: SparkSession, prefix: String): Unit = {
    s.sql(s"DROP VIEW IF EXISTS ${viewName(prefix)}")
    s.sql(s"DROP VIEW IF EXISTS ${topkViewName(prefix)}")
    s.sql(s"DROP TABLE IF EXISTS ${queriesTable(prefix)}")
  }
}
