package graft.ops

import graft.{Q, Tables, U}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** L51: Incremental k-means — cluster maintenance as daily state
  * (VERDICT r13 #6: the clustering layer was the last corpus-rescan
  * left; `q_cluster_kmeans` re-assigns the whole embedding corpus per
  * run). Seventh member of the incremental lifecycle (IncrState).
  *
  * The decomposition follows the batch operator's own algebra:
  *
  *   - SEED assignment is a pure per-vector function of K deterministic
  *     seed directions (`seeds` — the shared-hash pseudo-vector recipe
  *     of ops.Dedup.planes, so the DuckDB oracle inlines the identical
  *     literals), so it commutes with any slicing;
  *   - the CENTROID update is the mergeable-partial shape (per-cluster
  *     int64 component sums + counts, the existing CentroidAgg): a
  *     day's fold lands its seed-assignment partials in
  *     `{prefix}_cpart` and the refined centroids are the merged sums
  *     — O(K·days) scalars, driver-literal at serving time;
  *   - the REASSIGNMENT (Lloyd step) against refined centroids is a
  *     map-side broadcast argmax. Daily folds assign their slice
  *     against the CURRENT centroid epoch (from the `_centroids`
  *     marker) and append to `{prefix}_asg`; when the refined centroids
  *     DRIFT past a threshold from the epoch the assignments were
  *     computed under, `reassign` rebuilds the assignment table from
  *     the persisted vector state `{prefix}_vecs` as one epoch
  *     partition (the L45 re-code pattern: pending marker brackets the
  *     swap, old partitions drop after the new epoch lands) — cost ∝
  *     corpus, O(drift events) times over the index's life, and it
  *     reads the COLUMNAR VECTOR STATE, never the raw corpus (the
  *     suite deletes the raw slices first to prove it).
  *
  * Serving (`report`) reads ONLY `{prefix}_asg`: the per-cluster size /
  * similarity-mass roll-up is a map-side-combinable K-row aggregate —
  * megabytes of state where the batch operator re-reads the corpus,
  * re-runs the N×K seed argmax AND the centroid shuffle every day.
  *
  * Oracle: `q_cluster_incr` folds the corpus in day slices, forces the
  * final re-assign epoch, and must equal the batch recompute — seed
  * argmax over the full corpus, one Lloyd refinement, reassignment —
  * expressed in SQL with the seed literals inlined (Oracle.scala).
  * Exactness: components 1e7-scaled, seeds in [-1000, 1000] (per-term
  * ≤ 1e10, 64 terms ≤ 6.4e11 — int64-exact), centroids floor(sum/n)
  * at ~1e7 scale, all sims computed dot/(√n2·√cn2) in double from
  * int64-exact inputs (the q_cluster_kmeans cross-engine recipe).
  */
object ClusterIncr extends IncrMember.SliceFold {

  /** Cluster count of the exhibit (matches q_cluster_kmeans' 8). */
  val K = 8

  /** Deterministic seed directions: K pseudo-vectors from the shared
    * portable hash — data-independent, so seed assignment commutes with
    * slicing and the oracle inlines the same literals. */
  lazy val seeds: Array[Array[Long]] =
    Array.tabulate(K, 64)((p, i) => U.h64Local(s"kmseed:$p:$i") % 2001L - 1000L)

  private def vecsTable(prefix: String) = s"${prefix}_vecs"
  private def cpartTable(prefix: String) = s"${prefix}_cpart"
  private[ops] def asgTable(prefix: String) = s"${prefix}_asg"
  private[ops] def delTable(prefix: String) = s"${prefix}_del"
  private def centMarker(prefix: String) = s"_${prefix}_centroids"
  private def pendingMarker(prefix: String) = s"_${prefix}_reassign_pending"

  private[ops] def stateTables(prefix: String): Seq[IncrState.StateTable] = Seq(
    IncrState.StateTable(vecsTable(prefix), "vec_id", Seq("vec_id", "src_day")),
    IncrState.StateTable(cpartTable(prefix), "cl", Seq("cl", "src_day")),
    IncrState.StateTable(asgTable(prefix), "vec_id", Seq("vec_id", "src_day")))

  /** Retraction tombstones (vec_id): a tombstoned vector leaves the
    * report and every re-assign epoch the instant the delete lands (the
    * vector/assignment reads anti-join this set); its centroid-partial
    * contribution is retracted separately via NEGATED cpart partials —
    * the state algebra splits exactly like its siblings (additive parts
    * subtract, keyed rows tombstone). */
  private def tombTable(prefix: String): IncrState.StateTable =
    IncrState.StateTable(delTable(prefix), "vec_id", Seq("vec_id"))

  /** The vector table drives sizing. The centroid-partial table needs no
    * purge (its retraction is the signed netting). */
  protected def sizingTable(prefix: String): String = vecsTable(prefix)
  override protected def tombstones(prefix: String): Option[IncrMember.Tombstones] = {
    val Seq(vecsT, _, asgT) = stateTables(prefix)
    Some(IncrMember.Tombstones(tombTable(prefix), Seq("vec_id"), Seq(vecsT, asgT)))
  }

  override protected def registerView: Option[IncrMember.View] =
    Some(IncrViews.registerCluster(_, _, _))

  private[graft] def fold(s: SparkSession, in: DataFrame, p: String, wh: String, day: Int,
                          nb: Int): Unit = runDay(s, in, p, wh, day, nb)
  private[graft] def retract(s: SparkSession, in: DataFrame, p: String, wh: String, day: Int,
                             nb: Int): Unit = deleteDay(s, in, p, wh, day, nb)

  /** The drives' drift check after every fold and delete. */
  override private[graft] def afterStep(s: SparkSession, prefix: String, warehouse: String,
                                        nBuckets: Int): Unit = {
    maybeReassign(s, prefix, warehouse, nBuckets = nBuckets); ()
  }

  /** (cl, cvec, cn2) rows for a driver-held centroid set — the K-row
    * broadcast side of every assignment. */
  private def centroidFrame(s: SparkSession,
                            cents: Seq[(Long, Array[Long])]): DataFrame = {
    import s.implicits._
    cents.toDF("cl", "cvec")
      .withColumn("cn2", graft.functions.DotL.dot($"cvec", $"cvec"))
  }

  /** argmax-cosine assignment of `(vec_id, v, n2, …)` rows against the
    * given K centroids (broadcast NLJ, map-side): the input columns
    * plus (cl, sim_i) — pass-through keeps provenance columns like
    * `src_day` intact, which the epoch rewrite depends on (a replayed
    * day must land rows byte-identical to its epoch copy so the
    * (vec_id, src_day) dedup collapses them). */
  private def assign(m: DataFrame, cents: DataFrame): DataFrame = {
    import m.sparkSession.implicits._
    val w = Window.partitionBy($"vec_id").orderBy($"sim".desc, $"cl")
    m.join(broadcast(cents))
      .withColumn("sim", graft.functions.DotL.dot($"v", $"cvec").cast("double") /
        (sqrt($"n2".cast("double")) * sqrt($"cn2".cast("double"))))
      .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .withColumn("sim_i", floor($"sim" * 1000000).cast("long"))
      .drop("cvec", "cn2", "sim", "rk")
  }

  /** The current centroid epoch from the marker; seeds when none has
    * been written yet (lines "cl c0 .. c63"; parse is LOUD — centroids
    * are correctness state, same policy as the L48 counters). */
  def epochCentroids(s: SparkSession, prefix: String,
                     warehouse: String): Seq[(Long, Array[Long])] =
    IncrState.readMarker(s, warehouse, centMarker(prefix)).map(_.linesIterator.flatMap { l =>
      if (l.trim.isEmpty) None
      else {
        val parts = l.trim.split(' ')
        if (parts.length == 65 && parts.forall(_.toLongOption.isDefined))
          Some(parts.head.toLong -> parts.tail.map(_.toLong))
        else throw new IllegalStateException(
          s"corrupt ${centMarker(prefix)} line (centroids are correctness state): '$l'")
      }
    }.toSeq).getOrElse(seeds.zipWithIndex.map { case (v, p) => (p.toLong, v) }.toSeq)

  private def writeCentroids(s: SparkSession, prefix: String, warehouse: String,
                             cents: Seq[(Long, Array[Long])]): Unit =
    IncrState.writeMarker(s, warehouse, centMarker(prefix),
      cents.sortBy(_._1)
        .map { case (cl, v) => s"$cl ${v.mkString(" ")}" }.mkString("\n"))

  /** Fold one day's embedding rows into the clustering state: persist
    * the scaled vectors, land the day's seed-assignment centroid
    * partials (the mergeable CentroidAgg shape), and assign the day's
    * vectors against the CURRENT centroid epoch for serving. Three
    * slice-shaped passes + bucketed writes — no history read, no join
    * beyond the K-row broadcasts. */
  def runDay(s: SparkSession, slice: DataFrame, prefix: String,
             warehouse: String, day: Int, nBuckets: Int = 32): Unit =
    IncrState.withLease(s, warehouse, prefix) {
    import s.implicits._
    val Seq(vecsT, cpartT, asgT) = stateTables(prefix)
    val m = Similarity.scaledVectors(slice)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // seed-assignment partials: per-cluster (n, component sums) via
      // the mergeable CentroidAgg — the refined-centroid ingredient
      // (assign passes `v` through, so no join back is needed)
      val seedF = centroidFrame(s, seeds.zipWithIndex.map { case (v, p) => (p.toLong, v) }.toSeq)
      val parts = assign(m, seedF)
        .select($"cl", $"v").as[(Long, Array[Long])]
        .groupByKey(_._1).mapValues(_._2)
        .agg(Similarity.CentroidAgg.toColumn)
        .map { case (cl, (n, sums)) => (cl, n, sums) }
        .toDF("cl", "n_part", "sums")
        .withColumn("src_day", lit(day)).withColumn("day", lit(day))
      // serving assignments vs the CURRENT epoch (drift reconciles
      // later; the epoch comes from the centroid MARKER, which no
      // branch below touches — the three writes share only the pinned
      // `m` and land in three separate tables, so they overlap (§2.6)
      val asg = assign(m, centroidFrame(s, epochCentroids(s, prefix, warehouse)))
        .select($"vec_id", $"cl", $"sim_i")
        .withColumn("src_day", lit(day)).withColumn("day", lit(day))
      // materialize the pinned `m` with one cheap action BEFORE the
      // overlapped writes: three jobs first-touching a cold cache race
      // the block locks into partial double-reads of the slice
      // (ClusterIncrSuite's input-bytes bound caught it) — after the
      // count the cache is fully built and every branch reads blocks
      // only, so the three independent table writes overlap (§2.6)
      m.count()
      IncrState.concurrently(Seq(
        () => IncrState.writeDay(s,
          m.withColumn("src_day", lit(day)).withColumn("day", lit(day)),
          vecsT, warehouse, day, nBuckets),
        () => IncrState.writeDay(s, parts, cpartT, warehouse, day, nBuckets),
        () => IncrState.writeDay(s, asg, asgT, warehouse, day, nBuckets)))
      dayDone(s, prefix, warehouse, day)
    } finally { m.unpersist(); () }
  }

  /** Retraction (VERDICT r13 #1, round 14): fold one day's DELETED
    * embedding rows OUT of the clustering state. The state algebra
    * splits like the siblings': the centroid partials are ADDITIVE, so
    * the delete slice runs through the same seed-assignment aggregate
    * with n and every component sum NEGATED (refinedCentroids nets the
    * signed partials; a fully-retracted cluster drops out); the keyed
    * vector/assignment rows get TOMBSTONES that every read anti-joins,
    * with `purgeDeleted` as the physical delete epoch. Cost ∝ delete
    * slice — no state read, no history read. Contract: the slice must
    * be rows previously folded, with identical embeddings (the negation
    * subtracts whatever is passed — a never-folded row fails the
    * netting loudly at the next centroid refine); delete wins,
    * re-admitting a vec_id needs a fresh prefix; `day` must be fresh. */
  def deleteDay(s: SparkSession, deleted: DataFrame, prefix: String,
                warehouse: String, day: Int, nBuckets: Int = 32,
                alsoPurge: Boolean = false): Unit =
    IncrState.withLease(s, warehouse, prefix) {
    import s.implicits._
    val Seq(_, cpartT, _) = stateTables(prefix)
    val m = Similarity.scaledVectors(deleted)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seedF = centroidFrame(s, seeds.zipWithIndex.map { case (v, p) => (p.toLong, v) }.toSeq)
      val parts = assign(m, seedF)
        .select($"cl", $"v").as[(Long, Array[Long])]
        .groupByKey(_._1).mapValues(_._2)
        .agg(Similarity.CentroidAgg.toColumn)
        .map { case (cl, (n, sums)) => (cl, -n, sums.map(x => -x)) }
        .toDF("cl", "n_part", "sums")
        .withColumn("src_day", lit(day)).withColumn("day", lit(day))
      // build the `m` cache with one action (see runDay's input-bytes
      // note), then overlap the two independent writes (§2.6). When the
      // caller wants the physical purge in the same maintenance window,
      // the tombstones land FIRST (the purge's anti-join reads them) and
      // the purge — two table rewrites, the bigger floor — overlaps the
      // negated-partial write instead of running after everything.
      m.count()
      def writeTomb(): Unit = IncrState.writeDay(s,
        m.select($"vec_id").distinct().withColumn("day", lit(day)),
        tombTable(prefix), warehouse, day, nBuckets)
      def writeParts(): Unit =
        IncrState.writeDay(s, parts, cpartT, warehouse, day, nBuckets)
      if (alsoPurge) {
        writeTomb()
        IncrState.concurrently(Seq(
          () => writeParts(),
          () => purgeDeleted(s, prefix, warehouse, nBuckets)))
      } else IncrState.concurrently(Seq(() => writeTomb(), () => writeParts()))
      // the first delete creates the vec tombstone table — swaps the SQL
      // report view to its tombstone-aware form
      dayDone(s, prefix, warehouse, day)
    } finally { m.unpersist(); () }
  }

  /** Refined centroids from the persisted partials: merge the
    * per-(cl, src_day) sums and floor-average. The partial table is
    * O(K·days) rows of one 64-long array each — a driver-safe collect,
    * the same state→literal move as the L48 counters. */
  def refinedCentroids(s: SparkSession, prefix: String,
                       warehouse: String): Seq[(Long, Array[Long])] = {
    import s.implicits._
    IncrState.ensureRegistered(s, stateTables(prefix)(1), warehouse)
    val rows = s.table(cpartTable(prefix))
      .select($"cl", $"src_day", $"n_part", $"sums")
      .dropDuplicates("cl", "src_day")
      .as[(Long, Int, Long, Array[Long])]
      .collect()
    rows.groupBy(_._1).toSeq.flatMap { case (cl, grp) =>
      // SIGNED net (fold partials positive, delete partials negative): a
      // fully-retracted cluster nets to 0 members and drops out, exactly
      // as the batch recompute on the reduced corpus; a negative net is
      // a contract violation (more retracted than folded) and fails LOUD
      val n = grp.map(_._3).sum
      if (n < 0) throw new IllegalStateException(
        s"cluster $cl netted $n members — a delete slice retracted rows never folded")
      val sums = grp.map(_._4).reduce { (a, b) =>
        Array.tabulate(a.length)(i => a(i) + b(i))
      }
      if (n == 0) None
      else Some((cl, sums.map(x => math.floor(x.toDouble / n).toLong)))
    }.sortBy(_._1)
  }

  /** Max drift between two centroid sets, in ppm of cosine distance
    * (1e6·(1 − cos)); Long.MaxValue when the cluster sets differ (a
    * cluster appeared or emptied — always re-assign). */
  def driftPpm(a: Seq[(Long, Array[Long])], b: Seq[(Long, Array[Long])]): Long = {
    val am = a.toMap; val bm = b.toMap
    if (am.keySet != bm.keySet) return Long.MaxValue
    am.keys.map { cl =>
      val (x, y) = (am(cl), bm(cl))
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) {
        dot += x(i).toDouble * y(i); nx += x(i).toDouble * x(i)
        ny += y(i).toDouble * y(i); i += 1
      }
      if (nx == 0.0 || ny == 0.0) Long.MaxValue
      else math.round((1.0 - dot / math.sqrt(nx * ny)) * 1e6)
    }.max
  }

  /** The re-assign epoch (the L45 re-code shape): rebuild the WHOLE
    * assignment table against the refined centroids as one epoch
    * partition — a map-side broadcast argmax over the persisted VECTOR
    * STATE (never the raw corpus), bucketed write, old partitions drop
    * only after the new epoch lands; the `_reassign_pending` marker
    * brackets the swap so a crash inside it re-runs on the next check.
    * After the swap the centroid marker holds the epoch every later
    * fold assigns against. */
  def reassign(s: SparkSession, prefix: String, warehouse: String,
               nBuckets: Int = 32): Unit = {
    import s.implicits._
    val Seq(vecsT, _, asgT) = stateTables(prefix)
    Seq(vecsT, asgT, tombTable(prefix)).foreach(IncrState.ensureRegistered(s, _, warehouse))
    val refined = refinedCentroids(s, prefix, warehouse)
    IncrState.writeMarker(s, warehouse, pendingMarker(prefix), "1")
    val existing = (IncrState.deltaDays(s, asgT.name, warehouse) ++
      IncrState.epochSizes(s, asgT.name, warehouse).keys).toSeq
    val newEpoch = math.min(IncrState.EpochDay, existing.minOption.getOrElse(0) - 1)
    val vecs = minusTombstones(s, prefix, s.table(vecsTable(prefix))
      .select($"vec_id", $"v", $"n2", $"src_day")
      .dropDuplicates("vec_id", "src_day"))
    // each row KEEPS its original src_day (provenance); only the
    // physical partition is the new epoch — a later replayed day then
    // lands rows byte-identical to its epoch copies and the
    // (vec_id, src_day) dedup collapses them
    IncrState.writeDay(s,
      assign(vecs, centroidFrame(s, refined))
        .select($"vec_id", $"cl", $"sim_i", $"src_day")
        .withColumn("day", lit(newEpoch)),
      asgT, warehouse, newEpoch, nBuckets)
    writeCentroids(s, prefix, warehouse, refined)
    val fs = new org.apache.hadoop.fs.Path(warehouse)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    existing.foreach { d =>
      s.sql(s"ALTER TABLE ${asgT.name} DROP IF EXISTS PARTITION (day=$d)")
      fs.delete(new org.apache.hadoop.fs.Path(s"$warehouse/${asgT.name}/day=$d"), true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$warehouse/${pendingMarker(prefix)}"), false)
  }

  /** Drift check + conditional re-assign: compares the refined
    * centroids against the epoch the current assignments were computed
    * under; re-assigns when the drift exceeds `thresholdPpm` (or a
    * crashed swap left the pending marker). Metadata + an O(K·days)
    * partial read otherwise. Returns true when a re-assign ran. */
  def maybeReassign(s: SparkSession, prefix: String, warehouse: String,
                    thresholdPpm: Long = 10000L, nBuckets: Int = 32): Boolean = {
    val pending = IncrState.readMarker(s, warehouse, pendingMarker(prefix)).isDefined
    // a pending marker forces the re-run UNCONDITIONALLY — a crashed
    // swap must not hide behind a generous drift threshold
    if (pending || driftPpm(epochCentroids(s, prefix, warehouse),
        refinedCentroids(s, prefix, warehouse)) > thresholdPpm) {
      reassign(s, prefix, warehouse, nBuckets); true
    } else false
  }

  /** Per-cluster size / similarity-mass report off the persisted
    * assignments — output identical in shape to `q_cluster_kmeans`
    * (cluster, n, sim_sum, mean_sim): the serving read
    * `IncrViews.clusterSql` (one K-row map-side-combinable aggregate
    * over the assignment state; the replay dedup rides the `vec_id`
    * bucketing exchange-free) plus the presentation order. */
  def report(s: SparkSession, prefix: String, warehouse: String): DataFrame = {
    IncrState.ensureRegistered(s, stateTables(prefix)(2), warehouse)
    IncrState.ensureRegistered(s, tombTable(prefix), warehouse)
    s.sql(IncrViews.clusterSql(s, prefix, warehouse)).orderBy("cluster")
  }

  /** Daily loop over `days` slices (vec_id mod days) + the final
    * re-assign epoch + report — the oracle is the batch recompute (seed
    * argmax → one Lloyd refinement → reassignment, seed literals
    * inlined in SQL). The final re-assign makes the result independent
    * of slicing: per-day assignments against interim epochs are the
    * serving fast path, the epoch reconciles them against the full
    * refined centroids. */
  def incremental(s: SparkSession, dir: String, days: Int): DataFrame =
    exhibit(s, "cluster_incr", col("cluster")) { (prefix, wh) =>
      val emb = Tables.embeddings(s, dir)
      (0 until days).foreach(d => foldSlice(s, emb, col("vec_id"), prefix, wh, days, d, d))
      reassign(s, prefix, wh, nBuckets = 8)
      report(s, prefix, wh)
    }

  /** Fold `days` slices, RETRACT the embedding rows with
    * vec_id % 7 == 3 (a takedown set spanning every fold day) as delete
    * day `days`, purge, then run the final re-assign epoch + report —
    * the oracle is the batch recompute on the REDUCED corpus, proving
    * the signed-partial netting (refined centroids shift to the reduced
    * corpus's) AND the tombstone filter (retracted vectors leave the
    * re-assign and the report) land exactly on
    * batch-on-reduced-corpus. */
  def incrementalDel(s: SparkSession, dir: String, days: Int): DataFrame =
    exhibit(s, "cluster_del", col("cluster")) { (prefix, wh) =>
      val emb = Tables.embeddings(s, dir)
      (0 until days).foreach(d => foldSlice(s, emb, col("vec_id"), prefix, wh, days, d, d))
      deleteDay(s, emb.filter(pmod(col("vec_id"), lit(7L)) === 3),
        prefix, wh, days, nBuckets = 8, alsoPurge = true)
      reassign(s, prefix, wh, nBuckets = 8)
      report(s, prefix, wh)
    }

  val qs: Map[String, Q] = Map(
    "q_cluster_incr" -> ((s, d) => incremental(s, d, 3)),
    "q_cluster_del" -> ((s, d) => incrementalDel(s, d, 3))
  )
}
