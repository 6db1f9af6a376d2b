package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** L45: Incremental ANN index maintenance — the LSH bucket index as
  * daily state. The third member of the incremental family (L43
  * curation, L44 near-dup): the reference's operating contract is one
  * slice of new items per day (reference main.tf:217 daily schedule,
  * src/main.py:263), and the serving-side counterpart of the L44
  * question is "which existing vectors are near this one?" — `q_ann_lsh`
  * answers it only by re-coding the whole corpus per run, a daily full
  * rescan at 100 TB. This module persists the index itself:
  *
  *   - `{prefix}_codes` (bkt, vec_id) — the hyperplane-LSH bucket rows,
  *     BUCKETED on `bkt` (the probe-join key) and PARTITIONED by arrival
  *     day. The bucket code is a PURE FUNCTION of the vector (planes from
  *     the shared `U.h64`, ops/Dedup.scala), so the union of per-day code
  *     partitions is bit-identical to re-coding the full corpus — the
  *     same losslessness argument as the L44 band store, and why the
  *     DuckDB oracle for `q_ann_incr` is `q_ann_lsh`'s SQL verbatim.
  *   - `{prefix}_vecs` (vec_id, v, n2) — the int64-scaled vectors +
  *     cached norm², BUCKETED on `vec_id` for the rerank join and
  *     day-partitioned likewise; raw embeddings are scaled exactly once.
  *
  * Both tables are APPEND-ONLY (vec_ids disjoint across days): a day's
  * fold is two map-side projections + bucketed writes — cost ∝ slice,
  * NO join, no history read (cheaper than L44, which must discover
  * candidates at fold time; ANN candidates are query-time work). Writes
  * are dynamic partition overwrites of exactly `day=N`, so replays are
  * byte-idempotent, and the IncrState size-tiered compaction bounds
  * partition/file growth — AnnIncrSuite pins all of it.
  *
  * Query path (`topK`): multiprobe the query vectors' buckets
  * (ops/Dedup.lshProbes, radius-1 masks), equi-join the CODE STORE on
  * `bkt` (state side exchange-free under the bucketed scan — only the
  * Q·fanout probe rows shuffle), distinct the candidate pairs, then
  * exact-rerank through TWO bucket-aligned joins against the vector
  * store (c-side then q-side, each exchange-free on the state side) and
  * keep top-k per query. At 10^9+ vectors this is the IVF/LSH serving
  * shape: index build amortized over days, per-query cost ∝ bucket
  * collisions, never a corpus scan.
  */
object AnnIncr extends IncrMember.SliceFold {

  private[ops] def codesTable(prefix: String) = s"${prefix}_codes"
  private[ops] def vecsTable(prefix: String) = s"${prefix}_vecs"
  private[ops] def delTable(prefix: String) = s"${prefix}_del"

  /** LSH width policy — THE serving-scale knob, now SELF-SIZING.
    * Candidates/query ≈ tables · |masks| · N/2^bits, so `bits` must grow
    * ~log₂N as the corpus does: the r12 ×25 probe rung measured a fixed
    * 4-bit width degenerating to near-all-pairs rerank (54 s, 63.5 GB of
    * sort spill) where bits=8 on the same corpus restores the linear
    * shape (9.2 s, zero spill). A knob a human must remember to grow is
    * not a scale-safe design, so the fold now DERIVES the width from the
    * corpus size it already owns:
    *
    *   bits = max(4, ⌈log₂(N / TargetOccupancy)⌉)
    *
    * which pins expected bucket occupancy ≈ TargetOccupancy rows
    * regardless of N (candidates/query stays ≈ tables · |masks| ·
    * occupancy — flat). The floor of 4 keeps every driver-scale corpus
    * (500–2,000 vectors) reproducing the `q_ann_lsh` oracle config
    * bit-for-bit; at the probe's ×25 rung (50k vectors) the derivation
    * lands exactly on the proven bits=8 row. `spark.graft.ann.bits`
    * remains an explicit override (it wins over the derivation), and the
    * width the index was actually BUILT at is persisted in `_ann_conf`
    * so serving always probes the built config — a drift between fold
    * and serve would silently zero recall. When the derived target
    * outgrows the built width mid-history, the fold migrates the index
    * (see `recode`). */
  val TargetOccupancy: Long = 200L

  def derivedBits(corpusRows: Long): Int = math.max(4, math.ceil(
    math.log(math.max(corpusRows, 1L).toDouble / TargetOccupancy) / math.log(2.0)).toInt)

  private def confBitsOverride(s: SparkSession): Option[Int] =
    s.conf.getOption("spark.graft.ann.bits").map(_.toInt)

  /** Config for a warehouse with no `_ann_conf` yet (pre-marker reads):
    * override, else the historical default. */
  private def confAnn(s: SparkSession): (Int, Int) =
    (Dedup.NumTables, confBitsOverride(s).getOrElse(4))

  // PER-PREFIX markers (round 16, the ClusterIncr/QualityIncr house
  // pattern): two ANN indexes sharing one warehouse must not pool their
  // built width, corpus counts, or re-code recovery state.
  private def annConfMarker(prefix: String) = s"_ann_conf.$prefix"
  private def vecCountsMarker(prefix: String) = s"_vec_counts.$prefix"
  def recodeMarker(prefix: String) = s"_recode_pending.$prefix"

  private def annConfPath(prefix: String, warehouse: String) =
    new org.apache.hadoop.fs.Path(s"$warehouse/${annConfMarker(prefix)}")

  private def writeAnnConf(s: SparkSession, prefix: String, warehouse: String,
                           tables: Int, bits: Int,
                           force: Boolean = false): Unit = {
    val p = annConfPath(prefix, warehouse)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (force || !fs.exists(p))
      IncrState.writeMarker(s, warehouse, annConfMarker(prefix), s"$tables $bits")
  }

  /** Per-day vector counts (`_vec_counts`): the corpus size the fold
    * already knows — see IncrState.readDayCounts for the idempotence
    * and never-a-corpus-scan argument. */
  private def readVecCounts(s: SparkSession, prefix: String,
                            warehouse: String): Map[Int, Long] =
    IncrState.readDayCounts(s, warehouse, vecCountsMarker(prefix))

  private def writeVecCounts(s: SparkSession, prefix: String, warehouse: String,
                             counts: Map[Int, Long]): Unit =
    IncrState.writeDayCounts(s, warehouse, vecCountsMarker(prefix), counts)

  /** The config the warehouse's index was built at (falls back to the
    * session conf for pre-marker warehouses). */
  def annConf(s: SparkSession, prefix: String, warehouse: String): (Int, Int) = {
    val p = annConfPath(prefix, warehouse)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) confAnn(s)
    else {
      val in = fs.open(p)
      val txt = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8") finally in.close()
      txt.trim.split(' ') match {
        case Array(t, b) => (t.toInt, b.toInt)
        case _ => confAnn(s)
      }
    }
  }

  private[ops] def stateTables(prefix: String): Seq[IncrState.StateTable] = Seq(
    IncrState.StateTable(codesTable(prefix), "bkt", Seq("bkt", "vec_id")),
    IncrState.StateTable(vecsTable(prefix), "vec_id", Seq("vec_id")))

  /** Retraction tombstones (vec_id): a tombstoned vector leaves the
    * query set and every answer set the instant the delete lands —
    * serving reads vectors through `vecView`, which anti-joins the
    * tombstone set, so stale code rows can only produce candidates that
    * die at the (inner) rerank join. Dedup on bare vec_id: cross-day
    * tombstones for one vector are equivalent. */
  private def tombTable(prefix: String): IncrState.StateTable =
    IncrState.StateTable(delTable(prefix), "vec_id", Seq("vec_id", "src_day"))

  /** Sizing reads the VECTOR store, not the codes: a width re-code
    * legitimately collapses the codes table to one epoch, while the vecs
    * layout always carries the full day history — so vecs is the honest
    * compaction trigger. */
  protected def sizingTable(prefix: String): String = vecsTable(prefix)
  override protected def tombstones(prefix: String): Option[IncrMember.Tombstones] =
    Some(IncrMember.Tombstones(tombTable(prefix), Seq("vec_id"), stateTables(prefix)))

  /** The SQL top-k view, re-registered at the k it was registered with. */
  override protected def viewName(prefix: String): String = IncrViews.topkViewName(prefix)
  override protected def registerView: Option[IncrMember.View] = Some((s, prefix, wh) =>
    IncrViews.registerAnnTopK(s, prefix, wh, IncrViews.registeredK(s, prefix, wh)))

  private[graft] def fold(s: SparkSession, in: DataFrame, p: String, wh: String, day: Int,
                          nb: Int): Unit = runDay(s, in, p, wh, day, nb)
  private[graft] def retract(s: SparkSession, in: DataFrame, p: String, wh: String, day: Int,
                             nb: Int): Unit = deleteDay(s, in, p, wh, day, nb)

  /** Int64-scale a slice of the embeddings table (same 1e7 floor scheme
    * as the rest of the vector family — bit-exact cross-engine). */
  private def scaled(slice: DataFrame): DataFrame = {
    import slice.sparkSession.implicits._
    slice.select($"vec_id",
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 10000000) as bigint))").as("v"))
      .withColumn("n2", graft.functions.DotL.dot($"v", $"v"))
  }

  /** Fold one day's slice into the index. Reads ONLY the slice (once)
    * plus the fresh day partition it just wrote (read BACK from state so
    * the codes derive from the stored vectors, not a second scan of raw
    * input — the same no-runtime-cache discipline as the L44 fold, and
    * what keeps the suite's input-bytes bound slice-shaped). The fold
    * also maintains the `_vec_counts` marker and, when the derived width
    * outgrows the built one, migrates the code store (`recode`) — so the
    * index stays bucket-occupancy-flat without a human growing a conf. */
  def runDay(s: SparkSession, slice: DataFrame, prefix: String,
             warehouse: String, day: Int, nBuckets: Int = 32): Unit =
    IncrState.withLease(s, warehouse, prefix) {
    import s.implicits._
    val Seq(codesT, vecsT) = stateTables(prefix)
    IncrState.writeDay(s, scaled(slice).withColumn("day", lit(day)),
      vecsT, warehouse, day, nBuckets)
    val fresh = s.table(vecsTable(prefix)).filter($"day" === day)
    // corpus size after this fold: count the fresh partition (an empty
    // ReadSchema scan — footer bytes only) + the O(days) marker
    val counts = readVecCounts(s, prefix, warehouse) + (day -> fresh.count())
    writeVecCounts(s, prefix, warehouse, counts)
    val target = confBitsOverride(s).getOrElse(derivedBits(counts.values.sum))
    writeAnnConf(s, prefix, warehouse, Dedup.NumTables, target) // first fold only
    // a re-code interrupted by a crash reruns to completion before the
    // fold proceeds (the rebuild is a pure function of the vector store,
    // so rerunning from any intermediate state converges)
    IncrState.readMarker(s, warehouse, recodeMarker(prefix)).flatMap(_.trim.toIntOption)
      .foreach(w => recode(s, prefix, warehouse, annConf(s, prefix, warehouse)._1, w, nBuckets))
    // every fold codes with the PERSISTED config — a session conf change
    // mid-history must not split the index across configs
    val (ft, fb) = annConf(s, prefix, warehouse)
    if (target > fb) {
      // the corpus outgrew the built width: migrate, which re-codes the
      // fresh day along with everything else
      recode(s, prefix, warehouse, ft, target, nBuckets)
    } else {
      IncrState.writeDay(s,
        Dedup.lshBucketsN(fresh.select($"vec_id", $"v"), ft, fb).withColumn("day", lit(day)),
        codesT, warehouse, day, nBuckets)
    }
    // keeps the SQL top-k view's baked planes/config current across a
    // width migration
    dayDone(s, prefix, warehouse, day)
  }

  /** Width migration (the bits-boundary re-code epoch): rebuild the
    * ENTIRE code store at `newBits` as one epoch partition. Codes are
    * pure functions of the stored vectors (scaladoc above), so the
    * rebuild is a single map-side projection of `{prefix}_vecs` through
    * the bucketed write path — cost ∝ corpus, no join, and it happens
    * O(log N) times over the index's life (widths grow logarithmically),
    * the same amortized O(N log N) write bound as the LSM compaction.
    *
    * Serving stays CORRECT at every instant of the swap: rerank is
    * exact, so stray code rows only ever add candidates — before the
    * conf flip the old-width partitions are still complete (new-epoch
    * rows are noise); after it the new epoch is complete (stale
    * old-width rows are noise until dropped). A `_recode_pending` marker
    * brackets the swap so a crash anywhere inside it reruns the re-code
    * on the next fold. */
  private def recode(s: SparkSession, prefix: String, warehouse: String,
                     tables: Int, newBits: Int, nBuckets: Int): Unit = {
    import s.implicits._
    val codesT = stateTables(prefix).head
    IncrState.writeMarker(s, warehouse, recodeMarker(prefix), newBits.toString)
    val existing = (IncrState.deltaDays(s, codesT.name, warehouse) ++
      IncrState.epochSizes(s, codesT.name, warehouse).keys).toSeq
    val newEpoch = math.min(IncrState.EpochDay, existing.minOption.getOrElse(0) - 1)
    IncrState.writeDay(s,
      Dedup.lshBucketsN(vecView(s, prefix).select($"vec_id", $"v"), tables, newBits)
        .withColumn("day", lit(newEpoch)),
      codesT, warehouse, newEpoch, nBuckets)
    writeAnnConf(s, prefix, warehouse, tables, newBits, force = true)
    val fs = new org.apache.hadoop.fs.Path(warehouse)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    existing.foreach { d =>
      s.sql(s"ALTER TABLE ${codesT.name} DROP IF EXISTS PARTITION (day=$d)")
      fs.delete(new org.apache.hadoop.fs.Path(s"$warehouse/${codesT.name}/day=$d"), true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$warehouse/${recodeMarker(prefix)}"), false)
  }

  /** Exact-reranked top-k over the persisted index for the given query
    * vectors (`(q_id, qv, qn)` rows). Candidate recall is one bucket
    * equi-join; rerank is two bucket-aligned joins against the vector
    * store. Output matches `q_ann_lsh` row-for-row on the same queries.
    *
    * RERANK JOIN SHAPE (round 16, tuned against the ×100 probe rung):
    * the candidate stream is the big side — queries/50th-of-corpus ×
    * tables × (bits+1) masks × ~TargetOccupancy rows — and once the
    * q-side join attaches the 64-long query payloads it is ~600 B/row.
    * Plan rules, each measured:
    *
    *   - VEC join (c_id): SHUFFLE_HASH building the vector store when a
    *     build partition fits the runtime per-task budget
    *     (Graph.shjPerTaskBudget, corpus size from the O(days)
    *     `_vec_counts` marker — no scan). The candidate side is still
    *     THIN here (16 B/row), so this join was never the hazard; the
    *     hint just drops the store-side sort.
    *   - QUERIES join (q_id): BROADCAST while the query set is small
    *     (one counted pass of the query-sized frame; ≲32 MB of rows) —
    *     the fat post-join stream then never shuffles at all, which is
    *     the measured-best shape (×25: 0.4 GB total shuffle vs 2.3 GB
    *     when this side is shuffle-hashed). Past broadcast size,
    *     SHUFFLE_HASH under the same per-task budget: the fat stream
    *     pays its one inherent exchange but is never SORTED — the
    *     unhinted sort-merge fallback at ×100 sorted it twice for
    *     63.5 GB of spill (the first fresh-JVM probe's catch). Beyond
    *     both guards: sort-merge, which spills instead of OOMing. */
  def topK(s: SparkSession, prefix: String, warehouse: String,
           queries: DataFrame, k: Int = 3): DataFrame = {
    import s.implicits._
    // restart contract, read side: the warehouse outlives the in-memory
    // catalog — re-register surviving state tables before touching them
    allTables(prefix).foreach(IncrState.ensureRegistered(s, _, warehouse))
    val (tables, bits) = annConf(s, prefix, warehouse)
    val cand = probesOf(queries, tables, bits)
      .join(codeStore(s, prefix).select($"bkt", $"vec_id".as("c_id")), "bkt")
      .filter($"q_id" =!= $"c_id")
      .select($"q_id", $"c_id")
      .distinct()
    // ~750 B/vector in an UnsafeHashedRelation (64-long array + n2 +
    // per-row overhead)
    val RowBytes = 750L
    val nVec = readVecCounts(s, prefix, warehouse).values.sum
    val parts = s.sessionState.conf.numShufflePartitions
    val vecShjSafe = nVec > 0 &&
      nVec * RowBytes / parts < Graph.shjPerTaskBudget(s)
    def shjVec(df: DataFrame): DataFrame =
      if (vecShjSafe) df.hint("shuffle_hash") else df
    // one counted pass of the query-sized frame decides its join form;
    // Catalyst cannot size it statically (it is usually a filter over
    // the store) and it has no shuffle stage for AQE to measure
    val nQ = queries.count()
    val qSel = queries.select($"q_id", $"qv", $"qn")
    val qJoin =
      if (nQ * RowBytes < (32L << 20)) broadcast(qSel)
      else if (nQ * RowBytes / parts < Graph.shjPerTaskBudget(s)) qSel.hint("shuffle_hash")
      else qSel
    val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"c_id")
    cand
      .join(shjVec(vecView(s, prefix).select($"vec_id".as("c_id"), $"v".as("cv"), $"n2".as("cn"))), "c_id")
      .join(qJoin, "q_id")
      .withColumn("dot", graft.functions.DotL.dot($"qv", $"cv"))
      .withColumn("sim", round($"dot".cast("double") /
        (sqrt($"qn".cast("double")) * sqrt($"cn".cast("double"))), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= k)
      .select($"q_id", $"rk", $"c_id", $"sim")
  }

  /** Radius-1 multiprobe bucket rows for a `(q_id, qv, qn)` query set —
    * the probe side of the candidate join (suite-pinned plan shape). */
  private[graft] def probesOf(queries: DataFrame,
                              tables: Int = Dedup.NumTables, bits: Int = 4): DataFrame = {
    import queries.sparkSession.implicits._
    Dedup.lshProbesN(
        queries.select($"q_id".as("vec_id"), $"qv".as("v")),
        tables, bits, Dedup.probeMasks1For(bits))
      .select($"vec_id".as("q_id"), $"bkt")
  }

  /** The code store of a fold (for the suite's plan pins). */
  private[graft] def codeStore(s: SparkSession, prefix: String): DataFrame =
    s.table(codesTable(prefix))
  private[graft] def vecStore(s: SparkSession, prefix: String): DataFrame =
    s.table(vecsTable(prefix))

  /** Max files per bucket over BOTH stores: the vecs table drives
    * sizing, but a width re-code rewrites the codes table on its own. */
  override def maxFilesPerBucket(s: SparkSession, prefix: String, warehouse: String): Int =
    math.max(IncrState.maxFilesPerBucket(s, vecsTable(prefix), warehouse),
      IncrState.maxFilesPerBucket(s, codesTable(prefix), warehouse))

  /** Retraction (VERDICT r13 #1, round 14): fold a takedown set OUT of
    * the ANN index — by vec_id alone. The delete lands as tombstones
    * (day-partitioned, dynamic-overwrite replay contract) and nets the
    * `_vec_counts` marker, and correctness is immediate through the
    * `vecView` anti-join: the retracted vector leaves the query set and
    * every answer set on the next read, while its stale code rows can
    * only produce candidates the (inner) rerank join drops. Physical
    * reclamation is `purgeDeleted` (or any later re-code, which rebuilds
    * codes from the filtered view). Cost ∝ delete slice + tombstone
    * history (never the vec/code state). Delete wins, corpus-wide and permanent —
    * re-admitting a vec_id needs a fresh prefix. `day` must be fresh. */
  def deleteDay(s: SparkSession, deletedIds: DataFrame, prefix: String,
                warehouse: String, day: Int, nBuckets: Int = 32,
                alsoPurge: Boolean = false): Unit =
    IncrState.withLease(s, warehouse, prefix) {
    import s.implicits._
    // src_day is arrival provenance, distinct from the physical `day`
    // partition: compaction rewrites `day` into the epoch, but the
    // marker netting below must still see WHICH arrival tombstoned an
    // id — that is what makes a replayed delete day recompute its own
    // marker entry exactly (ADVICE r15: without it, a replay after
    // compaction anti-joined against its own epoch-folded ids and
    // overwrote the entry with 0, inflating the corpus estimate)
    IncrState.writeDay(s,
      deletedIds.select($"vec_id").distinct()
        .withColumn("src_day", lit(day)).withColumn("day", lit(day)),
      tombTable(prefix), warehouse, day, nBuckets)
    // net the corpus-size marker so the self-sizing width tracks the
    // REDUCED corpus — counting only NEWLY tombstoned ids (ADVICE r14):
    // an id re-tombstoned under a later day must not decrement twice, or
    // repeated takedown feeds would push the marker below the true live
    // count and skew the derived LSH width low (performance/recall-shape
    // only — answers stay exact via rerank — but the marker should track
    // truth). The anti-join reads only the tombstone store (∝ total
    // deletes, never the vec state), preserving the cost-∝-delete-slice
    // contract. Residual: an id that never folded at all still counts
    // (detecting it needs a vec-store scan, O(state) per delete day —
    // not worth it for a shape knob; a later re-code rebuilds the true
    // width from the filtered view anyway).
    // newly-tombstoned = this arrival's ids minus ids any STRICTLY
    // EARLIER arrival already tombstoned (src_day < day, not physical
    // partition != day): day ids are monotonic per the fold contract,
    // so first-run and replay — before or after any compaction moved
    // rows into the epoch — compute the same set, and a re-tombstoned
    // id decrements exactly once, under its earliest arrival
    // distinct: after a compaction folded day N into the epoch, a
    // replayed day N sees its ids TWICE (epoch copy + re-landed
    // partition, both src_day = N) until the next compaction collapses
    // them — the recount is per-id, not per-row
    def netMarker(): Unit = {
      val fresh = s.table(delTable(prefix)).filter($"src_day" === day)
        .select($"vec_id").distinct()
      val prior = s.table(delTable(prefix)).filter($"src_day" < day).select($"vec_id")
      val nDel = fresh.join(prior, Seq("vec_id"), "left_anti").count()
      writeVecCounts(s, prefix, warehouse, readVecCounts(s, prefix, warehouse) + (day -> -nDel))
    }
    // the marker netting reads only the just-landed tombstone store; the
    // physical purge rewrites only the code/vector tables — when the
    // caller wants both in one maintenance window, overlap their driver
    // floors (guide §2.6; holds propagate into the workers, so the
    // purge's reentrant lease acquire is safe there)
    if (alsoPurge)
      IncrState.concurrently(Seq(
        () => netMarker(),
        () => purgeDeleted(s, prefix, warehouse, nBuckets)))
    else netMarker()
    // first delete swaps the SQL top-k view to its tombstone-aware form
    dayDone(s, prefix, warehouse, day)
  }

  /** Serving read-view of the vector store: a day replayed AFTER an
    * earlier compaction folded it re-lands identical rows under `day=N`
    * beside the epoch copy until the next compaction collapses them
    * (the replay contract's one transient). The candidate distinct
    * absorbs the CODE duplicates; the vector side dedups here — on the
    * natural key, over the `vec_id`-bucketed scan, so it is one
    * HashAggregate per bucket with NO exchange (the same read-repair
    * choice as DedupIncr.pairs' distinct; both copies carry identical
    * (v, n2), so the pick is deterministic). */
  private def vecView(s: SparkSession, prefix: String): DataFrame = {
    import s.implicits._
    val live = s.table(vecsTable(prefix)).select($"vec_id", $"v", $"n2")
      .dropDuplicates("vec_id")
    // delete-wins: tombstoned vectors leave the view (and with it the
    // query set, the rerank join, and any re-code) — a broadcast anti
    // join on the dimension-sized takedown set, present ONLY when a
    // delete ever ran
    minusTombstones(s, prefix, live)
  }

  /** The store-resident query set of the `q_ann_lsh` contract (every
    * 50th vector), read back from state. */
  def storeQueries(s: SparkSession, prefix: String): DataFrame = {
    import s.implicits._
    vecView(s, prefix).filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"n2".as("qn"))
  }

  /** Restart-safe twin: re-registers the surviving state tables from the
    * warehouse before reading (the in-memory catalog dies with the JVM;
    * the warehouse does not). */
  def storeQueries(s: SparkSession, prefix: String, warehouse: String): DataFrame = {
    allTables(prefix).foreach(IncrState.ensureRegistered(s, _, warehouse))
    storeQueries(s, prefix)
  }

  /** Daily loop over `days` slices (vec_id mod days) + top-3 serving —
    * the oracle is the full-corpus LSH recompute (`q_ann_lsh`'s SQL
    * verbatim: bucket codes are pure functions of the vectors, so the
    * folded index answers identically). */
  def incremental(s: SparkSession, dir: String, days: Int): DataFrame =
    exhibit(s, "ann_incr", col("q_id"), col("rk")) { (prefix, wh) =>
      val emb = Tables.embeddings(s, dir)
      (0 until days).foreach(d => foldSlice(s, emb, col("vec_id"), prefix, wh, days, d, d))
      topK(s, prefix, wh, storeQueries(s, prefix), 3)
    }

  /** Fold all but the last slice, RETRACT the vectors with
    * vec_id % 7 == 3 (including not-yet-arrived ids — a block-list),
    * purge, then fold the last slice AFTER the delete. Oracle = the
    * full LSH recompute on the REDUCED corpus (`q_ann_lsh`'s SQL with
    * the takedown set excluded): the equality proves the tombstone
    * view-filter (query set AND answer set shrink), purge harmlessness,
    * and that post-delete folds of tombstoned ids stay invisible. */
  def incrementalDel(s: SparkSession, dir: String, days: Int): DataFrame =
    exhibit(s, "ann_del", col("q_id"), col("rk")) { (prefix, wh) =>
      val emb = Tables.embeddings(s, dir)
      (0 until days - 1).foreach(d => foldSlice(s, emb, col("vec_id"), prefix, wh, days, d, d))
      deleteDay(s, emb.filter(pmod(col("vec_id"), lit(7L)) === 3)
        .select(col("vec_id")), prefix, wh, days, nBuckets = 8, alsoPurge = true)
      foldSlice(s, emb, col("vec_id"), prefix, wh, days, days - 1, days + 1)
      topK(s, prefix, wh, storeQueries(s, prefix), 3)
    }

  val qs: Map[String, Q] = Map(
    "q_ann_incr" -> ((s, d) => incremental(s, d, 3)),
    "q_ann_del" -> ((s, d) => incrementalDel(s, d, 3))
  )
}
