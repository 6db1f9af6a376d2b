package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared machinery for the incremental-state family (L43 curation, L44
  * near-dup, L45 ANN index): bucketed, day-partitioned parquet tables
  * that absorb one slice per day and keep the daily contract of the
  * reference (one micro-batch per day, main.tf:214-244) without ever
  * re-reading history.
  *
  * The layout every member shares:
  *   - BUCKETED on the table's join key, so the steady-state consumers
  *     (candidate joins, rerank joins) read the state side exchange-free;
  *   - PARTITIONED by arrival `day`, so a fold's fresh side prunes to one
  *     partition and a day's write is a dynamic partition OVERWRITE of
  *     exactly its own day — replayed batches rewrite their day
  *     byte-identically instead of appending duplicates;
  *   - size-tiered LSM compaction (settled days merge into epoch runs at
  *     negative day ids; runs within a 2× size band merge pairwise), so
  *     partition and file counts stay logarithmic in corpus/delta and
  *     total compaction write traffic is O(N log N) — all merges go
  *     THROUGH the bucketed write path (a plain parquet rewrite, like
  *     A11 `Compact.run`, would strip the bucket metadata the
  *     exchange-free joins stand on).
  *
  * Factored out of DedupIncr (round 12) when AnnIncr became the third
  * member; DedupIncr's suite pins the behavior end-to-end.
  */
object IncrState {

  /** Loud-failure signal of the single-writer contract (VERDICT r15 #1):
    * a second writer attempting a fold/delete/compact on a prefix whose
    * lease is held fails with THIS, never with silent interleaving. */
  final class LeaseContendedException(msg: String) extends RuntimeException(msg)

  /** A crashed holder's lease older than this is considered abandoned
    * and may be broken by the next acquirer. The TTL no longer has to
    * outlast the worst fold/compaction: a LIVE holder heartbeats its
    * lease file at ttl/3 (VERDICT r16 #1), so only a genuinely dead
    * holder ever goes stale — the TTL is purely the crash-detection
    * latency now, not a bound any operator must predict. */
  val DefaultLeaseTtlMs: Long = 10 * 60 * 1000L

  /** Settle delay after breaking a stale lease (ADVICE r16): two
    * breakers racing through the TTL path could interleave so the
    * laggard deletes the winner's FRESH lease — the winner re-verifies
    * its token after this beat, catching the theft before it returns
    * as a holder. Only paid on the (rare) crash-recovery path. */
  val StaleBreakSettleMs: Long = 50L

  /** (warehouse, scope) lease held by the CURRENT thread: reentrancy
    * depth (a member op that takes the prefix lease may call straight
    * back into another leased op of the same prefix), the owner token
    * (re-verified at every stage→swap commit point — `fence`), the
    * heartbeat task keeping the lease fresh while the holder lives, and
    * the lost flag the heartbeat/fence flip when ownership is gone. */
  private final case class LeaseHold(depth: Int, token: String,
      lost: java.util.concurrent.atomic.AtomicBoolean,
      hb: Option[java.util.concurrent.ScheduledFuture[_]])

  private val held = new ThreadLocal[Map[(String, String), LeaseHold]] {
    override def initialValue(): Map[(String, String), LeaseHold] = Map.empty
  }

  /** One shared daemon thread renews every live lease — the work per
    * beat is one tiny read + one setTimes, so a single thread covers
    * any realistic number of concurrently held prefixes. */
  private lazy val heartbeatExec: java.util.concurrent.ScheduledExecutorService =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-lease-heartbeat"); t.setDaemon(true); t
    })

  private def leasePath(warehouse: String, scope: String) =
    new org.apache.hadoop.fs.Path(s"$warehouse/_lease.$scope")

  private def leaseToken(): String =
    s"${ProcessHandle.current().pid()}@${java.net.InetAddress.getLocalHost.getHostName}:" +
      s"${Thread.currentThread().getId}:${java.util.UUID.randomUUID()}"

  /** CROSS-PROCESS single-writer lease for one state prefix (VERDICT r15
    * #1). The r14 race was one session racing itself through a shared
    * conf; this is the same bug class one level up — two DRIVERS folding
    * the same prefix would interleave `writeDay` partition overwrites
    * with `compactAll`'s stage→swap and corrupt state in ways no
    * table-property can prevent. Every member fold/delete/purge/compact
    * entry point runs under `withLease(s, warehouse, prefix)`.
    *
    * Protocol (filesystem-only, so it works across JVMs and on object
    * stores with no coordination service):
    *   1. if `_lease.<scope>` exists and is younger than `ttlMs` →
    *      throw [[LeaseContendedException]] naming the holder — LOUD
    *      failure, the caller decides whether to retry;
    *   2. a lease older than `ttlMs` is a crashed holder's — break it;
    *   3. create the file no-overwrite and write a unique token, then
    *      READ IT BACK: only the writer whose token survived proceeds.
    *      The read-back makes the protocol safe even where create(p,
    *      overwrite=false) is check-then-act rather than atomic (local
    *      FS): two simultaneous creators both write, at most one token
    *      survives, the loser(s) throw — under contention the protocol
    *      may fail BOTH writers (each retries), but can never admit two.
    *   4. release deletes the file only if it still holds OUR token
    *      (a TTL takeover must not be un-done by the old holder's
    *      finally block).
    *
    * LIVE-HOLDER PROTECTION (VERDICT r16 #1 — the round-16 lease could
    * evict a healthy long-running holder): (a) a HEARTBEAT re-touches
    * the lease file every ttl/3 while `body` runs, so a fold/compaction
    * of any duration stays visibly alive and only a genuinely dead
    * holder's lease ever ages past the TTL; (b) every stage→swap commit
    * point inside `body` (writeDay's insertInto, the compaction swap,
    * marker writes) calls [[fence]], which re-reads the lease and
    * ABORTS the op loudly if ownership was lost — so even a holder
    * wrongly evicted through a heartbeat outage (GC pause longer than
    * the TTL, FS partition) can never land a partial write over the
    * takeover's. Heartbeat interval: ttl/3 by default; `heartbeatMs`
    * < 0 disables it (the suite's simulated-stuck-holder hook).
    *
    * Reentrant per thread: nested calls on the same (warehouse, scope)
    * just bump a depth counter. Different scopes (prefixes) on one
    * warehouse do NOT contend — the contract is single-writer-per-
    * PREFIX, and the multi-member day driver runs members side by side. */
  def withLease[T](s: SparkSession, warehouse: String, scope: String,
                   ttlMs: Long = DefaultLeaseTtlMs,
                   heartbeatMs: Long = 0L)(body: => T): T = {
    val key = (warehouse, scope)
    held.get().get(key) match {
      case Some(h) =>
        held.set(held.get().updated(key, h.copy(depth = h.depth + 1)))
        try body finally held.set(held.get().updated(key, h))
      case None =>
        val conf = s.sparkContext.hadoopConfiguration
        requireCurrentFormat(conf, warehouse)
        val token = acquireLease(conf, warehouse, scope, ttlMs)
        val lost = new java.util.concurrent.atomic.AtomicBoolean(false)
        val interval =
          if (heartbeatMs < 0) -1L
          else if (heartbeatMs == 0) math.max(ttlMs / 3, 50L)
          else heartbeatMs
        val hb = if (interval <= 0) None else Some(
          heartbeatExec.scheduleAtFixedRate(
            heartbeatTask(conf, warehouse, scope, token, lost),
            interval, interval, java.util.concurrent.TimeUnit.MILLISECONDS))
        held.set(held.get().updated(key, LeaseHold(1, token, lost, hb)))
        try body finally {
          held.set(held.get().removed(key))
          hb.foreach(_.cancel(false))
          releaseLease(conf, warehouse, scope, token)
        }
    }
  }

  /** Bounded retry around [[withLease]] (VERDICT r16 #5): contention is
    * a LOUD failure by design, but every production caller then wants
    * the same retry loop — jittered exponential backoff, rethrow after
    * `attempts`. The jitter decorrelates a herd of contenders waking
    * together after a long fold releases. */
  def withLeaseRetry[T](s: SparkSession, warehouse: String, scope: String,
                        attempts: Int = 12, baseBackoffMs: Long = 100L,
                        ttlMs: Long = DefaultLeaseTtlMs)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return withLease(s, warehouse, scope, ttlMs)(body)
      catch {
        case e: LeaseContendedException =>
          attempt += 1
          if (attempt >= attempts) throw e
          val cap = math.min(baseBackoffMs << math.min(attempt - 1, 6), 5000L)
          Thread.sleep(cap / 2 +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(cap / 2 + 1))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Run independent state actions of ONE leased operation CONCURRENTLY
    * (optimization guide §2.6: the scheduler happily runs several jobs
    * at once — actions are only sequential because the driver calls
    * them sequentially). The member folds write 2-3 independent tables
    * from one persisted input, and the per-action driver floor
    * (planning, AQE coordination, commit protocol) measured ~45% of
    * the del exhibits' wall at sf0.1 (a per-job profile, round 17) — running
    * the writes from worker threads overlaps each action's floor with
    * the others' cluster work.
    *
    * The calling thread's lease holds are propagated into each worker,
    * so [[fence]] keeps guarding writes submitted from them; bodies
    * must not acquire leases of their own (a cross-thread reentrant
    * acquire would self-deadlock on the contended-lease throw). Fresh
    * threads per call — cheap next to any Spark action, and the
    * SparkContext's inheritable job-group/description locals carry
    * over at thread creation. All bodies settle before return; the
    * first failure rethrows after the join (no branch outlives the
    * leased section it belongs to). */
  def concurrently(bodies: Seq[() => Unit]): Unit = {
    if (bodies.sizeIs <= 1) { bodies.foreach(_.apply()); return }
    val parentHolds = held.get()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ts = bodies.map { b =>
      val t = new Thread(() => {
        held.set(parentHolds)
        try b() catch { case e: Throwable => failure.compareAndSet(null, e); () }
        finally held.remove()
      }, "graft-incr-parallel")
      t.setDaemon(true)
      t.start()
      t
    }
    ts.foreach(_.join())
    val e = failure.get()
    if (e != null) throw e
  }

  /** The heartbeat: re-touch the lease's mtime while its content is
    * still OUR token; a changed/missing token means a takeover already
    * happened — flip `lost` so the next [[fence]] aborts fast (and
    * never freshen the usurper's file). Transient IO errors skip the
    * beat rather than poisoning a healthy hold. */
  private def heartbeatTask(conf: org.apache.hadoop.conf.Configuration,
                            warehouse: String, scope: String, token: String,
                            lost: java.util.concurrent.atomic.AtomicBoolean): Runnable =
    () => if (!lost.get()) {
      try {
        val p = leasePath(warehouse, scope)
        val fs = p.getFileSystem(conf)
        if (readLease(fs, p).contains(token))
          fs.setTimes(p, System.currentTimeMillis(), -1)
        else lost.set(true)
      } catch { case _: java.io.IOException => () }
    }

  /** COMMIT FENCE (VERDICT r16 #1b): re-verify, for every lease this
    * thread holds on `warehouse`, that the on-disk lease still carries
    * our token — called at every state-mutating commit point (writeDay,
    * the compaction stage→swap→drop sequence, marker writes). A holder
    * whose lease was broken (TTL takeover during a heartbeat outage)
    * fails HERE, before the write lands, so the takeover's state is
    * never interleaved with the evictee's. No-op for threads holding no
    * lease on this warehouse (direct writeDay callers own their own
    * serialization). */
  def fence(s: SparkSession, warehouse: String): Unit = {
    val holds = held.get()
    if (holds.nonEmpty) {
      val conf = s.sparkContext.hadoopConfiguration
      holds.foreach { case ((wh, scope), h) =>
        if (wh == warehouse) {
          def lostMsg = s"lease for prefix '$scope' at $warehouse was lost " +
            "mid-operation (TTL takeover while this holder was stalled); " +
            "aborting before the commit to keep the takeover's state clean"
          if (h.lost.get()) throw new LeaseContendedException(lostMsg)
          val p = leasePath(warehouse, scope)
          val owned = try readLease(p.getFileSystem(conf), p).contains(h.token)
          catch { case _: java.io.IOException => false }
          if (!owned) { h.lost.set(true); throw new LeaseContendedException(lostMsg) }
        }
      }
    }
  }

  /** Acquire the (warehouse, scope) lease or throw — Hadoop-conf-only so
    * a lease can be probed/held by a process with no SparkSession (the
    * cross-JVM suite drives this through a bare `java` child). Returns
    * the owner token to pass to [[releaseLease]]. */
  def acquireLease(conf: org.apache.hadoop.conf.Configuration, warehouse: String,
                   scope: String, ttlMs: Long = DefaultLeaseTtlMs): String = {
    val p = leasePath(warehouse, scope)
    val fs = p.getFileSystem(conf)
    val st = try Some(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => None }
    var brokeStale = false
    st.foreach { f =>
      val age = System.currentTimeMillis() - f.getModificationTime
      val staleTok = try readLease(fs, p)
      catch { case _: java.io.IOException => None }
      if (age <= ttlMs) {
        throw new LeaseContendedException(
          s"state prefix '$scope' at $warehouse is leased by ${staleTok.getOrElse("<unreadable>")} " +
            s"(age ${age}ms <= ttl ${ttlMs}ms); a second writer folding the same " +
            "prefix would interleave partition overwrites with compactions")
      }
      // crashed holder: break the stale lease — but ONLY the exact file
      // observed (ADVICE r16: a bare delete here could land on a sibling
      // breaker's FRESH lease created between our staleness read and the
      // delete; re-checking token+mtime immediately before the delete
      // means a breaker can only ever remove the stale inode it judged)
      val cur = try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
      cur match {
        case None => () // a sibling breaker got there first; race for the fresh one
        case Some(c) =>
          val curTok = try readLease(fs, p)
          catch { case _: java.io.IOException => None }
          if (c.getModificationTime != f.getModificationTime || curTok != staleTok)
            throw new LeaseContendedException(
              s"state prefix '$scope' at $warehouse was taken over during the stale-lease " +
                "break (a sibling breaker won); retry if the takeover also dies")
          fs.delete(p, false)
      }
      brokeStale = true
    }
    val token = leaseToken()
    // ATOMIC create on a local filesystem (round 17, surfaced by the
    // 8-thread mutual-exclusion chaos test): Hadoop's create(p, false)
    // is check-then-act on RawLocalFileSystem, and the read-back below
    // only catches creators whose WRITES interleave — it cannot catch
    // the serialized interleave where creator C completes create → write
    // → read-back and enters its body before creator D (already past
    // its own existence check) truncate-creates over C's fresh lease and
    // passes ITS read-back: two live holders. O_EXCL (CREATE_NEW) makes
    // the create itself the arbiter, closing that window for every
    // file:// warehouse (this sandbox, the test suites, any NFS-less
    // deployment). Non-local stores keep the create + read-back protocol
    // (their create is server-arbitrated; the residual window is
    // backstopped by the heartbeat + commit fence).
    localNioPath(fs, p) match {
      case Some(lp) =>
        try {
          // hadoop's create() makes parent dirs implicitly; nio does not —
          // a lease can be the first object ever written to a warehouse
          Option(lp.getParent).foreach(java.nio.file.Files.createDirectories(_))
          java.nio.file.Files.write(lp, token.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          ()
        } catch {
          case _: java.nio.file.FileAlreadyExistsException | _: java.io.IOException =>
            throw new LeaseContendedException(
              s"lost the lease race for prefix '$scope' at $warehouse (concurrent create)")
        }
      case None =>
        val out = try fs.create(p, false)
        catch {
          case _: java.io.IOException =>
            throw new LeaseContendedException(
              s"lost the lease race for prefix '$scope' at $warehouse (concurrent create)")
        }
        try out.write(token.getBytes("UTF-8")) finally out.close()
        // ownership read-back: the create above is check-then-act, so a
        // simultaneous creator may have overwritten us — only the writer
        // whose token is on disk holds the lease
        if (!readLease(fs, p).contains(token)) {
          throw new LeaseContendedException(
            s"lost the lease race for prefix '$scope' at $warehouse (token overwritten)")
        }
    }
    // settle re-verify (ADVICE r16), paid only on the crash-recovery
    // path: a laggard breaker whose token+mtime re-check raced our
    // break could still have deleted our fresh file — one beat later
    // its delete has either landed (we detect the theft and fail, the
    // laggard wins alone) or can no longer pass its re-check. Writers
    // that never saw a stale lease skip this; the residual exotic
    // interleave is backstopped by the heartbeat + commit fence.
    if (brokeStale) {
      Thread.sleep(StaleBreakSettleMs)
      if (!readLease(fs, p).contains(token))
        throw new LeaseContendedException(
          s"lost the lease race for prefix '$scope' at $warehouse (stolen during settle)")
    }
    token
  }

  /** Release only if the lease still carries `token` — a TTL takeover's
    * lease must survive the previous holder's finally block. The delete
    * goes through a RENAME-ASIDE (ADVICE r16: plain read-then-delete
    * left a window where a takeover landing between the two lost ITS
    * lease to the old holder's release): rename the file to a private
    * name, re-read it there, and only delete what provably carries our
    * token. A displaced fresh lease is renamed back; if a third writer
    * claimed the path meanwhile, the displaced holder's own heartbeat/
    * fence detects the loss — at no point do two writers both believe
    * they hold the lease through a commit. */
  def releaseLease(conf: org.apache.hadoop.conf.Configuration, warehouse: String,
                   scope: String, token: String): Unit = {
    val p = leasePath(warehouse, scope)
    val fs = p.getFileSystem(conf)
    val owned = try readLease(fs, p).contains(token)
    catch { case _: java.io.IOException => false }
    if (!owned) return
    val aside = new org.apache.hadoop.fs.Path(
      s"$warehouse/_lease.$scope.rel.${java.util.UUID.randomUUID()}")
    val renamed = try fs.rename(p, aside)
    catch { case _: java.io.IOException => false }
    if (!renamed) return // a takeover (or sibling release) got there first
    val asideTok = try readLease(fs, aside)
    catch { case _: java.io.IOException => None }
    if (asideTok.contains(token)) fs.delete(aside, false)
    else if (!fs.rename(aside, p)) fs.delete(aside, false)
  }

  /** Warehouse layout version stamp. Round 16 scoped every member
    * marker per prefix (`_ann_conf.<prefix>`, `_vec_counts.<prefix>`,
    * `_doc_counts.<prefix>`, `_recode_pending.<prefix>`) and added
    * `src_day` to tombstone tables; a warehouse written BEFORE that
    * change would otherwise be read through the marker fallbacks and
    * silently fold at a different config than its built index (ADVICE
    * r16 #2). Every `writeDay` stamps the current version; a warehouse
    * carrying legacy unscoped markers and NO stamp is refused LOUDLY at
    * lease time with migration instructions, never degraded silently. */
  val FormatMarker = "_graft_format"
  val FormatVersion = "2"
  private val LegacyUnscopedMarkers =
    Seq("_ann_conf", "_vec_counts", "_doc_counts", "_recode_pending")
  // warehouses already validated (or stamped) this JVM — the check is
  // one exists() probe, but read paths hit it per table per query
  private val formatOk = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def requireCurrentFormat(conf: org.apache.hadoop.conf.Configuration,
                           warehouse: String): Unit =
    if (!formatOk.contains(warehouse)) {
      val fmt = new org.apache.hadoop.fs.Path(s"$warehouse/$FormatMarker")
      val fs = fmt.getFileSystem(conf)
      if (!fs.exists(fmt)) {
        val legacy = LegacyUnscopedMarkers.filter(m =>
          fs.exists(new org.apache.hadoop.fs.Path(s"$warehouse/$m")))
        if (legacy.nonEmpty) throw new IllegalStateException(
          s"warehouse $warehouse carries pre-scoped-marker state (${legacy.mkString(", ")}) " +
            s"and no $FormatMarker stamp: folding it now could code at a different width " +
            "than the built index or reset corpus counts. Migrate by renaming each legacy " +
            "marker to <marker>.<prefix> for the warehouse's single resident member and " +
            s"writing $FormatMarker=$FormatVersion, or rebuild the warehouse.")
      }
      formatOk.add(warehouse); ()
    }

  /** Stamp the layout version beside the state (idempotent, one probe
    * per writeDay after the first thanks to the in-memory set). */
  private def stampFormat(s: SparkSession, warehouse: String): Unit = {
    val key = s"stamped:$warehouse"
    // a fold's concurrent table writes may all stamp at once: each
    // writes the same body through its own temp file
    if (!formatOk.contains(key)) {
      if (readMarker(s, warehouse, FormatMarker).isEmpty)
        writeMarker(s, warehouse, FormatMarker, FormatVersion)
      formatOk.add(key); ()
    }
  }

  /** The java.nio path of `p` when `fs` is a local filesystem (raw or
    * checksummed), None otherwise — the switch for the O_EXCL atomic
    * lease create above and the atomic marker replace in `writeMarker`.
    * Files created through nio carry no .crc sidecar; ChecksumFileSystem
    * reads them unverified, and rename/
    * delete/setTimes are checksum-agnostic, so the two create paths
    * interoperate on one warehouse. */
  private def localNioPath(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path): Option[java.nio.file.Path] =
    if ("file" == fs.getUri.getScheme)
      try Some(java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath))
      catch { case _: Throwable => None }
    else None

  /** The lease file's token, or None when missing or UNREADABLE: two
    * creators racing through a checksummed local FS can interleave the
    * data file and its .crc sidecar so reads throw ChecksumException —
    * for every caller "can't read the token" means "can't prove
    * ownership", so None (fail closed) is the correct answer, never an
    * escaping IOException (observed killing racing breaker threads in
    * the LeaseSuite chaos). A young-but-unreadable lease stays
    * contended until its TTL, then breaks like any crashed holder's. */
  private def readLease(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): Option[String] =
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
        finally in.close()
      }
    } catch { case _: java.io.IOException => None }

  /** One state table: bucketed on `bucketKey`, partitioned by `day`,
    * rows unique on `naturalKey` — the dedup key applied when partitions
    * merge (a day replayed AFTER a compaction re-lands rows its epoch
    * already holds; copies meet whenever their partitions merge). */
  final case class StateTable(name: String, bucketKey: String, naturalKey: Seq[String])

  /** Epoch sentinel partition value: compaction folds settled day
    * partitions into `day < 0` runs, which no real fold day (≥ 0) ever
    * collides with, so fresh-side pruning is untouched. */
  val EpochDay: Int = -1

  /** Re-register a state table whose files survived a JVM restart but
    * whose catalog entry (in-memory only — no Hive metastore anywhere in
    * this engine) did not: rebuild the CREATE TABLE from the on-disk
    * parquet schema with the original bucket spec + partitioning, point
    * it at the surviving warehouse dir, and MSCK the partitions back in.
    * This is what makes the streaming drive's restart contract real
    * across processes, not just across queries in one session. */
  private def registerExisting(s: SparkSession, t: StateTable, warehouse: String,
                               nBuckets: Int): Unit = {
    val path = s"$warehouse/${t.name}"
    val dataCols = s.read.parquet(path).schema.fields
      .filterNot(_.name == "day")
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    // OPTIONS(partitionOverwriteMode 'dynamic'): every later insertInto
    // into this table is a DYNAMIC partition overwrite regardless of the
    // session conf — see the writeDay scaladoc for why this lives in the
    // table metadata and not a conf mutation (the r14 Verify-pool race).
    s.sql(
      s"""CREATE TABLE ${t.name} ($dataCols, day INT)
         |USING PARQUET
         |OPTIONS (partitionOverwriteMode 'dynamic')
         |PARTITIONED BY (day)
         |CLUSTERED BY (${t.bucketKey}) INTO $nBuckets BUCKETS
         |LOCATION '$path'""".stripMargin)
    s.sql(s"MSCK REPAIR TABLE ${t.name}")
  }

  private def bucketsMarker(table: String) = s"$table/_graft_buckets"

  /** The bucket count a surviving table was WRITTEN at (recorded beside
    * the data on create — an underscore file, invisible to Spark's
    * listing). Re-registration must reuse it exactly: a CLUSTERED BY
    * spec that disagrees with the physical file placement would satisfy
    * the exchange-free joins with wrongly-colocated rows. */
  private def writtenBuckets(s: SparkSession, warehouse: String, table: String): Option[Int] =
    readMarker(s, warehouse, bucketsMarker(table)).flatMap(_.trim.toIntOption)

  /** Read-path half of the restart contract: the in-memory catalog dies
    * with the JVM, but the warehouse dirs (and checkpoints) survive — a
    * consumer (serving join, fold merge) touching `s.table` after a
    * restart re-registers from disk here, at the recorded bucket count. */
  def ensureRegistered(s: SparkSession, t: StateTable, warehouse: String): Unit = {
    // read paths must refuse a pre-scoped-marker warehouse too (probing
    // at a different width than the built index zeroes recall silently);
    // cached per warehouse, so steady-state cost is a map lookup
    requireCurrentFormat(s.sparkContext.hadoopConfiguration, warehouse)
    if (!s.catalog.tableExists(t.name)) {
      val dir = new org.apache.hadoop.fs.Path(s"$warehouse/${t.name}")
      if (dir.getFileSystem(s.sparkContext.hadoopConfiguration).exists(dir))
        writtenBuckets(s, warehouse, t.name)
          .foreach(n => registerExisting(s, t, warehouse, n))
    }
  }

  /** Write one day's rows of `t` (the first write into a fresh warehouse
    * creates the table; every later write — INCLUDING a replayed day 0 —
    * is a dynamic overwrite of exactly the `day=N` partitions, so a
    * replay can never destroy later-day or epoch state). A table whose
    * files exist but whose catalog entry was lost to a JVM restart is
    * re-registered first. The input must already carry the `day` column.
    *
    * THREAD SAFETY (VERDICT r14 #1): the dynamic mode is pinned in the
    * TABLE's storage properties (`partitionOverwriteMode=dynamic` at
    * create, both saveAsTable and registerExisting), which Spark's
    * InsertIntoHadoopFsRelationCommand reads per-relation and prefers
    * over the session conf. The previous form — mutate the session-global
    * `spark.sql.sources.partitionOverwriteMode` around each write and
    * restore it in a finally — raced under any multi-threaded driver
    * (Verify's pool, a multi-tenant Spark driver): thread A's restore
    * could flip the conf back to STATIC between thread B's planning and
    * execution, turning B's one-day overwrite into a full-table truncate
    * (the r14 `q_tfidf_del` 0-row failure). A DataFrameWriter option on
    * the insertInto itself does NOT reach the command (probed on Spark
    * 4.1.2 — insertInto takes options from the table relation, not the
    * writer), so the table property is the only thread-confined channel.
    * ConcurrencySuite pins this with simultaneous folds on one session. */
  def writeDay(s: SparkSession, df0: DataFrame, t: StateTable, warehouse: String,
               day: Int, nBuckets: Int): Unit = {
    stampFormat(s, warehouse)
    // repartition on the bucket key FIRST: HashPartitioning(key, n) uses
    // the same Murmur3-pmod as the bucketizer, so each task holds exactly
    // one bucket and the write emits n files — without it every task
    // writes a file per bucket it touches (tasks × buckets tiny files per
    // day: measured 15.2 s vs 0.7 s for the one-shot at sf0.1, almost all
    // of it file open/close)
    val df = df0.repartition(nBuckets, col(t.bucketKey))
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/${t.name}")
    val onDisk = dir.getFileSystem(s.sparkContext.hadoopConfiguration).exists(dir)
    val inCatalog = s.catalog.tableExists(t.name)
    if (!inCatalog && onDisk) registerExisting(s, t, warehouse,
      writtenBuckets(s, warehouse, t.name).getOrElse(nBuckets))
    // schema-drift guard (ADVICE r16 #2's tombstone case): the
    // positional select below would silently DROP an input column the
    // existing table lacks (e.g. writing src_day tombstones into a
    // pre-src_day del table) and the caller's next read would fail far
    // from the cause — refuse at the write instead, with the migration
    // named
    if (inCatalog || onDisk) {
      val missing = df.columns.toSet -- s.table(t.name).columns.toSet
      if (missing.nonEmpty) throw new IllegalStateException(
        s"state table ${t.name} at $warehouse lacks columns ${missing.mkString(", ")} " +
          "that this writer produces — the table was written by an older layout; " +
          "rebuild the warehouse (or migrate the table) before folding into it")
    }
    // commit fence: a holder evicted by a TTL takeover must not land
    // this write over the takeover's (no-op when the calling thread
    // holds no lease here)
    fence(s, warehouse)
    if (!inCatalog && !onDisk) {
      // partitionOverwriteMode lands in the table's storage properties
      // here (create-time writer options persist), making every later
      // insertInto dynamic without touching the session conf
      df.write.mode("overwrite").format("parquet").bucketBy(nBuckets, t.bucketKey)
        .partitionBy("day")
        .option("partitionOverwriteMode", "dynamic")
        .option("path", s"$warehouse/${t.name}").saveAsTable(t.name)
      // record the physical bucket count beside the data: restart
      // re-registration must reuse it exactly (ensureRegistered)
      writeMarker(s, warehouse, bucketsMarker(t.name), nBuckets.toString)
    } else {
      // dynamic overwrite of this day's partition only; align column
      // order to the table schema (insertInto is positional)
      df.select(s.table(t.name).columns.map(col).toIndexedSeq: _*)
        .write.mode("overwrite").insertInto(t.name)
    }
  }

  /** Non-epoch day partitions currently in `table` — the compaction
    * trigger's input. A METADATA-ONLY pass (one file listing through the
    * table's own Hadoop FileSystem, the same listing the A11 compactor
    * does): no rows are read. */
  def deltaDays(s: SparkSession, table: String, warehouse: String): Seq[Int] = {
    val root = new org.apache.hadoop.fs.Path(s"$warehouse/$table")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("day=") => n.drop(4) }
      // defensive parse (matches epochSizes): an unexpected day= dir —
      // e.g. __HIVE_DEFAULT_PARTITION__ from a stray null — must not
      // throw out of every maybeCompact trigger
      .flatMap(_.toIntOption)
      .filter(_ >= 0)
      .sorted
  }

  /** Max parquet files sharing one bucket id in `table` — the
    * file-growth number the lifecycle bounds (again metadata-only). */
  def maxFilesPerBucket(s: SparkSession, table: String, warehouse: String): Int = {
    val root = new org.apache.hadoop.fs.Path(s"$warehouse/$table")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val bucketId = raw"_(\d{5})\.".r
    val counts = scala.collection.mutable.Map[String, Int]()
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet"))
        bucketId.findFirstMatchIn(f.getPath.getName)
          .foreach(m => counts.updateWith(m.group(1))(c => Some(c.getOrElse(0) + 1)))
    }
    if (counts.isEmpty) 0 else counts.values.max
  }

  /** Epoch partitions (day < 0) currently in `table`, with their on-disk
    * bytes — the size-tiering input (metadata-only listing). */
  def epochSizes(s: SparkSession, table: String, warehouse: String): Map[Int, Long] = {
    val root = new org.apache.hadoop.fs.Path(s"$warehouse/$table")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Map.empty
    fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        val n = st.getPath.getName
        if (!n.startsWith("day=")) None
        else n.drop(4).toIntOption.filter(_ < 0).map { d =>
          var bytes = 0L
          val it = fs.listFiles(st.getPath, true)
          while (it.hasNext) { val f = it.next(); if (f.isFile) bytes += f.getLen }
          d -> bytes
        }
      }.toMap
  }

  /** Merge the given day partitions of one state table into a NEW epoch
    * partition, through the BUCKETED write path. Stage →
    * dynamic-overwrite insertInto of day=newEpoch → DROP PARTITION + dir
    * reclaim for the merged inputs. dropDuplicates on the natural key
    * collapses replay copies. A crash mid-merge loses no source data
    * (inputs drop only after the new epoch lands); production object
    * stores would wrap the swap in the ManifestSink
    * commit-before-visibility pattern, like A11. */
  private def mergePartitions(s: SparkSession, warehouse: String, t: StateTable,
                              days0: Seq[Int], newEpoch: Int, nBuckets: Int,
                              transform: DataFrame => DataFrame = identity): Unit = {
    // restart contract, lifecycle side (PurgeChaosSuite found the gap):
    // a purge/compaction may be the FIRST touch of a table after a JVM
    // restart — e.g. purgeDeleted resuming right where a crash between
    // the tombstone write and the purge left off — so the surviving
    // files must be re-registered here like on every read path
    ensureRegistered(s, t, warehouse)
    // group members usually share one partition layout, but a codes
    // re-code (AnnIncr width migration) can legitimately leave a member
    // with fewer partitions than the sizing table — merge only what THIS
    // table actually holds, and never stage/read an empty frame
    val present = (deltaDays(s, t.name, warehouse) ++
      epochSizes(s, t.name, warehouse).keys).toSet
    val days = days0.filter(present)
    if (days.isEmpty) return
    val stage = s"$warehouse/_compact_stage_${t.name}"
    val cols = s.table(t.name).columns
    // fence at each step of stage → swap → drop: an evicted holder must
    // abort BEFORE overwriting the takeover's stage dir, before the
    // swap lands, and before source partitions are dropped
    fence(s, warehouse)
    transform(s.table(t.name).filter(col("day").isin(days.map(Int.box): _*)))
      .withColumn("day", lit(newEpoch))
      .dropDuplicates(t.naturalKey)
      .write.mode("overwrite").parquet(stage)
    // dynamic overwrite of day=newEpoch only — the mode comes from the
    // table's own storage properties (see writeDay's thread-safety note)
    fence(s, warehouse)
    s.read.parquet(stage)
      .repartition(nBuckets, col(t.bucketKey))
      .select(cols.map(col).toIndexedSeq: _*)
      .write.mode("overwrite").insertInto(t.name)
    val fs = new org.apache.hadoop.fs.Path(warehouse)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fence(s, warehouse)
    days.foreach { d =>
      s.sql(s"ALTER TABLE ${t.name} DROP IF EXISTS PARTITION (day=$d)")
      fs.delete(new org.apache.hadoop.fs.Path(s"$warehouse/${t.name}/day=$d"), true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
  }

  /** Merge `days` into `day=newEpoch` across every table of the group
    * (the members' partitions stay aligned so one listing drives all). */
  def mergeAll(s: SparkSession, warehouse: String, tables: Seq[StateTable],
               days: Seq[Int], newEpoch: Int, nBuckets: Int): Unit =
    // the group's tables merge independently (separate stage dirs,
    // separate partitions) — overlap their stage/swap/drop floors (§2.6)
    concurrently(tables.map(t =>
      () => mergePartitions(s, warehouse, t, days, newEpoch, nBuckets)))

  /** FULL merge: every partition (settled days and prior epochs alike)
    * folds into one epoch, one file per bucket. Listings are PER TABLE:
    * the members' partitions are aligned by construction on the fold
    * path, but an AnnIncr re-code leaves the codes table holding only
    * its own epoch — each table must fold what it actually has. */
  def compactAll(s: SparkSession, warehouse: String, tables: Seq[StateTable],
                 nBuckets: Int): Unit =
    compactAllWhere(s, warehouse, tables, nBuckets, _ => identity)

  /** FULL merge with a per-table row transform applied on the way into
    * the new epoch — the DELETE-EPOCH primitive: a retraction purge is
    * exactly a compaction whose transform anti-joins the tombstone set,
    * so physically removing retracted rows costs one state rewrite
    * (O(state), never the raw corpus) and inherits the stage→swap crash
    * ordering (a crash mid-purge leaves a superset; the replay re-runs
    * the same filtered merge). */
  def compactAllWhere(s: SparkSession, warehouse: String, tables: Seq[StateTable],
                      nBuckets: Int,
                      transform: StateTable => DataFrame => DataFrame): Unit =
    // per-table listings + targets are independent too — each branch
    // derives its own epoch id from its own partitions (§2.6 overlap)
    concurrently(tables.map { t => () =>
      val all = deltaDays(s, t.name, warehouse) ++
        epochSizes(s, t.name, warehouse).keys
      val target = math.min(EpochDay, all.minOption.getOrElse(0) - 1)
      mergePartitions(s, warehouse, t, all, target, nBuckets, transform(t))
    })

  /** Daily-cadence lifecycle hook: once the settled day-partition count
    * passes `maxDeltaDays`, merge those days into a fresh epoch run, then
    * SIZE-TIER the epochs (merge the two smallest while they sit within a
    * 2× size band — keeps epoch count logarithmic in corpus/delta and
    * avoids rewriting the big old epoch on every trigger). Returns true
    * when a compaction ran; metadata-only otherwise. */
  def sizeTieredCompact(s: SparkSession, warehouse: String, tables: Seq[StateTable],
                        sizingTable: String, nBuckets: Int, maxDeltaDays: Int): Boolean = {
    val days = deltaDays(s, sizingTable, warehouse)
    if (days.size <= maxDeltaDays) false
    else {
      val newEpoch = math.min(EpochDay,
        epochSizes(s, sizingTable, warehouse).keys.minOption.getOrElse(0) - 1)
      mergeAll(s, warehouse, tables, days, newEpoch, nBuckets)
      var es = epochSizes(s, sizingTable, warehouse).toSeq.sortBy(_._2)
      while (es.size >= 2 && es(1)._2 <= 2L * math.max(es(0)._2, 1L)) {
        val next = math.min(EpochDay, es.map(_._1).min - 1)
        mergeAll(s, warehouse, tables, Seq(es(0)._1, es(1)._1), next, nBuckets)
        es = epochSizes(s, sizingTable, warehouse).toSeq.sortBy(_._2)
      }
      true
    }
  }

  /** Tiny marker file under `warehouse` (the one read/write of every
    * marker: high-water day, day counts, bucket count, format stamp,
    * drive form). Each write goes to its own hidden temp file, which one
    * overwriting rename puts in place: a crash mid-write never leaves a
    * truncated marker, concurrent writers never share a file, and a
    * reader sees the old body or the new one, never no marker. */
  def writeMarker(s: SparkSession, warehouse: String, name: String,
                  body: String): Unit = {
    fence(s, warehouse)
    val p = new org.apache.hadoop.fs.Path(s"$warehouse/$name")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent,
      s".${p.getName}.${java.util.UUID.randomUUID()}.tmp")
    val bytes = body.getBytes("UTF-8")
    (localNioPath(fs, p), localNioPath(fs, tmp)) match {
      case (Some(dst), Some(src)) =>
        // rename(2) replaces atomically. Written without a .crc sidecar
        // (read back unverified, like a lease); a sidecar an older
        // checksummed write left goes first, so no reader pairs it with
        // the new body
        java.nio.file.Files.createDirectories(src.getParent)
        java.nio.file.Files.write(src, bytes)
        java.nio.file.Files.deleteIfExists(dst.resolveSibling(s".${p.getName}.crc"))
        java.nio.file.Files.move(src, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      case _ =>
        val out = fs.create(tmp, false)
        try out.write(bytes) finally out.close()
        org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, s.sparkContext.hadoopConfiguration)
          .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  def readMarker(s: SparkSession, warehouse: String, name: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$warehouse/$name")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  /** Per-day row-count marker (lines of "day count"): the corpus size a
    * fold already knows, maintained in O(days) marker bytes + one count
    * of the fresh partition — never a corpus-wide listing or scan, so
    * size-derived policies (ANN width, TF-IDF n_docs) stay slice-shaped
    * at 100 TB. Keyed by day, so a replayed day overwrites its own entry
    * (idempotent) and compaction — which only moves rows between
    * partitions — never touches it. */
  def readDayCounts(s: SparkSession, warehouse: String, name: String): Map[Int, Long] =
    readMarker(s, warehouse, name).map(_.linesIterator.flatMap { l =>
      l.trim.split(' ') match {
        case Array(d, c) => for (di <- d.toIntOption; ci <- c.toLongOption) yield di -> ci
        case _ => None
      }
    }.toMap).getOrElse(Map.empty)

  def writeDayCounts(s: SparkSession, warehouse: String, name: String,
                     counts: Map[Int, Long]): Unit =
    writeMarker(s, warehouse, name,
      counts.toSeq.sorted.map { case (d, c) => s"$d $c" }.mkString("\n"))

  /** The high-water marker is PER PREFIX on a shared warehouse (round
    * 16, surfaced by the multi-member day driver): members fold on
    * independent day timelines (the doc inbox may be at day 7 while the
    * events inbox is at day 1), so one warehouse-global `_last_day`
    * would hand member B member A's high water as ITS restart fallback. */
  private def lastDayName(scope: String) = s"_last_day.$scope"

  /** High-water marker: compaction folds day partitions into the epoch,
    * so the partition layout alone cannot answer "what was the last
    * fold?" after a quiet restart — a one-line marker can (idempotent: a
    * replayed day N only ever rewrites the same or a lower value).
    * Written through `writeMarker` (temp-file + rename) so a crash
    * mid-write never leaves a truncated marker in place — the recovery
    * aid must itself survive crashes; the delete→rename window can at
    * worst make the marker briefly ABSENT, which reads as -1 and is
    * repaired by the next fold's write (monotonicity keeps that safe). */
  def writeLastDay(s: SparkSession, warehouse: String, day: Int, scope: String): Unit =
    if (day >= lastDay(s, warehouse, scope))
      writeMarker(s, warehouse, lastDayName(scope), day.toString)

  /** Highest day ever folded into this warehouse by `scope`'s member;
    * -1 when none (or when the marker is unreadable —
    * parse defensively: the marker exists to aid recovery, so a corrupt
    * one must degrade, never throw). */
  def lastDay(s: SparkSession, warehouse: String, scope: String): Int =
    readMarker(s, warehouse, lastDayName(scope)).flatMap(_.trim.toIntOption).getOrElse(-1)

  /** Per-run state root, removed on JVM exit (results are read lazily
    * from parquet, so cleanup must not race the consumer). */
  lazy val stateRoot: java.nio.file.Path = tempRoot("graft_incr_state_")

  def newWarehouse(): String =
    stateRoot.resolve(java.util.UUID.randomUUID().toString).toString

  /** A unique table prefix `<stem><hex>`. */
  def freshPrefix(stem: String): String =
    stem + java.lang.Long.toHexString(graft.U.h64Local(java.util.UUID.randomUUID().toString))

  /** A fresh temp directory `<stem>…`, deleted with its contents on JVM exit. */
  def tempRoot(stem: String): java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory(stem)
    sys.addShutdownHook(deleteTree(root))
    root
  }

  /** Delete `p` and everything under it; a missing `p` is a no-op. */
  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally s.close()
    }
}
