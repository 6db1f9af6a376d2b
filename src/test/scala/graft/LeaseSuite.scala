package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** VERDICT r15 #1: the single-writer-per-prefix contract at the
  * CROSS-PROCESS plane. The r14 race was one session racing itself
  * through a shared conf; this suite proves the next level up — two
  * drivers (sessions, threads, or whole JVMs) folding/compacting the
  * same state prefix serialize through the `_lease.<prefix>` file, the
  * loser fails LOUDLY ([[ops.IncrState.LeaseContendedException]]), and
  * an interleaved fold+compact run under retry lands byte-identical
  * state to the serialized run. */
class LeaseSuite extends SparkSpec {

  private val IS = ops.IncrState
  private def hconf = spark.sparkContext.hadoopConfiguration

  test("lease contention fails loudly; release unblocks; reentrant for the holder") {
    val wh = IS.newWarehouse()
    val token = IS.acquireLease(hconf, wh, "p1")
    // a second writer (any thread, any process) contends LOUDLY
    val e = intercept[IS.LeaseContendedException] {
      IS.acquireLease(hconf, wh, "p1")
    }
    assert(e.getMessage.contains("p1") && e.getMessage.contains("leased by"),
      s"contention message must name the prefix and holder: ${e.getMessage}")
    // …but the HOLDING thread re-enters freely (a member op calling a
    // sibling leased op of the same prefix must not self-deadlock)…
    // (withLease sees no thread-local hold for a raw acquireLease, so
    // prove reentrancy on withLease proper after releasing)
    IS.releaseLease(hconf, wh, "p1", token)
    var reached = 0
    IS.withLease(spark, wh, "p1") {
      IS.withLease(spark, wh, "p1") { reached += 1 }
      reached += 1
    }
    assert(reached == 2)
    // and after release the lease file is gone — next writer acquires
    val t2 = IS.acquireLease(hconf, wh, "p1")
    IS.releaseLease(hconf, wh, "p1", t2)
  }

  test("leases are PER PREFIX: two members of one warehouse never contend") {
    val wh = IS.newWarehouse()
    val tokenA = IS.acquireLease(hconf, wh, "member_a")
    // a different prefix on the SAME warehouse acquires freely — the
    // multi-member day driver runs members side by side
    val tokenB = IS.acquireLease(hconf, wh, "member_b")
    IS.releaseLease(hconf, wh, "member_a", tokenA)
    IS.releaseLease(hconf, wh, "member_b", tokenB)
  }

  test("a crashed holder's stale lease is broken after the TTL") {
    val wh = IS.newWarehouse()
    val orphan = IS.acquireLease(hconf, wh, "p2") // holder "crashes": never releases
    // age the lease file past the TTL (the crash happened long ago)
    val p = new org.apache.hadoop.fs.Path(s"$wh/_lease.p2")
    val fs = p.getFileSystem(hconf)
    fs.setTimes(p, System.currentTimeMillis() - IS.DefaultLeaseTtlMs - 1000, -1)
    val token = IS.acquireLease(hconf, wh, "p2") // breaks the stale lease
    // the old holder's release must NOT delete the new holder's lease
    IS.releaseLease(hconf, wh, "p2", orphan)
    assert(fs.exists(p), "old holder's release deleted a taken-over lease")
    IS.releaseLease(hconf, wh, "p2", token)
    assert(!fs.exists(p))
  }

  test("a failing leased op releases the lease (no wedged warehouse)") {
    val wh = IS.newWarehouse()
    intercept[RuntimeException] {
      IS.withLease(spark, wh, "p3") { throw new RuntimeException("fold blew up") }
    }
    // the finally released it — next writer proceeds
    IS.withLease(spark, wh, "p3") { () }
  }

  test("cross-JVM: a second PROCESS contends and fails loudly, then succeeds") {
    // the lease protocol is filesystem-only, so a bare java child (no
    // Spark boot) exercises the genuine cross-process plane the verdict
    // asks for — two drivers on one warehouse
    val wh = IS.newWarehouse()
    val java = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    def probe(): (Int, String) = {
      val pb = new ProcessBuilder(java, "-cp", cp, "graft.LeaseCli",
        "acquire-release", wh, "p4")
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      val code = proc.waitFor()
      (code, out)
    }
    val token = IS.acquireLease(hconf, wh, "p4")
    val (codeHeld, outHeld) = probe()
    assert(codeHeld == 3, s"child must exit 3 (contended) while lease held: $codeHeld\n$outHeld")
    assert(outHeld.contains("CONTENDED"), outHeld)
    IS.releaseLease(hconf, wh, "p4", token)
    val (codeFree, outFree) = probe()
    assert(codeFree == 0, s"child must acquire after release: $codeFree\n$outFree")
    assert(outFree.contains("ACQUIRED"), outFree)
  }

  test("two sessions interleaving fold+compact on one prefix == serialized run") {
    // the verdict's chaos shape: writer A (session A) folds days while
    // writer B (an isolated newSession, its own SessionState/conf)
    // fires compactions into the SAME prefix. The lease serializes
    // them — B observes at least one LOUD contention (deterministic:
    // A parks inside its first leased fold until B has seen one) — and
    // the final report equals the serialized run's exactly.
    val docs = Tables.documents(spark, sfDir)
    val days = 4
    def slices(d: Int): DataFrame =
      docs.filter(pmod(col("doc_id"), lit(days.toLong)) === d)

    // serialized reference: fold 0..3, compact after each odd day
    val whS = IS.newWarehouse()
    (0 until days).foreach { d =>
      ops.DomainsIncr.runDay(spark, slices(d), "lease_chaos", whS, d, nBuckets = 4)
      if (d % 2 == 1) ops.DomainsIncr.compactState(spark, "lease_chaos", whS, nBuckets = 4)
    }
    val expected = canon(ops.DomainsIncr.report(spark, "lease_chaos", whS))
    ops.DomainsIncr.dropState(spark, "lease_chaos")
    assert(expected.nonEmpty, "chaos corpus is vacuous")

    val whC = IS.newWarehouse()
    val sessionB = spark.newSession()
    val contentions = new java.util.concurrent.atomic.AtomicInteger(0)
    val bSawContention = new java.util.concurrent.CountDownLatch(1)
    @volatile var firstFoldHolding = false

    def retry[T](body: => T): T = {
      var out: Option[T] = None
      while (out.isEmpty) {
        try out = Some(body)
        catch { case _: IS.LeaseContendedException =>
          contentions.incrementAndGet(); bSawContention.countDown(); Thread.sleep(50) }
      }
      out.get
    }

    val a = new Thread(() => {
      (0 until days).foreach { d =>
        retry {
          IS.withLease(spark, whC, "lease_chaos") {
            ops.DomainsIncr.runDay(spark, slices(d), "lease_chaos", whC, d, nBuckets = 4)
            if (d == 0) {
              // park INSIDE the lease until B has contended once — makes
              // the loud-failure observation deterministic, not timing luck
              firstFoldHolding = true
              bSawContention.await(30, java.util.concurrent.TimeUnit.SECONDS)
            }
          }
        }
      }
    })
    val b = new Thread(() => {
      // B hammers compactions from its own session while A folds
      var rounds = 0
      while (rounds < 6) {
        while (!firstFoldHolding && rounds == 0) Thread.sleep(5)
        retry {
          ops.DomainsIncr.compactState(sessionB, "lease_chaos", whC, nBuckets = 4)
        }
        rounds += 1
      }
    })
    a.start(); b.start(); a.join(120000); b.join(120000)
    assert(!a.isAlive && !b.isAlive, "chaos writers wedged")
    assert(contentions.get() >= 1,
      "interleaved writers never contended — the chaos proved nothing")
    val got = canon(ops.DomainsIncr.report(spark, "lease_chaos", whC))
    assert(got == expected,
      s"interleaved fold+compact diverged from serialized run: ${got.size} vs ${expected.size} rows")
    ops.DomainsIncr.dropState(spark, "lease_chaos")
  }

  test("heartbeat: a LIVE holder outlasting the TTL is NOT evicted (VERDICT r16 #1a)") {
    // the r16 defect: the lease mtime was written once at acquire, so a
    // fold longer than the TTL looked crashed and got broken. The
    // heartbeat (ttl/3) keeps a live holder's lease fresh indefinitely —
    // a contender must stay contended for as long as the holder runs.
    val wh = IS.newWarehouse()
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var holderErr: Option[Throwable] = None
    val holder = new Thread(() => {
      try IS.withLease(spark, wh, "hb", ttlMs = 600) {
        entered.countDown()
        release.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
      } catch { case t: Throwable => holderErr = Some(t) }
    })
    holder.start()
    assert(entered.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // run 2.5 TTLs past acquire: without the heartbeat this lease would
    // be stale and breakable; with it, every probe must stay contended
    Thread.sleep(1500)
    intercept[IS.LeaseContendedException] {
      IS.acquireLease(hconf, wh, "hb", ttlMs = 600)
    }
    release.countDown(); holder.join(30000)
    assert(!holder.isAlive && holderErr.isEmpty, s"holder failed: $holderErr")
    // after the holder releases, the next writer acquires freely
    val t = IS.acquireLease(hconf, wh, "hb", ttlMs = 600)
    IS.releaseLease(hconf, wh, "hb", t)
  }

  test("fence: a holder evicted mid-fold cannot commit; state equals the taker-only run (VERDICT r16 #1b/#1c)") {
    import org.apache.spark.sql.functions.pmod
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    def slice(d: Int) = docs.filter(pmod($"doc_id", lit(3L)) === d)
    val prefix = ops.IncrState.freshPrefix("evict_")
    val wh = IS.newWarehouse()
    // expected end state: holder's day 0 + taker's day 1 — the evicted
    // holder's day-2 attempt must land NOTHING
    val whE = IS.newWarehouse()
    val pE = ops.IncrState.freshPrefix("evict_e_")
    (0 to 1).foreach(d => ops.DomainsIncr.runDay(spark, slice(d), pE, whE, d, nBuckets = 4))
    val expected = canon(ops.DomainsIncr.report(spark, pE, whE))

    val holderParked = new java.util.concurrent.CountDownLatch(1)
    val takerDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var commitRefused: Option[Throwable] = None
    @volatile var holderErr: Option[Throwable] = None
    val holder = new Thread(() => {
      try {
        // heartbeatMs = -1 simulates a STUCK holder (GC pause / FS
        // partition longer than the TTL): alive, but invisible
        IS.withLease(spark, wh, prefix, ttlMs = 800, heartbeatMs = -1) {
          ops.DomainsIncr.runDay(spark, slice(0), prefix, wh, 0, nBuckets = 4)
          holderParked.countDown()
          takerDone.await(60, java.util.concurrent.TimeUnit.SECONDS)
          // evicted while parked: every commit point must now REFUSE
          try { ops.DomainsIncr.runDay(spark, slice(2), prefix, wh, 2, nBuckets = 4); () }
          catch { case e: IS.LeaseContendedException => commitRefused = Some(e) }
        }
      } catch { case t: Throwable => holderErr = Some(t) }
    })
    holder.start()
    assert(holderParked.await(60, java.util.concurrent.TimeUnit.SECONDS))
    Thread.sleep(900) // let the (un-heartbeated) lease age past its TTL
    // the taker breaks the stale lease and folds its own day
    IS.withLease(spark, wh, prefix, ttlMs = 800) {
      ops.DomainsIncr.runDay(spark, slice(1), prefix, wh, 1, nBuckets = 4)
    }
    takerDone.countDown(); holder.join(60000)
    assert(!holder.isAlive, "evicted holder wedged")
    assert(holderErr.isEmpty, s"holder thread blew up outside the fence: $holderErr")
    assert(commitRefused.isDefined,
      "the evicted holder's commit was NOT refused — two-writer interleave readmitted")
    assert(canon(ops.DomainsIncr.report(spark, prefix, wh)) == expected,
      "state diverged from the taker-only run — the evicted holder landed bytes")
    ops.DomainsIncr.dropState(spark, prefix)
    ops.DomainsIncr.dropState(spark, pE)
  }

  test("withLeaseRetry: bounded rethrow under a held lease; acquires once freed (VERDICT r16 #5)") {
    val wh = IS.newWarehouse()
    val tok = IS.acquireLease(hconf, wh, "retry")
    val t0 = System.nanoTime()
    intercept[IS.LeaseContendedException] {
      IS.withLeaseRetry(spark, wh, "retry", attempts = 3, baseBackoffMs = 10) {
        fail("body must not run under a held lease")
      }
    }
    assert((System.nanoTime() - t0) / 1e6 < 5000, "retry loop ran far past its bound")
    // release mid-retry: the helper lands the body without caller loops
    val releaser = new Thread(() => {
      Thread.sleep(120); IS.releaseLease(hconf, wh, "retry", tok)
    })
    releaser.start()
    @volatile var ran = false
    IS.withLeaseRetry(spark, wh, "retry", attempts = 100, baseBackoffMs = 20) { ran = true }
    releaser.join()
    assert(ran)
  }

  test("mutual exclusion chaos: 8 threads x 15 leased sections, max concurrency is 1") {
    val wh = IS.newWarehouse()
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map(_ => new Thread(() => {
      try (0 until 15).foreach { _ =>
        IS.withLeaseRetry(spark, wh, "mx", attempts = 10000, baseBackoffMs = 5,
          ttlMs = 60000) {
          val a = active.incrementAndGet()
          maxSeen.updateAndGet(m => math.max(m, a))
          Thread.sleep(2)
          active.decrementAndGet(); ()
        }
        done.incrementAndGet(); ()
      } catch { case t: Throwable => errs.add(t); () }
    }))
    threads.foreach(_.start()); threads.foreach(_.join(180000))
    assert(threads.forall(!_.isAlive), "chaos threads wedged")
    assert(errs.isEmpty, s"chaos thread failed: ${errs.peek()}")
    assert(done.get() == 120, s"only ${done.get()}/120 sections completed")
    assert(maxSeen.get() == 1,
      s"TWO writers inside the leased section at once (max ${maxSeen.get()})")
  }

  test("stale-break race (ADVICE r16): many breakers on one crashed lease admit at most one concurrent holder") {
    // the r16 delete-then-create window: breaker A reads a stale lease,
    // breaker B breaks it and creates a FRESH one, laggard A deletes
    // B's fresh lease — two live writers. The fix re-checks token+mtime
    // immediately before the delete and re-verifies ownership after a
    // settle beat. 30 rounds x 6 racing breakers; concurrency inside
    // the held section must never exceed 1.
    val wh = IS.newWarehouse()
    val p = new org.apache.hadoop.fs.Path(s"$wh/_lease.br")
    val fs = p.getFileSystem(hconf)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    var totalWins = 0
    (0 until 30).foreach { _ =>
      // plant a crashed holder's stale lease (a previous round may have
      // ended with an unowned fresh file — every breaker lost the
      // create race — which is exactly a crashed holder once aged)
      if (!fs.exists(p)) IS.acquireLease(hconf, wh, "br")
      fs.setTimes(p, System.currentTimeMillis() - IS.DefaultLeaseTtlMs - 60000, -1)
      val active = new java.util.concurrent.atomic.AtomicInteger(0)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val go = new java.util.concurrent.CountDownLatch(1)
      val threads = (0 until 6).map(_ => new Thread(() => {
        go.await()
        try {
          val tok = IS.acquireLease(hconf, wh, "br")
          val a = active.incrementAndGet()
          maxSeen.updateAndGet(m => math.max(m, a))
          wins.incrementAndGet()
          Thread.sleep(20)
          active.decrementAndGet()
          IS.releaseLease(hconf, wh, "br", tok)
        } catch { case _: IS.LeaseContendedException => () }
      }))
      threads.foreach(_.start()); go.countDown(); threads.foreach(_.join(30000))
      assert(threads.forall(!_.isAlive), "breaker threads wedged")
      totalWins += wins.get()
    }
    assert(maxSeen.get() <= 1,
      s"a laggard breaker deleted a fresh lease — ${maxSeen.get()} concurrent holders")
    assert(totalWins >= 1, "no breaker ever won — the chaos proved nothing")
  }

  test("concurrently: lease holds propagate to workers (fence guards), failures rethrow (round 17)") {
    val wh = IS.newWarehouse()
    val prefix = ops.IncrState.freshPrefix("conc_")
    // inside a leased section, a worker thread spawned by `concurrently`
    // must see the hold: fence() passes while the lease is ours, and
    // ABORTS in the worker once the lease file is usurped — the §2.6
    // overlap must not silently drop the commit fence
    IS.withLease(spark, wh, prefix, heartbeatMs = -1L) {
      var fencedOk = false
      IS.concurrently(Seq(() => { IS.fence(spark, wh); fencedOk = true }))
      assert(fencedOk, "fence threw for a healthy hold inside a worker")
      // usurp the lease file, then the worker's fence must abort
      val p = new org.apache.hadoop.fs.Path(s"$wh/_lease.$prefix")
      val fs = p.getFileSystem(hconf)
      val out = fs.create(p, true)
      try out.write("usurper".getBytes("UTF-8")) finally out.close()
      val e = intercept[IS.LeaseContendedException] {
        IS.concurrently(Seq(
          () => Thread.sleep(10), // a healthy sibling still settles
          () => IS.fence(spark, wh)))
      }
      assert(e.getMessage.contains(prefix), e.getMessage)
    }
    // outside any lease a worker holds nothing: fence is a no-op there
    var ran = 0
    IS.concurrently(Seq(() => { IS.fence(spark, wh); ran += 1 }))
    assert(ran == 1)
    // first failure rethrows after ALL branches settle
    val settled = new java.util.concurrent.atomic.AtomicInteger()
    val boom = intercept[RuntimeException] {
      IS.concurrently(Seq(
        () => { Thread.sleep(30); settled.incrementAndGet(); () },
        () => throw new RuntimeException("branch boom")))
    }
    assert(boom.getMessage == "branch boom")
    assert(settled.get() == 1, "concurrently returned before all branches settled")
  }

  test("marker writes: concurrent writers of one marker never collide; a reader always finds it") {
    val wh = IS.newWarehouse()
    // a table-scoped marker (the bucket-count marker's shape) whose
    // directory the first write creates
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val seen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
    val misses = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      try while (writing.get()) IS.readMarker(spark, wh, "tbl/_m") match {
        case Some(body) => seen.set(true); assert(body.startsWith("w"), body)
        case None => if (seen.get()) misses.incrementAndGet()
      } catch { case t: Throwable => errs.add(t); () }
    })
    val writers = (0 until 4).map(w => new Thread(() => {
      try (0 until 200).foreach(i => IS.writeMarker(spark, wh, "tbl/_m", s"w$w-$i"))
      catch { case t: Throwable => errs.add(t); () }
    }))
    reader.start(); writers.foreach(_.start())
    writers.foreach(_.join(120000)); writing.set(false); reader.join(120000)
    assert(errs.isEmpty, s"marker write or read failed: ${errs.peek()}")
    assert(misses.get() == 0, s"a reader found no marker ${misses.get()} times after the first write")
    assert(IS.readMarker(spark, wh, "tbl/_m").exists(_.startsWith("w")))
    val left = new java.io.File(s"$wh/tbl").list().filter(_.endsWith(".tmp"))
    assert(left.isEmpty, s"temp files left behind: ${left.toSeq}")
  }
}
