package graft

/** Driver-run benchmark: every SparkEntry query at SPARK_GRAFT_SF_DIR,
  * fully materialized (noop sink — sorts, projections and row rendering
  * all execute, unlike a bare count() which lets Catalyst prune them).
  * Emits ONE compact JSON line (3-decimal seconds so the line survives
  * the driver's capture buffer) and mirrors it to bench_out.json.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // diagnostic subsetting: SPARK_GRAFT_ONLY=q_a,q_b times just those
    // queries in this JVM — isolates a query's cost from suite-order
    // interference (GC pressure, leaked persists) when a number regresses
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // Wait-for-quiet capture start (VERDICT r9 #4): rounds 7-9 each had
    // to re-measure 3-12 false offenders by hand because the capture
    // BEGAN inside a contention window (ambient load amplifying the
    // fixed cost of every sub-second query 2-6×). Gate the start
    // instead of reconciling afterwards: poll /proc/loadavg and begin
    // only once the 1-minute load drops under half the cores, bounded
    // at 3 minutes of waiting — then proceed LOUDLY either way (a
    // degraded window still shows in the window health fields; the
    // driver's capture must never hang on a busy host). Overridable for
    // diagnostics via SPARK_GRAFT_NO_WAIT=1.
    val cores0 = Runtime.getRuntime.availableProcessors.toDouble
    val preWaitLoad = loadAvg()
    var waitedSec = 0
    if (!sys.env.contains("SPARK_GRAFT_NO_WAIT")) {
      val quietBar = 0.5 * cores0
      while (waitedSec < 180 && loadAvg().headOption.exists(_ > quietBar)) {
        Thread.sleep(5000); waitedSec += 5
      }
      if (loadAvg().headOption.exists(_ > quietBar))
        System.err.println(s"BENCH WARN: starting into a busy window after ${waitedSec}s wait " +
          s"(loadavg ${loadAvg().mkString("/")} on $cores0 cores) — expect fixed-cost inflation")
    }
    val spark = Session.local(Session.cpus(32))
    val loadStart = loadAvg()
    val wallStart = System.nanoTime()
    spark.range(1000).selectExpr("sum(id)").collect() // session/scheduler warm-up
    // The layered record of each query's steady-state run (Recorder):
    // totals, driver time, and per action its Catalyst phases, jobs, gap
    // and exchanges. Bytes through the shuffle, not seconds, say whether
    // a plan survives a 100x scale-up. Advisory detail (bench_out.json
    // only), not a gate.
    val records = scala.collection.mutable.LinkedHashMap[String, Recorder.Recorded[Double]]()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    def timeOnce(name: String, fn: Q): Double =
      try Recorder.materialize(fn(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0 // a crashed query must not read as a fast passing one
      }
    // Two timed runs per query, report the min: run 1 pays codegen +
    // JIT + shuffle-file warm-up, so single-shot numbers carry ±15%
    // jitter that swamps round-over-round comparison (VERDICT r3 #8).
    // min-of-2 is the steady-state number a long-running cluster job
    // actually sees. When the two runs disagree by more than 1.5× a
    // THIRD run settles it (VERDICT r10 #7): one of the two was an
    // outlier (ambient load spike, GC pause), and the capture's
    // run-spread statistics should reflect the steady state — spread is
    // computed from the two FASTEST runs, so a settled outlier no
    // longer inflates run_spread_median. All raw timings are kept
    // (bench_out.json "raw", in run order) so a regressed min is
    // diagnosable after the fact.
    val raw = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    selected.foreach { case (name, fn) =>
      val t1 = timeOnce(name, fn)
      // steady-state record: run 2 only (run 1 also warms shuffle files)
      val run2 = Recorder.during(spark)(if (t1 < 0) -1.0 else timeOnce(name, fn))
      val t2 = run2.result
      records += name -> run2
      val t3 =
        if (t1 > 0 && t2 > 0 && math.max(t1, t2) / math.min(t1, t2) > 1.5)
          Some(timeOnce(name, fn))
        else None
      raw += name -> (Seq(t1, t2) ++ t3)
      // Release every block the query persisted and left behind (dedup
      // shingle sets, CC round pins): across 106 queries × 2 runs the
      // leaked blocks compounded into multi-second slowdowns of UNRELATED
      // late-running queries in the r4 capture (q_win_first_last 0.9 s
      // isolated vs 7.2 s in-suite). Sequential runner, so this is safe.
      Recorder.release(spark)
      val t = if (t1 < 0 || t2 < 0) { failed += name; -1.0 }
      else (Seq(t1, t2) ++ t3.filter(_ >= 0)).min
      results += name -> t
    }
    // Capture-window spread, computed BEFORE gating so a contended
    // window can trigger the fresh-JVM re-measure pass below — spread =
    // ratio of the two FASTEST runs (a settled third-run outlier drops
    // out), the steady-state disagreement measure
    val spreads = raw.values.flatMap { ts =>
      val ok = ts.filter(_ > 0).sorted
      if (ok.size >= 2) Some(ok(1) / ok(0)) else None
    }.toSeq.sorted
    def pct(p: Double): Double =
      if (spreads.isEmpty) 0.0
      else spreads(math.min(spreads.size - 1, (p * spreads.size).toInt))
    val base = loadBaseline()
    // Contended-window quiet re-measure (VERDICT r13 #2): BENCH_r13's
    // committed capture read 1.175× while the same code measured 1.024×
    // quiet — pure window noise that cost a verdict section of
    // forensics. When the capture's run-spread p90 exceeds ~1.3 (a fat
    // tail = ambient contention inflating fixed costs), the largest
    // per-query regressors vs baseline re-measure in FRESH JVMs (each
    // child is a SPARK_GRAFT_ONLY diagnostic run that itself waits for
    // a quiet window) and their quiet minima substitute into the
    // committed numbers, LABELED in the bench line
    // ("quiet_remeasured") so the capture of record stops requiring
    // after-the-fact reconciliation. Bounded: at most 5 children, only
    // queries over 1.3× their baseline, 300 s each.
    val quietRemeasured = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (only.isEmpty && pct(0.9) > 1.3 && base.nonEmpty &&
        !sys.env.contains("SPARK_GRAFT_NO_REMEASURE")) {
      val targets = quietRemeasureTargets(results.toMap, base)
      if (targets.nonEmpty)
        System.err.println(s"BENCH WARN: contended window (run-spread p90 " +
          s"${String.format(java.util.Locale.ROOT, "%.3f", Double.box(pct(0.9)))}) — " +
          s"re-measuring ${targets.mkString(", ")} in fresh JVMs")
      targets.foreach { n =>
        freshJvmTime(n, sfDir).foreach { q =>
          quietRemeasured += n -> q
          if (q < results(n)) results(n) = q
        }
      }
    }
    // Per-query gate vs the committed baseline: the r5 total-only gate let
    // a 3.6x single-query regression hide behind 20 new fast queries. Any
    // query whose min-of-2 exceeds 2x its baseline is RE-MEASURED with
    // three clean runs after a block release — suite-order interference
    // (leaked persists, GC pressure) is the dominant false-positive source
    // at this scale — and fails the gate only if the best of all runs is
    // still over. Queries absent from the baseline (added since the last
    // rebaseline, see tools/rebaseline.py) are exempt until re-committed.
    val gateRatio = scala.collection.mutable.LinkedHashMap[String, Double]()
    val suspectWindow = scala.collection.mutable.LinkedHashMap[String, Double]()
    val rerunCrashed = scala.collection.mutable.LinkedHashSet[String]()
    def r3b(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    results.toSeq.foreach { case (name, t) =>
      if (t >= 0 && base.contains(name) && t > gateThreshold(base(name))) {
        Recorder.release(spark)
        val reruns = (1 to 3).map(_ => timeOnce(name, selected(name)))
        Recorder.release(spark)
        // a crash during gate re-measurement must stay visible: the query
        // PASSED its two timed runs, so it isn't `failed`, but silently
        // gating on the original timing would hide the flake
        if (reruns.exists(_ < 0)) {
          rerunCrashed += name
          System.err.println(s"BENCH WARN: $name crashed during gate re-measurement " +
            s"(${reruns.count(_ < 0)}/3 reruns failed)")
        }
        val best = (t +: reruns.filter(_ >= 0)).min
        results(name) = best
        if (best > gateThreshold(base(name))) {
          // window-aware leniency for the one class the r7-r9 history
          // shows flaking (ADVICE r9): a sub-0.25 s baseline whose
          // re-measure ALSO ran under heavy ambient load (1-min load >
          // cores) is fixed-cost amplification until a quiet window
          // says otherwise — record it as a suspect, not an offender.
          // Everything else (real baselines, or a quiet host) gates
          // exactly as before.
          val loadNow = loadAvg().headOption.getOrElse(0.0)
          if (base(name) < 0.25 && loadNow > cores0) {
            suspectWindow += name -> (best / base(name))
            System.err.println(s"BENCH WARN: $name over gate (${r3b(best)}s vs " +
              s"${r3b(base(name))}s baseline) but host is contended " +
              s"(loadavg $loadNow on $cores0 cores) — recorded as window-suspect, re-measure quiet")
          } else gateRatio += name -> best / base(name)
        }
      }
    }
    // Suspect escalation (ADVICE r10 #5): window-suspect leniency must
    // not become a permanent hiding place — on a chronically loaded
    // host the same genuinely-regressed query would land in
    // gate_suspect_window capture after capture and never fail the
    // gate. Persist per-query consecutive-suspect counts across FULL
    // captures (diagnostic SPARK_GRAFT_ONLY runs neither read nor
    // write the history); a query suspect in TWO consecutive captures
    // escalates to a real offender — a contended window does not
    // plausibly explain the same sub-second query twice in a row.
    val histFile = atRoot("tools/bench_suspect_history.json")
    if (only.isEmpty) {
      val prev: Map[String, Int] =
        try {
          val node = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(java.nio.file.Files.readString(histFile))
          val m = scala.collection.mutable.Map[String, Int]()
          node.fieldNames().forEachRemaining(k => m += k -> node.get(k).asInt())
          m.toMap
        } catch { case _: Throwable => Map.empty }
      val (escalated, next) = escalateSuspects(prev, suspectWindow.keySet.toSet)
      escalated.foreach { q =>
        gateRatio += q -> suspectWindow(q)
        System.err.println(s"BENCH WARN: $q escalated from window-suspect to offender " +
          s"(suspect in ${prev(q) + 1} consecutive captures — contention does not explain a repeat)")
      }
      gateRatio.keys.foreach(suspectWindow -= _)
      try java.nio.file.Files.writeString(histFile,
        next.map { case (k, v) => s"\"$k\": $v" }.mkString("{", ", ", "}"))
      catch { case _: Throwable => () }
    }
    val perQueryGate =
      if (base.isEmpty) "no_baseline" else if (gateRatio.isEmpty) "pass" else "fail"
    // explicit locale: a comma-decimal default (de_DE etc.) would emit
    // 32,765 and break the JSON line
    def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val rawJson = raw.map { case (k, ts) => s"\"" + k + "\":" + ts.map(r3).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // bench-vs-baseline gate: tools/baseline_bench.json is the committed
    // per-query snapshot of the round-4 driver capture (84.7 s total,
    // sf0.1, local[32], min-of-2). The ratio compares ONLY queries present
    // in both runs, so adding new queries in later rounds can't inflate it.
    val ratioField = baselineRatio(results)
      .map(r => s""","bench_vs_baseline":${r3(r)},"baseline_file":"tools/baseline_bench.json"""")
      .getOrElse("") + mergeHistoryField()
    // per-query [shuffle_read_mb, shuffle_write_mb, spill_mb] of the
    // steady-state run — the scale-extrapolation evidence
    def mb(v: Long): String = r3(v / 1048576.0)
    val shufJson = records.map { case (k, r) =>
      s"\"" + k + "\":[" + mb(r.shuffleReadBytes) + "," + mb(r.shuffleWriteBytes) + "," +
        mb(r.spillBytes) + "]"
    }.mkString("{", ",", "}")
    val recordsJson = records.map { case (k, r) => s"\"" + k + "\":" + r.json }
      .mkString("{", ",", "}")
    val offendersJson = gateRatio.map { case (k, r) => s"\"" + k + "\":" + r3(r) }
      .mkString("{", ",", "}")
    val suspectJson = suspectWindow.map { case (k, r) => s"\"" + k + "\":" + r3(r) }
      .mkString("{", ",", "}")
    val quietJson = quietRemeasured.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val gateField =
      s""","per_query_gate":"$perQueryGate","gate_offenders":$offendersJson""" +
      s""","gate_suspect_window":$suspectJson,"quiet_remeasured":$quietJson""" +
      rerunWarnField(rerunCrashed.toSeq)
    // surface the committed scale-probe evidence (graft.ScaleProbe at
    // sf0.1×10) alongside the sf0.1 numbers: worst growth ratio across
    // the probed plans + total spill at 10× — the scale-extrapolation
    // summary a reviewer needs without opening the artifact
    val probeField = try {
      val p = atRoot("scale_probe.json")
      if (java.nio.file.Files.exists(p)) {
        val txt = java.nio.file.Files.readString(p)
        val ratios = """"ratio":([0-9.]+)""".r.findAllMatchIn(txt).map(_.group(1).toDouble).toSeq
        val spills = """"spill_mb_[0-9]+x":([0-9.]+)""".r.findAllMatchIn(txt).map(_.group(1).toDouble).toSeq
        if (ratios.nonEmpty)
          s""","scale_probe":{"file":"scale_probe.json","queries":${ratios.size},"worst_ratio":${r3(ratios.max)},"spill_mb":${r3(spills.sum)}}"""
        else ""
      } else ""
    } catch { case _: Throwable => "" }
    // Capture-window health (VERDICT r8 #4): the r7/r8 bench
    // reconciliation had to infer host contention AFTER the fact from
    // re-runs on a quieter window. Record the evidence at capture time
    // instead: host load averages before/after the suite, the wall
    // clock of the whole capture, and the run1/run2 per-query spread
    // distribution. A healthy window shows loadavg ≲ the core count
    // and median spread ~1.1-1.3 (run 1 pays codegen); a contended one
    // shows loadavg ≫ cores or a fat spread tail — machine-visible
    // grounds to re-measure before believing a regression (protocol:
    // tools/bench_reconcile_r8.md).
    val loadEnd = loadAvg()
    def lj(l: Seq[Double]): String = l.map(r3).mkString("[", ",", "]")
    val windowField =
      s""","window":{"loadavg_start":${lj(loadStart)},"loadavg_end":${lj(loadEnd)},""" +
      s""""loadavg_prewait":${lj(preWaitLoad)},"wait_for_quiet_sec":$waitedSec,""" +
      s""""cores":${Runtime.getRuntime.availableProcessors},""" +
      s""""capture_wall_sec":${r3((System.nanoTime() - wallStart) / 1e9)},""" +
      s""""run_spread_median":${r3(pct(0.5))},"run_spread_p90":${r3(pct(0.9))}}"""
    // loud, human-readable flag on a degraded window (the machine-
    // readable evidence is in the window field): a capture under heavy
    // ambient load or with a fat run-spread tail should be re-measured
    // before any number from it is believed (tools/bench_notes_r9.md)
    val cores = Runtime.getRuntime.availableProcessors.toDouble
    if (loadStart.headOption.exists(_ > 1.5 * cores) ||
        loadEnd.headOption.exists(_ > 1.5 * cores) || pct(0.9) > 3.0)
      System.err.println(s"BENCH WARN: degraded capture window " +
        s"(loadavg ${loadStart.mkString("/")}→${loadEnd.mkString("/")} on $cores cores, " +
        s"run-spread p90 ${r3(pct(0.9))}) — re-measure before trusting regressions")
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"raw":$rawJson,"shuffle_mb":$shufJson,"records":$recordsJson,"failed":$failedJson$ratioField$gateField$probeField$windowField,"sf":"$sfDir"}"""
    // A SPARK_GRAFT_ONLY run is a diagnostic, not the capture of record —
    // writing it to bench_out.json once clobbered the committed full-
    // surface capture (ADVICE r11 #1); diagnostics get their own file.
    val outName = if (only.isEmpty) "bench_out.json" else "bench_out_diag.json"
    java.nio.file.Files.writeString(atRoot(outName), line)
    println(line)
    // The driver captures a bounded TAIL of stdout (r2 evidence: the full
    // line above lost its head to the tail buffer once sbt's [success]
    // noise landed after it, so "parsed" came back null). Emit a compact
    // summary as the LAST line we print: it always fits whole inside any
    // tail buffer, so a line-wise JSON scan finds something parseable.
    // The per-query min-seconds map IS part of the contract surface —
    // round 17 shipped "queries":{} here and the driver's PERF/scaling
    // analysis came back empty (VERDICT r17 #1); 177 entries is ~4 KB,
    // far inside any sane tail buffer. Only the bulky diagnostics (raw
    // run arrays, shuffle bytes, records) stay confined to the line above and
    // bench_out.json.
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"failed":$failedJson$ratioField$gateField$probeField$windowField,"sf":"$sfDir","detail":"bench_out.json"}""")
    System.out.flush()
    spark.stop()
  }

  /** Per-query regression threshold: 2× the committed baseline plus a
    * fixed-cost slack of min(1.5 s, 6× baseline). The multiplier alone
    * mis-gates sub-second queries: their runtime is dominated by fixed
    * JVM/scheduler/parquet-footer overhead, which inflates several-fold
    * under ambient host contention (the r7 driver capture timed a
    * 3-row `q_case_when` at 1.43 s on BOTH runs — 5.6× a 0.25 s
    * baseline — while the same commit measured 0.785× overall locally
    * an hour later; 8 of its 12 "offenders" were sub-second baselines).
    * The slack absorbs exactly that fixed-cost amplification, but the
    * 6×-baseline cap (VERDICT r8 #3) keeps it RELATIVE for the very
    * fastest queries: an unbounded 1.5 s floor made any sub-0.75 s
    * baseline ungated in practice (the r8 capture passed a 6.4×
    * `q_url_escape`), whereas under the cap no query can drift past
    * 8× its committed baseline without first surviving the 3-run
    * clean re-measure. Genuine algorithmic cliffs still fail by a
    * wide margin (the r7 offender, q_sim_jaccard at 25.6 s vs 1.43 s
    * committed, fails by 6×), and multi-second baselines gate at
    * effectively the pure 2× as before. */
  def gateThreshold(baseline: Double): Double =
    2.0 * baseline + math.min(1.5, 6.0 * baseline)

  /** Quiet re-measure target selection (VERDICT r13 #2), pure for the
    * gate suite: the queries whose capture time sits furthest above
    * their committed baseline — the rows a contended window most
    * plausibly inflated — capped at 5 children and at a 1.3× floor
    * (below that, substitution cannot change any verdict: the gate
    * threshold starts at 2×, and sub-1.3× wobble is normal run noise). */
  def quietRemeasureTargets(results: Map[String, Double],
                            base: Map[String, Double]): Seq[String] =
    results.toSeq
      .filter { case (n, t) => t >= 0 && base.get(n).exists(_ > 0) }
      .map { case (n, t) => (n, t / base(n)) }
      .filter(_._2 > 1.3)
      .sortBy(-_._2)
      .take(5)
      .map(_._1)

  /** A child JVM running `mainClass` on this JVM's classpath, with the
    * JDK17 --add-opens set of tools/run.sh, the UI off and UTC sessions;
    * each caller sets the heap (`xmx`), environment, IO and timeout. */
  def childJvm(mainClass: String, xmx: String, args: Seq[String] = Nil): ProcessBuilder = {
    val javaBin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString
    val opens = Seq("java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
      "java.base/java.nio", "java.base/java.util",
      "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    new ProcessBuilder((Seq(javaBin) ++ opens ++ Seq(s"-Xmx$xmx",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"), mainClass) ++ args): _*)
  }

  /** One query timed in a FRESH child JVM (a SPARK_GRAFT_ONLY
    * diagnostic Bench run — min-of-2-or-3 with its own wait-for-quiet),
    * parsed from the child's bench_out_diag.json. None on launch
    * failure, crash, or a 300 s timeout — the capture must degrade to
    * its own numbers, never hang on the re-measure pass. */
  private def freshJvmTime(name: String, sfDir: String): Option[Double] =
    try {
      val pb = childJvm("graft.Bench", "8g")
      pb.environment().put("SPARK_GRAFT_ONLY", name)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_NO_REMEASURE", "1")
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      val p = pb.start()
      if (!p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly(); None
      } else if (p.exitValue() != 0) None
      else {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(atRoot("bench_out_diag.json")))
          .get("queries").get(name)
        Option(node).map(_.asDouble()).filter(_ > 0)
      }
    } catch { case _: Throwable => None }

  /** Suspect escalation decision (ADVICE r10 #5), pure for the gate
    * suite: given the previous capture's consecutive-suspect counts and
    * this capture's window-suspect set, return (queries to escalate to
    * offenders, next history). A query suspect in two CONSECUTIVE full
    * captures escalates; a capture where it is NOT suspect resets its
    * count (absence from `next`). */
  def escalateSuspects(prev: Map[String, Int],
                       suspects: Set[String]): (Set[String], Map[String, Int]) =
    (suspects.filter(q => prev.getOrElse(q, 0) >= 1),
      suspects.map(q => q -> (prev.getOrElse(q, 0) + 1)).toMap)

  /** Repo root, resolved from the location of the compiled classes
    * (…/target/scala-2.13/classes → three levels up), falling back to
    * the CWD. Bench's mutable state files (suspect history, capture
    * output) and its committed inputs (baseline, scale probe) must not
    * depend on WHERE the JVM was launched: a capture run from another
    * working directory used to silently reset the suspect-escalation
    * history and write bench_out.json into that directory (ADVICE r11). */
  private[graft] lazy val repoRoot: java.nio.file.Path = {
    val cwd = java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."))
    try {
      val src = Bench.getClass.getProtectionDomain.getCodeSource
      val loc = java.nio.file.Paths.get(src.getLocation.toURI)
      // classes dir layout: <root>/target/scala-2.13/classes
      val root = if (java.nio.file.Files.isDirectory(loc)) loc.getParent.getParent.getParent else null
      if (root != null && java.nio.file.Files.exists(root.resolve("build.sbt"))) root else cwd
    } catch { case _: Throwable => cwd }
  }
  private def atRoot(rel: String): java.nio.file.Path = repoRoot.resolve(rel)

  /** Host 1/5/15-minute load averages from /proc/loadavg; empty on a
    * platform without it (the field then reads `[]` — still valid JSON). */
  def loadAvg(): Seq[Double] =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .trim.split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq.empty }

  /** JSON fragment flagging queries that crashed during gate
    * re-measurement (empty when none) — a flaky crash must not silently
    * shrink the gate sample (ADVICE r6 #3). Appended verbatim after
    * `gate_offenders` in the bench line. */
  def rerunWarnField(crashed: Seq[String]): String =
    if (crashed.isEmpty) ""
    else crashed.map("\"" + _ + "\"").mkString(""","rerun_crashed":[""", ",", "]")

  /** Committed per-query baseline (tools/baseline_bench.json, written by
    * tools/rebaseline.py from disciplined fresh-JVM runs); empty when the
    * file is absent or unparseable. */
  private def loadBaseline(): Map[String, Double] = {
    val f = atRoot("tools/baseline_bench.json")
    if (!java.nio.file.Files.exists(f)) return Map.empty
    try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(f)).get("queries")
      val base = scala.collection.mutable.Map[String, Double]()
      node.fieldNames().forEachRemaining(k => base += k -> node.get(k).asDouble())
      base.toMap
    } catch { case _: Throwable => Map.empty }
  }

  /** Baseline re-merge provenance in the summary line (VERDICT r15 #8):
    * a bench_vs_baseline move can come from the CODE or from the
    * YARDSTICK (tools/rebaseline.py re-merging per-query baselines
    * downward after a fix, as the r15 tri-exhibit re-merge did,
    * 0.928→0.963 with zero code regressions) — surfacing the merge
    * count + the last merge's date/queries makes a ratio move
    * self-explanatory without forensic diffing of baseline_bench.json. */
  private def mergeHistoryField(): String = try {
    val f = atRoot("tools/baseline_bench.json")
    if (!java.nio.file.Files.exists(f)) return ""
    val hist = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(f)).get("merge_history")
    if (hist == null || !hist.isArray || hist.size() == 0) return ""
    val last = hist.get(hist.size() - 1)
    val date = Option(last.get("date")).map(_.asText()).getOrElse("")
    val qs = Option(last.get("queries")).map { a =>
      (0 until a.size()).map(i => "\"" + a.get(i).asText() + "\"").mkString(",")
    }.getOrElse("")
    s""","baseline_merge_count":${hist.size()},"baseline_last_merge":{"date":"$date","queries":[$qs]}"""
  } catch { case _: Throwable => "" }

  /** total(this run) / total(baseline) over the queries present in BOTH —
    * the round-over-round perf gate. None when the baseline file is absent
    * or no query names overlap (e.g. a SPARK_GRAFT_ONLY diagnostic run of
    * a query added after the snapshot). */
  private def baselineRatio(results: Iterable[(String, Double)]): Option[Double] = {
    val base = loadBaseline()
    val shared = results.filter { case (n, t) => t >= 0 && base.contains(n) }
    if (shared.isEmpty) None
    else Some(shared.map(_._2).sum / shared.map { case (n, _) => base(n) }.sum)
  }
}
