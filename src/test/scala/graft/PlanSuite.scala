package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.sum

/** Physical-plan audits (SURVEY.md §4): the properties that make these
  * plans survive a 100× scale-up — column pruning reaching the scan,
  * predicate pushdown, broadcast joins for dims, TakeOrdered for top-k,
  * two-phase (partial+final) aggregation — asserted so regressions in
  * query shape show up as test failures, not as 100 TB incidents. */
class PlanSuite extends SparkSpec with AdaptiveSparkPlanHelper {

  private def planOf(key: String): String = {
    val df = SparkEntry.queries(key)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("scan: projection is pruned to selected columns at the parquet reader") {
    val p = planOf("q_scan_parquet")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_comment") && !p.contains("l_shipdate"),
      "scan reads columns the query never uses")
  }

  test("filter: range predicate is pushed to the parquet scan") {
    val p = planOf("q_filter_range")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      p.contains("PushedFilters: [GreaterThanOrEqual(l_shipdate"),
      s"no pushed filters in:\n$p")
  }

  test("dim join: broadcast hash join chosen for nation⋈region") {
    assert(planOf("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("star join: both small dims broadcast, no nested loop") {
    val p = planOf("q_join_star")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("alias enrichment: config dim is broadcast; corpus side never shuffles") {
    val p = planOf("q_topic_alias")
    // the containment predicate forces a nested-loop form — correct here
    // ONLY because the dim side is broadcast and config-sized (per-row
    // predicate battery, not O(n*m)); the corpus side must stream map-side
    assert(p.contains("BroadcastNestedLoopJoin"), s"dim side not broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("decontamination: eval grams broadcast, match is a hash equi-join") {
    val p = planOf("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval-gram side not broadcast in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("top-k: TakeOrderedAndProject, never a global sort of the full table") {
    assert(planOf("q_topk").contains("TakeOrderedAndProject"))
  }

  test("group agg: two-phase hash aggregation (map-side partial + final)") {
    val p = planOf("q_agg_group")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final HashAggregate pair")
  }

  test("semi/anti joins stay semi/anti at the physical level (no row blowup)") {
    assert(planOf("q_join_semi").contains("LeftSemi"))
    assert(planOf("q_join_anti").contains("LeftAnti"))
  }

  test("correlated EXISTS decorrelates to a LeftSemi (no per-row subquery)") {
    val p = planOf("q_exists_correlated")
    assert(p.contains("LeftSemi"), s"EXISTS not decorrelated in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("theta join decomposition: no BroadcastNestedLoopJoin in q_join_theta") {
    val p = planOf("q_join_theta")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "theta join fell back to the O(n*m) nested loop")
  }

  test("salted join: stays a shuffle join on (key, salt) — never broadcast, never cartesian") {
    val p = planOf("q_join_salted")
    // the merge hint must hold: letting the local-test dim broadcast
    // would silently turn the skew exhibit into a BHJ (the regime the
    // helper targets has a dim side no cluster could broadcast)
    assert(p.contains("SortMergeJoin"), s"salted join is not a sort-merge join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in salted join plan:\n$p")
    assert(p.contains("_salt"), s"salt key missing from the join:\n$p")
  }

  test("minhash signature reduction combines map-side (partial_min before the shuffle)") {
    val p = planOf("q_dedup_minhash")
    assert(p.contains("partial_min"),
      "minhash mins are not partially aggregated — the shuffle would carry one row per shingle")
  }

  test("catalog: partition predicate prunes the managed partitioned table at plan time") {
    val tbl = sources.Catalog.ensurePartitionedDocs(spark, sfDir)
    val all = spark.table(tbl)
    val pruned = spark.sql(s"SELECT doc_id, lang FROM $tbl WHERE lang = 'en'")
    // planning-time pruning: the filtered query's file set is a strict
    // subset — at 100 TB this is reading one lang=…/ tree, not the corpus
    assert(pruned.inputFiles.length > 0)
    assert(pruned.inputFiles.length < all.inputFiles.length,
      s"no pruning: ${pruned.inputFiles.length} vs ${all.inputFiles.length} files")
    assert(pruned.inputFiles.forall(_.contains("lang=en")),
      "pruned scan must only touch the lang=en partition tree")
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters:") && p.contains("lang"),
      s"partition filter not recorded in the scan:\n$p")
  }

  test("catalog SQL star join: dims broadcast through the by-name path too") {
    val df = SparkEntry.queries("q_catalog_sql")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"catalog-path dims not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("whole-stage codegen covers the hot paths (no UDF-broken spans in Q1 shape)") {
    val df = SparkEntry.queries("q_agg_group")(spark, sfDir)
    df.collect() // finalize the AQE plan so codegen spans are visible
    val p = df.queryExecution.executedPlan.toString
    // codegen'd operators carry the "*(id)" prefix in the final AQE plan
    assert(p.contains("*(1)") && p.contains("HashAggregate"),
      s"no whole-stage-codegen span in:\n$p")
  }

  test("tfidf: df join is a hash equi-join on the token key, N is broadcast") {
    val p = planOf("q_text_tfidf")
    // the vocab-sized df side must never drive a nested loop; the scalar
    // N (one row) must arrive via broadcast, not a shuffle
    assert(!p.contains("CartesianProduct"), s"cartesian in tfidf plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"N not broadcast in:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"df join not an equi-join in:\n$p")
  }

  test("quantize: pure map-side — no shuffle except the output sort") {
    val df = SparkEntry.queries("q_embed_quantize")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // exactly one Exchange: the rangepartitioning for the final ORDER BY;
    // the quantization itself must add none
    val exchanges = "(?i)Exchange (hash|range|single)partitioning".r
      .findAllIn(p).size
    assert(exchanges <= 1, s"quantize introduced extra shuffles:\n$p")
    assert(!p.contains("Join"), s"unexpected join in map-side op:\n$p")
  }

  test("dedup survivorship: AQE broadcast-antis the small loser list (no forced hint)") {
    // deliberately NO broadcast() hint in the query: at crawl-scale dup
    // rates (30-50% losers) a forced broadcast OOMs, so the plan must be
    // AQE-sized — here the loser list is small, so the FINALIZED adaptive
    // plan (post-execution) should land on a broadcast anti join, while a
    // huge loser list would legally fall back to a shuffle anti join.
    val df = SparkEntry.queries("q_dedup_survivors")(spark, sfDir)
    df.collect() // finalize THIS QueryExecution's adaptive plan (a write
                 // would execute a fresh one and leave this unfinalized)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"AQE did not broadcast the small loser list in:\n$p")
  }

  test("mixture resampling: quota dim is broadcast onto the ranked corpus") {
    val p = planOf("q_sample_mixture")
    assert(p.contains("BroadcastHashJoin"), s"quota dim not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"corpus side shuffled for a 5-row dim join:\n$p")
  }

  test("pii redaction: pure map-side — no shuffle except the output sort") {
    val p = planOf("q_text_pii")
    val exchanges = "(?i)Exchange (hash|range|single)partitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"pii redaction introduced extra shuffles:\n$p")
    assert(!p.contains("Join"), s"unexpected join in map-side op:\n$p")
  }

  test("perplexity: token-frequency join is a hash equi-join; corpus total is broadcast") {
    val p = planOf("q_text_perplexity")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"corpus-total scalar not broadcast in:\n$p") // 1-row total rides a broadcast
    assert(!p.contains("CartesianProduct"), s"cartesian in perplexity plan:\n$p")
  }

  test("zorder query: the min/max bounds ride a 1-row broadcast, no extra shuffles") {
    val p = planOf("q_layout_zorder")
    assert(!p.contains("CartesianProduct"), s"bounds joined via cartesian:\n$p")
    val exchanges = "(?i)Exchange (hash|range|single)partitioning".r.findAllIn(p).size
    // bounds agg + bucket agg + output sort
    assert(exchanges <= 4, s"zorder plan shuffles too much:\n$p")
  }

  test("SQL hints: BROADCAST and REPARTITION hints in migrated SQL are honored") {
    // migrating Athena/warehouse SQL arrives with hints; they must
    // reach the planner through spark.sql, not silently drop
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // hints must override
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet").createOrReplaceTempView("hint_li")
      spark.read.parquet(s"$sfDir/part.parquet").createOrReplaceTempView("hint_p")
      val hinted = spark.sql("""
        SELECT /*+ BROADCAST(hint_p) */ p_brand, COUNT(*) AS n
        FROM hint_li JOIN hint_p ON l_partkey = p_partkey
        GROUP BY p_brand""")
      val p = hinted.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"BROADCAST hint dropped (threshold is -1, so only the hint can produce BHJ):\n$p")
      val rep = spark.sql("SELECT /*+ REPARTITION(7) */ l_orderkey FROM hint_li")
      assert(rep.rdd.getNumPartitions == 7, "REPARTITION(7) hint not applied")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("round-5 plan shapes: no cartesians, map-side ops stay map-side") {
    // fuzzy match: the dictionary BODY pairs via the bigram bucket join
    // (hash equi-join on the gram key) — never a cartesian. The sub-
    // recall-bound short tail (len < 7, ADVICE r5) is ALLOWED its exact
    // arm as a BroadcastNestedLoopJoin: the short side is broadcast and
    // tiny by construction, and it must never run as an unbroadcast
    // CartesianProduct.
    val fuzzy = planOf("q_fuzzy_match")
    assert(!fuzzy.contains("CartesianProduct"),
      s"fuzzy match pairs via cartesian:\n$fuzzy")
    assert(fuzzy.contains("BroadcastHashJoin"),
      s"gram bucket join lost its hash-join shape:\n$fuzzy")
    // lateral: Catalyst decorrelates — no per-row subquery, no cartesian
    val lat = planOf("q_join_lateral")
    assert(!lat.contains("CartesianProduct"), s"lateral not decorrelated:\n$lat")
    // forward fill: one window + the output sort, nothing else
    val fill = planOf("q_win_fill")
    val fillEx = "(?i)Exchange (hash|range|single)partitioning".r.findAllIn(fill).size
    assert(fillEx <= 2 && !fill.contains("Join"), s"forward fill over-shuffles:\n$fill")
    // bitmap distinct: aggregation only, no join, partial map-side phase
    val bm = planOf("q_agg_bitmap")
    assert(!bm.contains("Join") && bm.contains("partial_"),
      s"bitmap distinct should be pure two-phase aggregation:\n$bm")
    // xml: pure map-side projection + sort
    val xml = planOf("q_xml_funcs")
    val xmlEx = "(?i)Exchange (hash|range|single)partitioning".r.findAllIn(xml).size
    assert(xmlEx <= 1 && !xml.contains("Join"), s"xml funcs not map-side:\n$xml")
  }

  test("line dedup: keeper is a partial-aggregable min, never a per-line window sort") {
    // a boilerplate line in 40% of a crawl would make a row_number
    // window's per-line partition one unsplittable monster sort; the
    // min(struct) keeper combines map-side and its join is AQE-skew-
    // splittable
    val p = planOf("q_dedup_lines")
    assert(!p.contains("Window"), s"line dedup regressed to a window sort:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_"),
      s"keeper min must aggregate map-side:\n$p")
  }

  test("runtime bloom filter: selective dim predicate injects a row filter on the fact side") {
    // The 100 TB shape this pins: a shuffle join whose dim side carries a
    // selective predicate should pre-filter the FACT side with a bloom
    // filter built from the dim keys (Spark's InjectRuntimeFilter), so
    // most fact rows die before the shuffle instead of after it. Local
    // thresholds are lowered because the test tables are tiny; the rule
    // and plan shape are exactly what a real cluster would produce.
    import spark.implicits._
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val fact = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select($"l_partkey", $"l_quantity")
      val dim = spark.read.parquet(s"$sfDir/part.parquet")
        .filter($"p_brand" === "Brand#13")
        .select($"p_partkey", $"p_brand")
      val joined = fact.join(dim, $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand").agg(sum($"l_quantity").as("q"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected on the fact scan in:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("round-6 plan shapes: new operators keep their scale-safe forms") {
    // funnel: chained per-user min-aggregates, never a per-user Window
    val fun = planOf("q_funnel")
    assert(!fun.contains("Window"), s"funnel regressed to a window scan:\n$fun")
    assert(fun.contains("partial_min") || fun.contains("partial_"),
      s"funnel step mins must combine map-side:\n$fun")
    // keyphrases: tf/df ranking joins stay hash equi-joins; the corpus
    // total is a 1-row broadcast, never a shuffled join side
    val kp = planOf("q_text_keyphrases")
    assert(!kp.contains("CartesianProduct"), s"keyphrases plan cartesians:\n$kp")
    assert(kp.contains("BroadcastNestedLoopJoin") || kp.contains("BroadcastExchange"),
      s"n_docs total must broadcast:\n$kp")
    // packing: shard-parallel — the window partitions on (shard), and
    // there is no join anywhere
    val pk = planOf("q_pack_sequences")
    assert(pk.contains("Window") && !pk.contains("Join"),
      s"packing must be one shard-partitioned window, no joins:\n$pk")
    // projection: pure map-side — the 8 dot_l projections sit directly
    // over the scan, no shuffle except the output sort
    val pr = planOf("q_embed_project")
    val prEx = "(?i)Exchange (hash|range|single)partitioning".r.findAllIn(pr).size
    assert(prEx <= 1 && !pr.contains("Join"),
      s"random projection must be map-side + output sort only:\n$pr")
    assert(pr.contains("dot_l"), s"native DotL expression missing from the plan:\n$pr")
    // salted RANGE window: the sort partitioning carries the time chunk
    val sw = planOf("q_win_range_salted")
    assert(sw.contains("_chunk"), s"salted window lost its chunk partitioning:\n$sw")
  }

  test("k-means: centroid tables broadcast onto the corpus, never a shuffle join") {
    // the seed/centroid joins are unconditioned 8-row broadcasts — the
    // intended bounded BNLJ shape; a CartesianProduct or a shuffled join
    // would mean the broadcast was lost
    val p = planOf("q_cluster_kmeans")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroids not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in kmeans plan:\n$p")
    assert(p.contains("dot_l"), s"native DotL missing from kmeans plan:\n$p")
  }

  test("semdedup: pair sweep is an equi-join on the cluster key (AQE-splittable)") {
    val p = planOf("q_dedup_semantic")
    assert(!p.contains("CartesianProduct"), s"cartesian in semdedup plan:\n$p")
    // the within-cluster pair join must key on cl so skew-split can act
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no keyed join in semdedup plan:\n$p")
  }

  test("round-7 plan shapes: span dedup and BPE training keep scale-safe forms") {
    // span dedup: hash-keyed distinct-doc count must combine map-side
    // (partial aggregation), and the dup-mark join is an equi-join
    val sp = planOf("q_dedup_spans")
    assert(!sp.contains("CartesianProduct"), s"cartesian in span-dedup plan:\n$sp")
    assert(sp.contains("partial_count") || sp.contains("partial_sum"),
      s"span counting not two-phase:\n$sp")
    // bpe training: each round's 1-row best pair rides a broadcast —
    // an unbroadcast cartesian against the dict would be the scale bug
    val bpe = planOf("q_text_bpe_train")
    assert(!bpe.contains("CartesianProduct"), s"cartesian in bpe-train plan:\n$bpe")
    assert(bpe.contains("BroadcastNestedLoopJoin") || bpe.contains("BroadcastHashJoin"),
      s"best-pair scalar not broadcast:\n$bpe")
  }

  test("session-5 plan shapes: bpe encode, quality classifier, cluster terms stay scale-safe") {
    // bpe encode: the corpus word stream joins the vocab-sized piece
    // table via BROADCAST — a shuffled join here would shuffle the
    // whole corpus to meet a dictionary that fits in one executor
    val enc = planOf("q_text_bpe_encode")
    assert(!enc.contains("CartesianProduct"), s"cartesian in bpe-encode plan:\n$enc")
    assert(enc.contains("BroadcastHashJoin"),
      s"piece dictionary not broadcast onto the word stream:\n$enc")
    // quality classifier: class counts must combine map-side and the
    // scalar totals row must ride a broadcast, never a shuffle
    val qc = planOf("q_quality_classify")
    assert(!qc.contains("CartesianProduct"), s"cartesian in classifier plan:\n$qc")
    assert(qc.contains("partial_sum") || qc.contains("partial_count"),
      s"classifier counts not two-phase:\n$qc")
    // cluster terms: the 8-seed centroid table broadcasts onto the
    // corpus; the global-total scalar rides a broadcast too
    val ct = planOf("q_cluster_terms")
    assert(!ct.contains("CartesianProduct"), s"cartesian in cluster-terms plan:\n$ct")
    assert(ct.contains("BroadcastHashJoin") || ct.contains("BroadcastNestedLoopJoin"),
      s"no broadcast in cluster-terms plan:\n$ct")
  }

  test("triangles + split drift: equi-joins only; scalar totals ride broadcasts") {
    // degree-oriented triangle counting: wedge join and the closing
    // semi-join are equi-joins — any cartesian means orientation broke
    val tp = planOf("q_graph_triangles")
    assert(!tp.contains("CartesianProduct"), s"cartesian in triangle plan:\n$tp")
    assert(!tp.contains("BroadcastNestedLoopJoin"), s"BNLJ in triangle plan:\n$tp")
    // the wedge stream must pass the map-side sieve prefilter BEFORE
    // the closing shuffle — dropping it silently re-shuffles the full
    // Σ d⁺² wedge stream
    assert(tp.contains("might_contain"), s"sieve prefilter missing from triangle plan:\n$tp")
    // and the sketch must be built DISTRIBUTED: might_contain probes a
    // scalar subquery (the k=1 bit_sieve_agg with a map-side partial),
    // never a driver-materialized literal — a literal here means an
    // |E|-proportional driver allocation snuck back in
    assert(tp.contains("might_contain(Subquery"),
      s"sieve probe is not a scalar subquery (driver-built literal?):\n$tp")
    val tpFull = SparkEntry.queries("q_graph_triangles")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(tpFull.contains("bit_sieve_agg") && tpFull.contains("partial_bit_sieve_agg"),
      s"sketch not built via two-phase bit_sieve_agg:\n$tpFull")
    // split drift: the only non-equi join allowed is the broadcast of
    // the 1-row totals aggregate
    val dp = planOf("q_split_drift")
    assert(!dp.contains("CartesianProduct"), s"cartesian in drift plan:\n$dp")
  }

  test("pagerank: every round is an equi-join + 2-phase sum, no cartesian") {
    val p = planOf("q_graph_pagerank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pagerank round degenerated to a non-equi join:\n$p")
    assert(p.contains("partial_sum"), s"contribution sum not map-side combined:\n$p")
  }

  test("heavy hitters: candidate recount is a broadcast semi-join, stats agg is 2-phase") {
    val p = planOf("q_heavy_hitters")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"candidate set not broadcast-semi-joined:\n$p")
    val st = planOf("q_agg_stats")
    assert(st.contains("partial_sum") || st.contains("partial_count"),
      s"moment aggregation not two-phase:\n$st")
  }

  test("sessionize: lag, running sum, and session agg share ONE user_id shuffle") {
    val p = planOf("q_sessionize")
    // one hash exchange on user_id feeds both Window operators AND the
    // (user_id, session_id) aggregate (ClusteredDistribution is
    // satisfied by the subset partitioning); plus the output-sort range
    // exchange. Anything more means the composite re-shuffled.
    val exchanges = "(?i)Exchange (hash|range|single)partitioning".r
      .findAllIn(p).size
    assert(exchanges <= 2, s"sessionize re-shuffled between stages:\n$p")
    assert(p.contains("Window"), s"no window operator:\n$p")
  }

  test("jaccard verify: profile sides join via ShuffledHashJoin — candidate stream never sorted") {
    // The r8 fix this pins: at low thresholds the candidate stream is
    // orders of magnitude larger than the true-pair output and each row
    // picks up two full shingle-set arrays at the verify joins. A
    // sort-merge fallback there sorts that stream twice with the array
    // payloads attached (measured 3× the rest of the pipeline at a 10×
    // corpus); the SHUFFLE_HASH hint on the doc-count-sized profile
    // sides must keep both verify joins hash-builds on the small side.
    val p = planOf("q_sim_jaccard")
    assert("ShuffledHashJoin".r.findAllIn(p).size >= 2,
      s"verify joins lost their shuffle-hash shape:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in jaccard plan:\n$p")
  }

  test("resample: grid generation is generator-side — no forced rebalance") {
    val p = planOf("q_resample_gapfill")
    assert(p.contains("Generate"), s"sequence/explode not generator-side:\n$p")
    assert(!p.contains("RoundRobinPartitioning"),
      s"grid explode forced a rebalance:\n$p")
    // the gap-fill join must be a SHUFFLE join: a broadcast of the
    // hourly aggregate carries the AQE-coalesced PRE-explode
    // partitioning through the densified grid (generator amplification
    // is invisible to AQE's exchange sizing — measured 3.7× at 10×),
    // and could never exist at crawl scale anyway
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"gap-fill join is not a shuffle join:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"hourly aggregate broadcast onto the grid (scale-trap plan):\n$p")
  }

  test("weighted sampling: rank-filter optimizes to WindowGroupLimit (partial top-K before the shuffle)") {
    // the A-ES top-K per group must NOT rank the whole corpus: Spark's
    // WindowGroupLimit pushes a per-partition partial top-K below the
    // group exchange, so the shuffle carries ≤ K·partitions rows per
    // group instead of every doc. At sf0.001 plans.OnePartition runs the
    // query as one stage: no group exchange, so no partial phase to push
    // below it. The two-phase shape is the plan of an input above AQE's
    // minimum partition size, which the lowered threshold stands in for.
    val tiny = planOf("q_sample_weighted")
    assert(!tiny.contains("Exchange hashpartitioning"), s"tiny input still shuffles:\n$tiny")
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "1k")
    val p = try planOf("q_sample_weighted") finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    assert(p.contains("WindowGroupLimit"),
      s"no partial group-limit before the rank shuffle:\n$p")
    assert(p.contains("Partial"), s"group-limit not two-phase:\n$p")
  }

  test("no window rides a generator's pre-amplification partitioning (every query)") {
    // The gapfill trap, generalized to the whole surface: a WindowExec
    // whose distribution requirement is satisfied by partitioning
    // established BEFORE a row-amplifying generator means the window —
    // and everything fused with it — processes the amplified stream on
    // partitions AQE sized from PRE-amplification bytes (it coalesced
    // the tiny pre-explode exchange, and broadcast joins in between
    // preserve the starved layout). Plan law: every WindowExec must
    // have an Exchange between itself and any GenerateExec below it.
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.window.WindowExec
    // NOTE: must audit executedPlan (post-EnsureRequirements, where
    // exchanges exist), via the adaptive helper — sparkPlan has no
    // Exchange nodes at all and flags everything
    def generatorLeaksThrough(p: SparkPlan): Boolean = p match {
      case _: GenerateExec => true
      case _: Exchange => false // an exchange re-sizes on real bytes
      case other => other.children.exists(generatorLeaksThrough)
    }
    // q_join_theta is the one legitimate exemption: its generator is
    // the DENSE BUCKET AXIS of the histogram decomposition — sized by
    // the value domain (range/100 buckets, a few thousand rows), not
    // by the corpus — and the cumsum over it is a deliberately global,
    // single-partition window whose result is then broadcast. Bounded
    // amplification on a domain axis is not the trap; corpus-
    // proportional amplification is.
    val exempt = Set("q_join_theta")
    val offenders = (SparkEntry.queries.keySet -- exempt).toSeq.sorted.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
      val bad = collect(plan) {
        case w: WindowExec if w.children.exists(generatorLeaksThrough) => w
      }
      if (bad.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"windows riding pre-generator partitioning in: ${offenders.mkString(", ")}")
  }
}
