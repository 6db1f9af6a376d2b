"""Metrics, self times and the printed report, from one run's result file.

The JVM half records spans (epoch microseconds): ops (layer "op"), the
layer calls inside them, and -- in a traced run -- Spark jobs and Catalyst
phases from the benchmark's own listeners, plus per-op task counters.
Everything here is plain arithmetic over those records.
"""
import json
import math
import statistics

import gen

MIN_BEYOND = 10                  # samples a reported tail percentile must have above it
TAIL_LADDER = (99, 95, 90, 75, 50)

# end-to-end metric -> unit (the order they print in)
END_TO_END = {"setup_s": "s", "op_s_p50": "s", "queries_per_s": "1/s"}

# the op kind whose wall is op_s_p50, per workload: a pass over the
# analyst's queries, or a fold day (its adds and its takedown batch)
PRIMARY_OP = {"analyst_sql": "pass", "daily_fold": "day:"}

MEMBERS = ("curate", "dedup", "tfidf", "domains", "quality", "ann", "cluster", "tri")


# ---- statistics ------------------------------------------------------------
def percentile(xs, p):
    """Linear interpolation between closest ranks."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n):
    """The highest percentile of the ladder with at least MIN_BEYOND of n
    samples beyond it; 50 when even the median has fewer."""
    for p in TAIL_LADDER:
        if n * (100 - p) / 100.0 >= MIN_BEYOND:
            return p
    return 50


def union_length(intervals, lo, hi):
    """Length of the union of [s, e) intervals, clipped to [lo, hi)."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def fail_frac(attempted, crashed, wrong):
    """Failed share of attempted ops: a crash and a wrong output both count."""
    return (crashed + wrong) / attempted if attempted else 1.0


# ---- span tree ---------------------------------------------------------------
def dur_s(s):
    return (s["end"] - s["start"]) / 1e6


def attach_catalyst(spans):
    """Give each Catalyst phase span (recorded on the listener thread, with
    no parent) the innermost client span that contains it."""
    client = [s for s in spans if s["layer"] not in ("catalyst", "exec.job") and s["end"] >= 0]
    for c in spans:
        if c["layer"] != "catalyst":
            continue
        best = None
        for s in client:
            if s["start"] <= c["start"] and c["end"] <= s["end"] and (
                    best is None or s["start"] >= best["start"]):
                best = s
        if best is not None:
            c["parent"], c["op"] = best["id"], best["op"]
    return spans


def children_of(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


# ---- checks -------------------------------------------------------------------
def permutation_check(result, seed):
    order = result.get("extra", {}).get("order", [])
    ok = bool(order) and order == gen.permutation(order, seed)
    return {"name": "generator:permutation", "ok": ok,
            "detail": f"JVM order {'matches' if ok else 'differs from'} the generator's rule"}


def attempts(spans, workload):
    """What attempted/failed count: each query execution of analyst_sql,
    each op (fold day, serving read) of daily_fold."""
    layer = "query" if workload == "analyst_sql" else "op"
    return [s for s in spans if s["layer"] == layer]


def wrong_ids(units, checks, workload):
    """Attempts whose output a failed check covers: the executions of an
    item that failed its oracle check; for daily_fold every op, since each
    built the state that a failed member or ingest check covers."""
    bad = {c["name"] for c in checks if not c["ok"]}
    if not bad:
        return set()
    if workload == "analyst_sql":
        return {u["id"] for u in units if u["name"] in bad}
    return {u["id"] for u in units}


# ---- the report ----------------------------------------------------------------
def analyze(result, checks, generated_bytes):
    workload = result["workload"]
    spans = attach_catalyst(result.get("spans", []))
    ops = [s for s in spans if s["layer"] == "op"]
    queries = [s for s in spans if s["layer"] == "query"]
    primary = [o for o in ops if o["name"].startswith(PRIMARY_OP[workload])]
    timed = result["timed_s"]
    units = attempts(spans, workload)
    crashed = {u["id"] for u in units if not u["ok"]}
    wrong = wrong_ids(units, checks, workload) - crashed
    failed_ops = {o["id"] for o in ops if not o["ok"]} | {
        u["op"] for u in units if u["id"] in crashed | wrong}
    qsamples = [dur_s(q) for q in queries]
    ok_queries = [q for q in queries if q["ok"] and q["op"] not in failed_ops]
    heap = result.get("heap_live_mb", [])
    setup = result["setup"]

    e2e = {
        "setup_s": setup["setup_s"],
        "op_s_p50": statistics.median([dur_s(o) for o in primary]) if primary else float("nan"),
        "queries_per_s": len(ok_queries) / timed if timed > 0 else 0.0,
    }
    report = {
        "workload": workload, "correct": not crashed and not wrong and all(c["ok"] for c in checks),
        "attempted": len(units), "failed": len(crashed | wrong),
        "fail_frac": fail_frac(len(units), len(crashed), len(wrong)),
        "end_to_end": {k: (v, END_TO_END[k]) for k, v in e2e.items()},
        "samples": {"ops": len(primary)},
        "checks": checks, "setup": setup, "timed_s": timed,
        "inputs": dict(result.get("inputs", {}), generated_bytes=generated_bytes),
        "errors": sorted({s["attrs"]["error"] for s in spans if "error" in s["attrs"]}),
    }
    tail_p = tail_percentile(len(qsamples))
    queries_at = {"query_s_p50": (statistics.median(qsamples) if qsamples else float("nan"),
                                  "s", len(qsamples))}
    if tail_p > 50:
        queries_at[f"query_s_p{tail_p}"] = (percentile(qsamples, tail_p), "s", len(qsamples))
    report["workload_metrics"] = dict(
        queries_at, heap_peak_mb=(max(heap) if heap else float("nan"), "MB", len(heap)),
        **workload_metrics(workload, spans, result))
    traced = [o for o in ops if o["attrs"].get("traced")]
    report["per_layer"], report["layer_detail"] = per_layer(spans, traced, workload)
    report["self_share"] = self_shares(spans, traced)
    return report


def workload_metrics(workload, spans, result):
    """daily_fold's numbers beyond its op (the fold day) and its queries
    (the report reads): the per-member drain calls and the state size."""
    if workload != "daily_fold":
        return {}
    folds = [dur_s(s) for s in spans if s["layer"] == "streaming.drain"]
    landed = result.get("inputs", {}).get("bytes", 0)
    state = result.get("extra", {}).get("state_bytes", 0)
    p = tail_percentile(len(folds))
    return {f"fold_s_p{p}": (percentile(folds, p), "s", len(folds)),
            "state_bytes_per_input_byte": (state / landed if landed else float("nan"), "ratio", 1)}


def _sum_layer(spans, op_ids, layer, name=None):
    return sum(dur_s(s) for s in spans if s["op"] in op_ids and s["layer"] == layer
               and (name is None or s["name"] == name))


def per_layer(spans, traced, workload):
    """Per-op means over the traced ops (the metrics BENCHMARK.json lists,
    which every workload exercises), plus the workload-specific layer
    detail (sources, streaming and incremental-state numbers)."""
    n = len(traced)
    ids = {o["id"] for o in traced}

    def mean_attr(k, scale=1.0):
        return sum(o["attrs"].get(k, 0) for o in traced) * scale / n if n else 0.0

    def per_op(layer, name=None):
        return _sum_layer(spans, ids, layer, name) / n if n else 0.0

    jobs = [s for s in spans if s["layer"] == "exec.job" and s["op"] in ids]
    gap = 0.0
    for o in traced:
        mine = [(j["start"], j["end"]) for j in jobs if j["op"] == o["id"]]
        gap += ((o["end"] - o["start"]) - union_length(mine, o["start"], o["end"])) / 1e6
    mb = 1.0 / 1048576
    m = {
        "catalyst.analysis_s": (per_op("catalyst", "analysis"), "s"),
        "catalyst.optimization_s": (per_op("catalyst", "optimization"), "s"),
        "catalyst.planning_s": (per_op("catalyst", "planning"), "s"),
        "exec.jobs": (mean_attr("jobs"), "count"),
        "exec.stages": (mean_attr("stages"), "count"),
        "exec.tasks": (mean_attr("tasks"), "count"),
        "exec.job_s": (per_op("exec.job"), "s"),
        "exec.gap_s": (gap / n if n else 0.0, "s"),
        "exec.task_run_s": (mean_attr("task_run_ms", 1e-3), "s"),
        "exec.task_gc_s": (mean_attr("task_gc_ms", 1e-3), "s"),
        "shuffle.read_mb": (mean_attr("shuffle_read_b", mb), "MB"),
        "shuffle.write_mb": (mean_attr("shuffle_write_b", mb), "MB"),
        "scan.input_mb": (mean_attr("input_b", mb), "MB"),
        "scan.records_in": (mean_attr("records_in"), "count"),
        "ops.build_s": (per_op("ops.build"), "s"),
        "ops.materialize_s": (per_op("ops.materialize"), "s"),
        "jvm.gc_s": (mean_attr("gc_ms", 1e-3), "s"),
        "jvm.heap_used_mb": (mean_attr("heap_used_mb"), "MB"),
    }
    detail = {"shuffle.spill_mb": (mean_attr("spill_b", mb), "MB"),
              "exec.task_skew": (statistics.median([o["attrs"].get("task_skew", 1.0) for o in traced])
                                 if traced else 1.0, "ratio")}
    if workload == "analyst_sql":
        detail["sources.view_query_s"] = (per_op("sources.view_query"), "s")
    if workload == "daily_fold":
        days = [o for o in traced if o["name"].startswith("day:")]
        nd = len(days) or 1
        day_ids = {o["id"] for o in days}
        detail["streaming.ingest_s"] = (_sum_layer(spans, day_ids, "streaming.ingest") / nd, "s")
        detail["incr.bytes_written_per_input_byte"] = (
            sum(o["attrs"].get("output_b", 0) for o in days)
            / max(1, sum(o["attrs"].get("input_b", 0) for o in days)), "ratio")
        last = days[-1]["attrs"].get("incr", {}) if days else {}
        for mem in MEMBERS:
            adds = [s for s in spans if s["layer"] == "streaming.drain" and s["name"] == mem and s["op"] in ids]
            reads = [s for s in spans if s["layer"] == "query" and s["name"] == f"report:{mem}" and s["op"] in ids]
            st = last.get(mem, {})
            detail[f"streaming.drain_s.{mem}"] = (_mean([dur_s(s) for s in adds]), "s")
            detail[f"incr.report_s.{mem}"] = (_mean([dur_s(s) for s in reads]), "s")
            detail[f"incr.state_mb.{mem}"] = (st.get("state_b", 0) * mb, "MB")
            detail[f"incr.state_files.{mem}"] = (st.get("files", 0), "count")
            detail[f"incr.max_files_per_bucket.{mem}"] = (st.get("max_files_per_bucket", 0), "count")
            detail[f"incr.delta_epochs.{mem}"] = (st.get("delta_epochs", 0), "count")
    return m, detail


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def self_shares(spans, traced):
    """Each layer's self time summed over the traced ops, as a share of
    their total wall. Shares sum to 1 (the op's own self time is the
    harness and any work no recorded span covers)."""
    ids = {o["id"] for o in traced}
    mine = [s for s in spans if s["op"] in ids and s["end"] >= s["start"] >= 0]
    kids = children_of(mine)
    total = sum(o["end"] - o["start"] for o in traced)
    shares = {}
    for s in mine:
        shares[s["layer"]] = shares.get(s["layer"], 0) + self_time(s, kids.get(s["id"], []))
    return {k: v / total for k, v in sorted(shares.items(), key=lambda kv: -kv[1])} if total else {}


def tracing_overhead(report, untraced):
    """The traced run's end-to-end numbers minus those of the last untraced
    run of the same workload and seed in this checkout (None if none)."""
    if not untraced:
        return None
    return {k: (v - untraced[k], u) for k, (v, u) in report["end_to_end"].items() if k in untraced}


# which end-to-end number each layer metric should move, and on which workload
LAYER_MAP = {
    "catalyst": ("queries_per_s, op_s_p50", "analyst_sql"),
    "exec.jobs": ("queries_per_s, op_s_p50", "analyst_sql, daily_fold"),
    "exec.stages": ("queries_per_s, op_s_p50", "analyst_sql, daily_fold"),
    "exec.gap_s": ("queries_per_s, op_s_p50", "analyst_sql, daily_fold"),
    "exec.job_s": ("op_s_p50", "analyst_sql, daily_fold"),
    "exec.task": ("op_s_p50", "daily_fold"),
    "shuffle": ("op_s_p50", "daily_fold"),
    "scan": ("queries_per_s, op_s_p50", "analyst_sql"),
    "ops": ("queries_per_s, op_s_p50", "analyst_sql, daily_fold"),
    "jvm": ("heap_peak_mb, op_s_p50", "analyst_sql, daily_fold"),
    "sources": ("setup_s, queries_per_s", "analyst_sql"),
    "streaming": ("op_s_p50, fold_s", "daily_fold"),
    "incr": ("queries_per_s, state_bytes_per_input_byte", "daily_fold"),
}


def maps_to(name):
    best = max((k for k in LAYER_MAP if name.startswith(k)), key=len, default=None)
    return LAYER_MAP[best] if best else ("", "")


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def render(report, args, trace_path):
    """Human-readable lines (everything before the final JSON line)."""
    w = report["workload"]
    s = report["samples"]
    yield (f"# perfbench {w} seed={args.seed} seconds={fmt(args.seconds)} trace={args.trace} "
           f"attempted={report['attempted']} failed={report['failed']} correct={report['correct']}")
    yield f"fail_frac = {fmt(report['fail_frac'])} ratio"
    for k, (v, u) in report["end_to_end"].items():
        note = f"  ({s['ops']} ops)" if k == "op_s_p50" else ""
        yield f"{k} = {fmt(v)} {u}{note}"
    for k, (v, u, n) in report["workload_metrics"].items():
        yield f"{k} = {fmt(v)} {u}  (n={n})"
    yield f"setup: {json.dumps(report['setup'])}"
    yield f"inputs: {json.dumps(report['inputs'])}"
    bad = [c for c in report["checks"] if not c["ok"]]
    yield f"checks: {len(report['checks']) - len(bad)} pass / {len(bad)} fail"
    for c in bad:
        yield f"  FAIL {c['name']}: {c['detail']}"
    for e in report["errors"]:
        yield f"  ERROR {e}"
    if args.trace:
        yield "per-layer (per traced op)            value        moves            on"
        for k, (v, u) in list(report["per_layer"].items()) + list(report["layer_detail"].items()):
            e2e, wl = maps_to(k)
            yield f"  {k:<38} {fmt(v):>12} {u:<6} {e2e} [{wl}]"
        shares = report["self_share"]
        yield (f"self-time share of op wall, by layer (sums to {sum(shares.values()):.0%}; "
               "above 100% where sibling spans overlap in time):")
        for k, v in shares.items():
            yield f"  {k:<24} {v:7.2%}"
        o = report.get("overhead")
        if o:
            yield ("tracing overhead (this traced run minus the last untraced run of this seed): "
                   + ", ".join(f"{k} {v:+.4g} {u}" for k, (v, u) in o.items()))
        else:
            yield "tracing overhead: no untraced run of this workload and seed to compare with"
        yield f"spans: {trace_path}"


def write_spans(result, path):
    with open(path, "w") as f:
        for s in result.get("spans", []):
            f.write(json.dumps(s, sort_keys=True) + "\n")
