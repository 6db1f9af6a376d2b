#!/bin/bash
# Interleaved fresh-JVM A/B of the repo benchmark between two checkouts.
#
#   tools/perf_ab.sh <parent_checkout> <change_checkout> <workload> <seed>...
#
# For each seed it runs `python3 perfbench/run.py --workload <workload>
# --seed <seed> --seconds 4 --trace 0` once from each checkout, alternating
# which side goes first, so slow drift of the host lands on both sides.
# Each run is a fresh JVM. It prints one line per pair (correct/attempted,
# failed and the three end-to-end metrics of each side), then per metric
# the medians and the number of pairs where the change was better.
# Each run's full output is kept in $PERF_AB_LOGS (default: a temp dir).
set -euo pipefail
if [ $# -lt 4 ]; then
  echo "usage: $0 <parent_checkout> <change_checkout> <workload> <seed>..." >&2
  exit 2
fi
parent=$(cd "$1" && pwd); change=$(cd "$2" && pwd); workload=$3; shift 3
logs=${PERF_AB_LOGS:-$(mktemp -d -t perf_ab_XXXXXX)}
mkdir -p "$logs"
results="$logs/results.jsonl"
: > "$results"

run() { # <side> <checkout> <seed> <pair>
  local log="$logs/$4_$1_seed$3.log"
  (cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
     --seconds 4 --trace 0) > "$log" 2>&1 || true
  python3 - "$1" "$3" "$4" "$log" >> "$results" <<'EOF'
import json, sys
side, seed, pair, log = sys.argv[1:]
last = None
for line in open(log, errors="replace"):
    line = line.strip()
    if line.startswith("{"):
        try: last = json.loads(line)
        except ValueError: pass
print(json.dumps({"side": side, "seed": int(seed), "pair": int(pair), "result": last}))
EOF
}

pair=0
for seed in "$@"; do
  if [ $((pair % 2)) -eq 0 ]; then
    run parent "$parent" "$seed" "$pair"; run change "$change" "$seed" "$pair"
  else
    run change "$change" "$seed" "$pair"; run parent "$parent" "$seed" "$pair"
  fi
  pair=$((pair + 1))
done

python3 - "$results" "$workload" <<'EOF'
import json, statistics, sys
rows = [json.loads(l) for l in open(sys.argv[1])]
metrics = [("setup_s", "lower"), ("op_s_p50", "lower"), ("queries_per_s", "higher")]
pairs = {}
for r in rows:
    pairs.setdefault(r["pair"], {})[r["side"]] = r
def cell(res):
    if not res:
        return "no result", {}
    m = {k: v["value"] if isinstance(v, dict) else v for k, v in res.get("metrics", {}).items()}
    return f'{res.get("correct")}/{res.get("attempted")} ok, {res.get("failed")} failed', m
print(f"workload {sys.argv[2]}: parent vs change, --seconds 4 --trace 0")
print("pair seed first   | parent: correct, " + ", ".join(n for n, _ in metrics) + " | change: same")
vals = {n: ([], []) for n, _ in metrics}
better = {n: 0 for n, _ in metrics}
complete = 0
for p in sorted(pairs):
    sides = pairs[p]
    par, chg = sides.get("parent"), sides.get("change")
    pc, pm = cell(par and par["result"])
    cc, cm = cell(chg and chg["result"])
    first = "parent" if p % 2 == 0 else "change"
    fmt = lambda m: ", ".join(f"{m.get(n, float('nan')):.4g}" for n, _ in metrics)
    print(f"{p:4d} {par['seed'] if par else '?':>4} {first:6} | {pc}, {fmt(pm)} | {cc}, {fmt(cm)}")
    if all(n in pm and n in cm for n, _ in metrics):
        complete += 1
        for n, d in metrics:
            vals[n][0].append(pm[n]); vals[n][1].append(cm[n])
            if (cm[n] < pm[n]) if d == "lower" else (cm[n] > pm[n]):
                better[n] += 1
print(f"{complete} complete pairs")
for n, d in metrics:
    a, b = vals[n]
    if not a:
        continue
    q = statistics.quantiles(a, n=4) if len(a) > 1 else [a[0]] * 3
    print(f"{n} ({d} is better): median parent {statistics.median(a):.4g} "
          f"(quartiles {q[0]:.4g}-{q[2]:.4g}), change {statistics.median(b):.4g}; "
          f"change better in {better[n]} of {len(a)} pairs")
EOF
echo "logs: $logs"
