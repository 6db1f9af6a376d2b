#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analyst_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while no source file changed. Inputs are generated from --seed under
perfbench/work/ and removed at exit. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"} with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).

Environment: SPARK_HOME (the Spark install whose jars/ the engine builds
and runs against), PERFBENCH_DATA (the directory holding the engine's
sf0.001 test tables; default ~/testdata), PERFBENCH_HEAP (JVM
heap, default 3g).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = tuple(gen.SCALE)
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def source_files():
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")):
        for dirpath, _, names in os.walk(base):
            for n in sorted(names):
                yield os.path.join(dirpath, n)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build(env):
    """Compile engine + harness unless the classes match the sources."""
    h = hashlib.sha256()
    for path in sorted(source_files()):
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    env = dict(env, COURSIER_MODE=env.get("COURSIER_MODE", "offline"))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def run_jvm(classes, home, plan_path, work, out, seconds, trace):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd += [f"-Xmx{os.environ.get('PERFBENCH_HEAP', '3g')}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", f"{classes}:{os.path.join(home, 'jars', '*')}",
            "perfbench.Main", "--plan", plan_path, "--work", work, "--out", out,
            "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"JVM timed out after {JVM_TIMEOUT_S}s")
    if p.returncode != 0 or not os.path.exists(out):
        with open(log_path, "rb") as f:
            sys.stderr.write(f.read().decode(errors="replace")[-6000:])
        fail(f"JVM exited with {p.returncode}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src (run from a checkout of the repository)")
    data_root = os.path.expanduser(os.environ.get("PERFBENCH_DATA", "~/testdata"))
    if not all(os.path.isdir(os.path.join(data_root, s)) for s in set(gen.SCALE.values())):
        fail(f"test tables not found under {data_root} (set PERFBENCH_DATA)")
    home = spark_home()
    classes = build(dict(os.environ, SPARK_HOME=home))

    work_base = os.path.join(HERE, "work")
    os.makedirs(work_base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}_", dir=work_base)
    try:
        plan_path, plan, gen_bytes = gen.write_plan(args.workload, args.seed, data_root,
                                                    os.path.join(work, "gen"))
        result = run_jvm(classes, home, plan_path, work, os.path.join(work, "result.json"),
                         args.seconds, bool(args.trace))
        checks = list(result.get("checks", []))
        checks += oracle.check_all(result.get("oracle", []))
        if args.workload == "analyst_sql":
            checks.append(analysis.permutation_check(result, args.seed))
        report = analysis.analyze(result, checks, gen_bytes)
        trace_dir = os.path.join(HERE, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        stem = os.path.join(trace_dir, f"{args.workload}_seed{args.seed}")
        trace_path = None
        if args.trace:
            trace_path = stem + ".spans.jsonl"
            analysis.write_spans(result, trace_path)
            if os.path.exists(stem + ".e2e.json"):
                with open(stem + ".e2e.json") as f:
                    report["overhead"] = analysis.tracing_overhead(report, json.load(f))
        else:
            with open(stem + ".e2e.json", "w") as f:
                json.dump({k: v for k, (v, _) in report["end_to_end"].items()}, f)
        for line in analysis.render(report, args, trace_path):
            print(line)
        metrics = report["per_layer"] if args.trace else report["end_to_end"]
        print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                          "failed": report["failed"],
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
