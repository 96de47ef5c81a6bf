#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one command per workload run.

    python3 perfbench/run.py --workload corpus|coach --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The runner builds the engine and the
benchmark's JVM side from source (perfbench/build.sh), generates the
workload's inputs from the seed, runs the workload in one JVM
(perfbench.Main), checks the outputs, and prints one line per metric,
an environment line, and as its last line the JSON result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. perfbench/BENCHMARK.md
describes the workloads and every metric.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("corpus", "coach")
DEADLINE_S = 170  # the whole run, build excluded, must end within 180 s
CORES = min(4, os.cpu_count() or 1)

# the module opens Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# heap flags are pinned so peak RSS compares across runs and commits; no
# hsperfdata file, so the JVM writes nothing outside the checkout
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:ParallelGCThreads=4", "-XX:-UsePerfData"]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def build():
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")], cwd=ROOT,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build failed ({r.returncode})")
    with open(os.path.join(build_dir(), "jars.path")) as f:
        return os.path.join(build_dir(), "classes"), f.read().strip()


def run_jvm(classes, jars, args, work, data, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_FLAGS + ADD_OPENS +
           [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--out", work, "--cores", str(CORES)])
    env = dict(os.environ, JDK_JAVA_OPTIONS="")
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                         env=env, start_new_session=True)
    try:
        rc = p.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"workload did not finish within {budget_s:.0f} s")
    if rc != 0:
        raise SystemExit(f"JVM exited with {rc}")
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f)


def aggregate(raw, checks):
    """End-to-end metrics from the raw record and the output checks.

    An operation fails when it threw or when a check on its name failed.
    A failed operation is counted, listed with its error, and excluded
    from every timing: a query that failed anywhere is dropped from every
    pass, so the pass sums stay comparable.
    """
    ops = raw["ops"]
    bad_checks = {n: d for n, ok, d in checks if not ok}
    threw = {o["name"]: o["error"] for o in ops if o["seconds"] is None}
    excluded = set(bad_checks) | set(threw)
    failures = sorted(
        [{"name": n, "error": e.split(":")[0]} for n, e in threw.items()] +
        [{"name": n, "error": "OutputMismatch", "detail": d} for n, d in bad_checks.items()
         if n not in threw], key=lambda x: x["name"])
    failed = sum(1 for o in ops if o["name"] in excluded)
    good = [o for o in ops if o["name"] not in excluded]
    cold = [o["seconds"] for o in good if o["pass"] == 0]
    warm = [o for o in good if o["pass"] >= 1]
    m = {"setup_s": statistics.median(raw["setup_s"]), "peak_rss_mb": raw["peak_rss_mb"]}
    if cold:
        m["cold_s"] = sum(cold)
    if raw["workload"] == "coach":
        sessions = [o["seconds"] for o in warm]
        samples = [c["seconds"] for c in raw["calls"] if c["op"] not in excluded]
        if sessions:
            m["warm_s"] = statistics.median(sessions)
    else:
        passes = {}
        for o in warm:
            passes[o["pass"]] = passes.get(o["pass"], 0.0) + o["seconds"]
        samples = [o["seconds"] for o in warm]
        if passes:
            m["warm_s"] = statistics.median(passes.values())
    if samples:
        m["query_p50_s"] = statistics.median(samples)
        m["query_p90_s"] = (statistics.quantiles(samples, n=10, method="inclusive")[8]
                            if len(samples) > 1 else samples[0])
    return m, len(ops), failed, failures, len(samples)


def main():
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    classes, jars = build()
    t_start = time.time()
    work = os.path.join(build_dir(), "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    wall = {}
    try:
        gen.generate(args.seed, data)
        wall["generate"] = time.time() - t_start
        raw = run_jvm(classes, jars, args, work, data, DEADLINE_S - (time.time() - t_start))
        wall["jvm"] = time.time() - t_start - wall["generate"]
        checks = [(c["name"], c["ok"], c["detail"]) for c in raw["checks"]]
        if args.workload != "coach":
            with open(os.path.join(work, "oracle.json")) as f:
                oracle = json.load(f)
            dumped = {n for n, _, _ in checks}
            checks += check.check(data, os.path.join(work, "results"),
                                  {n: s for n, s in oracle.items() if n not in dumped})
        wall["check"] = time.time() - t_start - wall["generate"] - wall["jvm"]
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            traces = os.path.join(build_dir(), "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.move(spans, os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, attempted, failed, failures, n_samples = aggregate(raw, checks)
    values = raw["layers"] if args.trace else e2e
    missing = [w["name"] for w in wanted if w["name"] not in values]
    metrics = {w["name"]: {"value": values[w["name"]], "unit": w["unit"]}
               for w in wanted if w["name"] in values}
    for name, v in metrics.items():
        print(f"{args.workload:10s} {name:32s} {v['value']:14.6f} {v['unit']}")
    env = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": CORES,
        "calib_start_ms": raw["calib_ms"][0], "calib_end_ms": raw["calib_ms"][1],
        "first_ready_s": raw["first_ready_s"], "setup_runs_s": raw["setup_s"],
        "timed_samples": n_samples, "jvm_phase_s": raw["phase_s"],
        "runner_phase_s": wall, "ops_failed_frac": failed / max(attempted, 1),
        "failures": failures,
    }
    if args.workload == "coach":
        env["meta_s"] = next((o["seconds"] for o in raw["ops"] if o["name"] == "phase0"), None)
        env["session_p50_s"] = e2e.get("warm_s")
    print(json.dumps({"env": env}))
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
