#!/usr/bin/env python3
"""Trip-pipeline benchmark: one command, two workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the checkout root. Builds the engine and the harness
(perfbench/build.py), runs the workload in a fresh JVM on local[nproc],
checks the outputs, and prints one JSON line as the last line of stdout:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. A traced run reports the tracing overhead against the
untraced runs of the same workload already recorded in .bench_out/,
and makes one such run first when there is none.

Outputs (result JSON, JVM log, spans) go to .bench_out/ in the checkout;
feeds, tables, checkpoints and Spark's local dirs live in a temp dir under it
that is removed when the run ends. The registry workload reads the sf0.1
tables from $SPARK_GRAFT_SF_DIR, default ~/testdata/sf0.1.
"""
import argparse
import glob
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
import build  # noqa: E402

WORKLOADS = ("trip_pipeline", "registry_sf01")
# A run must end within 180 s; the run that compiles (a checkout's first)
# within 900 s.
BUDGET_S = 172
FIRST_RUN_BUDGET_S = 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def definitions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def jvm(classpath, a, trace, tmp, stem, deadline):
    """One workload run in its own JVM; returns its result document."""
    work = os.path.join(tmp, f"work-{trace}")
    os.makedirs(os.path.join(work, "java-tmp"))
    result = stem + ".json"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser(os.path.join("~", "testdata", "sf0.1")))
    cmd = [build.java(), "-Xmx3g", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Duser.timezone=UTC", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'java-tmp')}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(trace), "--work", work, "--result", result,
            "--sf-dir", sf_dir, "--queries", os.path.join(HERE, "registry_sample.json")]
    with open(stem + ".log", "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            build.fail(f"{a.workload} did not finish in time; log: {os.path.relpath(stem, ROOT)}.log")
    if p.returncode != 0:
        with open(stem + ".log") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        build.fail(f"{a.workload} exited with {p.returncode}")
    with open(result) as fh:
        return json.load(fh)


def overhead_pct(untraced, traced, defs):
    """Median over the end-to-end metrics (set-up aside) of how much worse
    the traced run read than the median of the untraced ones, in percent."""
    worse = []
    for m in defs["end_to_end"]:
        name = m["name"]
        if name == "setup_s":
            continue
        u = statistics.median(r["e2e"][name]["value"] for r in untraced)
        t = traced["e2e"][name]["value"]
        worse.append((t / u - 1) if m["better"] == "lower" else (u / t - 1))
    return 100 * statistics.median(worse)


def recorded_untraced(out_dir, workload):
    runs = []
    for f in sorted(glob.glob(os.path.join(out_dir, f"{workload}-seed*-untraced.json"))):
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    start = time.time()
    classpath, compiled = build.build()
    defs = definitions()
    deadline = start + (FIRST_RUN_BUDGET_S if compiled else BUDGET_S)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, f"tmp-{os.getpid()}")
    stem = os.path.join(out_dir, f"{a.workload}-seed{a.seed}")
    try:
        baseline = recorded_untraced(out_dir, a.workload) if a.trace else []
        runs = [] if baseline else [jvm(classpath, a, 0, tmp, stem + "-untraced", deadline)]
        if a.trace:
            traced = jvm(classpath, a, 1, tmp, stem + "-traced", deadline)
            runs.append(traced)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    if a.trace:
        metrics = {}
        for m in defs["per_layer"]:
            name = m["name"]
            if name in traced["layers"]:
                metrics[name] = traced["layers"][name]
            elif name.startswith("span.") and name.endswith(".self_ms"):
                metrics[name] = {"value": traced["span_self_ms"].get(name[5:-8], 0.0), "unit": "ms"}
            else:
                # a layer this workload does not exercise
                metrics[name] = {"value": 0.0, "unit": m["unit"]}
        metrics["trace.overhead_pct"] = {"value": overhead_pct(baseline or runs[:1], traced, defs), "unit": "%"}
    else:
        metrics = {m["name"]: runs[0]["e2e"][m["name"]] for m in defs["end_to_end"]}

    line = {
        "correct": all(r["correct"] for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": metrics,
    }
    with open(stem + f"-trace{a.trace}.result.json", "w") as fh:
        json.dump({**line, "runs": runs}, fh, indent=1)
    for r in runs:
        for f in r["failures"]:
            print(f"perfbench: check failed: {f}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"perfbench: {name} = {m['value']} {m['unit']}", file=sys.stderr)
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
