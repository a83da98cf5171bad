#!/usr/bin/env python3
"""Graft benchmark: one workload per invocation, run from the repo root.

    python3 perfbench/run.py --workload etl_orders --seed 1 --seconds 8 --trace 0

Builds Graft from source (perfbench/build.py), generates the workload's
inputs from the seed (perfbench/gen.py), runs the workload in a fresh JVM
(perfbench/harness), checks every output against an independent DuckDB
recompute or the generator's ground truth (perfbench/check.py), and prints
the metrics. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Exits nonzero
when any output check fails or nothing could be run.
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

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("etl_orders", "llm_dedup", "cdc_sync")
INPUT_ROWS = {"etl_orders": gen.ETL_ROWS, "llm_dedup": gen.DEDUP_DOCS, "cdc_sync": 0}
# One invocation, both JVMs of a traced run included, ends within this.
DEADLINE_S = 170
# A fixed heap with a fixed young generation: G1 then reuses the same eden
# regions, so peak RSS tracks live data rather than when the heap grew.
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
# Spark's documented JDK 17 module opens for a SparkSession created outside
# spark-submit.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def calibrate():
    """Median seconds of five runs of a fixed pure-Python loop: the speed of
    the machine at the time of the run, independent of Graft, so that a
    slower machine can be told apart from slower code."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run_jvm(cp, workload, data, work, seconds, trace, cores, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = (["java", f"-Djava.io.tmpdir={tmp}"] + HEAP + ADD_OPENS +
           ["-cp", os.pathsep.join(cp), "org.apache.spark.perfbench.Harness",
            workload, data, work, str(seconds), str(trace), str(cores)])
    log = os.path.join(work, "jvm.log")
    with open(log, "wb") as f:
        # cwd = work dir: anything Spark drops in its working directory
        # (warehouse, derby logs) stays inside the run's own directory
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log, "rb") as f:
            tail = f.read()[-3000:].decode(errors="replace")
        raise RuntimeError(f"harness exited with {code}:\n{tail}")
    with open(result) as f:
        return json.load(f)


def check_outputs(workload, data, work, res):
    """(attempted, failed, reasons, outcome) over every job or micro-batch."""
    con = check.connect(os.path.join(work, "tmp"))
    reasons, outcome = [], {}
    jobs = res["jobs"]
    if workload == "cdc_sync":
        attempted = len(res["extra"]["cdc_commits"])
        bad = check.check_cdc(con, data, res["extra"]["cdc_state_dir"])
        failed = attempted if bad else 0
        reasons += bad
        outcome["snapshot_rows"] = con.execute(
            f"SELECT count(*) FROM read_parquet('{data}/final.parquet')").fetchone()[0]
        return attempted, failed, reasons, outcome
    attempted, failed = len(jobs), 0
    if workload == "etl_orders":
        check.etl_reference(con, data)
    recall, precision = [], []
    files = []
    for j in jobs:
        if workload == "etl_orders":
            bad = check.check_etl(con, data, j["out"])
        else:
            bad, r, p, removed = check.dedup_outcome(con, data, j["out"])
            recall.append(r)
            precision.append(p)
            outcome["removed"] = removed
        files.append(sum(len([f for f in fs if f.endswith(".parquet")])
                         for _, _, fs in os.walk(j["out"])))
        if bad:
            failed += 1
            reasons += [f"job {j['idx']}: {b}" for b in bad]
    outcome["files_written"] = statistics.median(
        [f for j, f in zip(jobs, files) if j["idx"] >= metrics.WARM_FROM] or files)
    if recall:
        outcome["dedup_recall"] = min(recall)
        outcome["dedup_precision"] = min(precision)
    return attempted, failed, reasons, outcome


def run_once(cp, workload, data, bench, seconds, trace, cores, deadline):
    work = os.path.join(bench, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(cp, workload, os.path.abspath(data), os.path.abspath(work), seconds, trace, cores,
                  deadline)
    attempted, failed, reasons, outcome = check_outputs(workload, data, work, res)
    return work, res, attempted, failed, reasons, outcome


def save_baseline(path, e2e):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(e2e, f)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    deadline = time.monotonic() + DEADLINE_S
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    bench = os.path.join(root, ".bench_build")
    # metric names and units: BENCHMARK.json at the root is the one list
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = len(os.sched_getaffinity(0))
    try:
        cp = build.build(root, os.path.join(bench, "classes"))
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    data = gen.cached(os.path.join(bench, "data"), a.workload, a.seed, a.seconds)
    calib_ms = calibrate() * 1e3
    build_id = os.path.basename(os.path.dirname(cp[0]))
    baseline = os.path.join(bench, "results", f"{a.workload}-s{a.seed}-t{a.seconds}-{build_id}.json")
    attempted = failed = 0
    reasons = []
    try:
        if a.trace and not os.path.exists(baseline):
            # the tracing overhead needs an untraced run of the same seed and
            # build; its outputs are checked like any other
            _, base_res, n, bad, why, _ = run_once(cp, a.workload, data, bench, a.seconds, 0, cores,
                                                   deadline)
            attempted, failed, reasons = n, bad, why
            save_baseline(baseline, metrics.end_to_end(a.workload, base_res, INPUT_ROWS[a.workload])[0])
        work, res, n, bad, why, outcome = run_once(cp, a.workload, data, bench, a.seconds, a.trace,
                                                   cores, deadline)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    attempted, failed, reasons = attempted + n, failed + bad, reasons + why
    e2e, extras = metrics.end_to_end(a.workload, res, INPUT_ROWS[a.workload])
    extras.update({k: v for k, v in outcome.items() if k.startswith("dedup_")})
    extras["failed_frac"] = failed / attempted
    extras["calib_ms"] = calib_ms
    if a.trace:
        with open(baseline) as f:
            base = json.load(f)
        layer = metrics.per_layer(a.workload, res, outcome)
        layer["host.calib_ms"] = calib_ms
        for k, v in e2e.items():
            layer[f"trace.overhead_{k}"] = v - base[k]
        values, listed = layer, spec["per_layer"]
    else:
        save_baseline(baseline, e2e)
        values, listed = e2e, spec["end_to_end"]
    out = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    with open(os.path.join(work, "spans.json"), "w") as f:
        json.dump(res["spans"], f)
    if reasons:
        for r in reasons[:20]:
            print(f"perfbench: check failed: {r}", file=sys.stderr)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "report": extras}, sort_keys=True))
    for j in res["jobs"]:
        if j["out"]:
            shutil.rmtree(j["out"], ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
