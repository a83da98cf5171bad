#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one perfbench workload.

Runs `perfbench/run.py --trace 0` in PARENT_DIR and in CHANGE_DIR for seeds
S..S+N-1 (S = --first-seed, default 1) at the run length BENCHMARK.json
sets, one pair per seed, alternating which side runs first (odd seeds start
with the parent). Then, for each
end-to-end metric BENCHMARK.json lists, it prints both sides' medians and
the parent's quartiles, the median and range of the per-pair ratios
(change / parent), and in how many pairs the change was better. Below them
it prints each side's medians of the run's report line fields `job_n` (warm
jobs in the timed window; peak RSS and rows_per_s move with it) and
`calib_ms` (the host's calibration loop; machine speed moves with it). The
last line of stdout is the same summary as one JSON object.

Usage:
  python3 tools/perf_ab.py PARENT_DIR CHANGE_DIR --workload W --pairs N [--first-seed S]
  python3 tools/perf_ab.py --self-test

It exits 1 as soon as a run fails, or its outputs are not correct, and 2 on
bad arguments. It only calls each checkout's perfbench/run.py and changes
nothing under perfbench/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True


class RunFailed(Exception):
    pass


CONTEXT = ("job_n", "calib_ms")


def parse_record(stdout, returncode, where):
    """The metric values of the {"correct", "attempted", "failed", "metrics"}
    record a run prints last, plus the CONTEXT fields of the {"report": ...}
    line before it (None where absent); RunFailed when the run failed or
    checked incorrect."""
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    try:
        rec = json.loads(lines[-1])
    except (IndexError, ValueError):
        raise RunFailed(f"{where}: exit {returncode}, no result record")
    if returncode != 0 or not rec.get("correct") or rec.get("failed", 0) > 0:
        raise RunFailed(f"{where}: exit {returncode}, correct={rec.get('correct')}, "
                        f"failed={rec.get('failed')} of {rec.get('attempted')}")
    report = {}
    if len(lines) > 1:
        try:
            report = json.loads(lines[-2]).get("report", {})
        except (ValueError, AttributeError):
            pass
    out = {k: v["value"] for k, v in rec["metrics"].items()}
    out.update({k: report.get(k) for k in CONTEXT})
    return out


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
    return parse_record(p.stdout, p.returncode, f"{checkout} seed {seed}")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(pairs, spec):
    """pairs: [(parent metrics, change metrics)], one per seed; spec: the
    end_to_end list of BENCHMARK.json. Per metric: medians, parent
    quartiles, per-pair ratio median/min/max and the change's wins."""
    out = {}
    for m in spec:
        name, lower = m["name"], m["better"] == "lower"
        a = [p[name] for p, _ in pairs]
        b = [c[name] for _, c in pairs]
        ratios = [y / x for x, y in zip(a, b) if x]
        q1, q3 = quartiles(a)
        out[name] = {
            "unit": m["unit"], "better": m["better"],
            "parent_median": statistics.median(a), "change_median": statistics.median(b),
            "parent_q1": q1, "parent_q3": q3,
            "ratio_median": statistics.median(ratios) if ratios else None,
            "ratio_min": min(ratios) if ratios else None,
            "ratio_max": max(ratios) if ratios else None,
            "wins": sum((y < x) if lower else (y > x) for x, y in zip(a, b)),
            "pairs": len(pairs),
        }
    return out


def context(pairs):
    """Each side's median of every CONTEXT field (None when no run had it)."""
    def med(side, k):
        xs = [p[side][k] for p in pairs if p[side].get(k) is not None]
        return statistics.median(xs) if xs else None
    return {k: {"parent_median": med(0, k), "change_median": med(1, k)} for k in CONTEXT}


def report(summary, out=sys.stdout):
    w = out.write
    w(f"{'metric':<16}{'parent':>12}{'change':>12}{'parent IQR':>22}{'ratio':>8}"
      f"{'range':>16}{'wins':>8}\n")
    for name, s in summary.items():
        rng = "-" if s["ratio_min"] is None else f"{s['ratio_min']:.3f}-{s['ratio_max']:.3f}"
        ratio = "-" if s["ratio_median"] is None else f"{s['ratio_median']:.3f}"
        w(f"{name:<16}{s['parent_median']:>12.4g}{s['change_median']:>12.4g}"
          f"{s['parent_q1']:>11.4g}-{s['parent_q3']:<10.4g}{ratio:>8}{rng:>16}"
          f"{s['wins']:>5}/{s['pairs']:<2}\n")


def fmt(v):
    return "-" if v is None else f"{v:.4g}"


def report_context(ctx, out=sys.stdout):
    for k, c in ctx.items():
        out.write(f"{k:<16}{fmt(c['parent_median']):>12}{fmt(c['change_median']):>12}"
                  "   (report line, median per side)\n")


def self_test():
    spec = [{"name": "latency_p50_ms", "unit": "ms", "better": "lower"},
            {"name": "rows_per_s", "unit": "rows/s", "better": "higher"}]
    pairs = [({"latency_p50_ms": 100.0, "rows_per_s": 10.0}, {"latency_p50_ms": 80.0, "rows_per_s": 12.0}),
             ({"latency_p50_ms": 120.0, "rows_per_s": 8.0}, {"latency_p50_ms": 90.0, "rows_per_s": 11.0}),
             ({"latency_p50_ms": 110.0, "rows_per_s": 9.0}, {"latency_p50_ms": 121.0, "rows_per_s": 8.0})]
    s = summarize(pairs, spec)
    lat, rows = s["latency_p50_ms"], s["rows_per_s"]
    assert (lat["parent_median"], lat["change_median"]) == (110.0, 90.0), lat
    assert (lat["parent_q1"], lat["parent_q3"]) == (105.0, 115.0), lat
    assert (lat["ratio_median"], lat["ratio_min"], lat["ratio_max"]) == (0.8, 0.75, 1.1), lat
    assert (lat["wins"], lat["pairs"]) == (2, 3), lat
    assert rows["wins"] == 2 and abs(rows["ratio_median"] - 1.2) < 1e-12, rows
    import io
    buf = io.StringIO()
    report(s, out=buf)
    assert "latency_p50_ms" in buf.getvalue() and "2/3" in buf.getvalue(), buf.getvalue()

    ctx_pairs = [({"job_n": 10, "calib_ms": 50.0}, {"job_n": 12, "calib_ms": 52.0}),
                 ({"job_n": 11, "calib_ms": 40.0}, {"job_n": 13, "calib_ms": None}),
                 ({"job_n": 9, "calib_ms": 60.0}, {"job_n": 14, "calib_ms": 48.0})]
    ctx = context(ctx_pairs)
    assert ctx["job_n"] == {"parent_median": 10, "change_median": 13}, ctx
    assert ctx["calib_ms"] == {"parent_median": 50.0, "change_median": 50.0}, ctx
    assert context([({"job_n": None, "calib_ms": None}, {"job_n": None, "calib_ms": None})]) == {
        k: {"parent_median": None, "change_median": None} for k in CONTEXT}
    buf = io.StringIO()
    report_context(ctx, out=buf)
    assert "job_n" in buf.getvalue() and "13" in buf.getvalue(), buf.getvalue()

    ok = json.dumps({"correct": True, "attempted": 9, "failed": 0,
                     "metrics": {"latency_p50_ms": {"value": 80.0, "unit": "ms"}}})
    line = json.dumps({"workload": "w", "seed": 1, "report": {"job_n": 12, "calib_ms": 51.5}})
    assert parse_record(line + "\n" + ok + "\n", 0, "x") == {
        "latency_p50_ms": 80.0, "job_n": 12, "calib_ms": 51.5}
    assert parse_record("noise\n" + ok + "\n", 0, "x") == {
        "latency_p50_ms": 80.0, "job_n": None, "calib_ms": None}
    bad = [("noise\n" + json.dumps({"correct": False, "attempted": 9, "failed": 1, "metrics": {}}), 1),
           (ok, 3),  # nonzero exit with a record that reads correct
           (json.dumps({"correct": True, "attempted": 9, "failed": 2, "metrics": {}}), 0),
           ("perfbench: build failed", 2),
           ("", 0)]
    for stdout, code in bad:
        try:
            parse_record(stdout, code, "x")
        except RunFailed:
            continue
        raise AssertionError(f"accepted a failed run: {stdout!r} exit {code}")
    print("perf_ab self-test ok")


def main(argv):
    if argv[1:] == ["--self-test"]:
        self_test()
        return 0
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args(argv[1:])
    with open(os.path.join(a.change_dir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec, seconds = bench["end_to_end"], bench["run_seconds"]
    pairs = []
    try:
        for seed in range(a.first_seed, a.first_seed + a.pairs):
            order = ("parent", "change") if seed % 2 else ("change", "parent")
            got = {side: run_one(a.parent_dir if side == "parent" else a.change_dir,
                                 a.workload, seed, seconds) for side in order}
            pairs.append((got["parent"], got["change"]))
            print(f"seed {seed} ({order[0]} first): " + ", ".join(
                f"{k} {fmt(got['parent'][k])} -> {fmt(got['change'][k])}"
                for k in [m["name"] for m in spec] + list(CONTEXT)), flush=True)
    except RunFailed as e:
        print(f"perf_ab: {e}", file=sys.stderr)
        if pairs:
            report(summarize(pairs, spec))
            report_context(context(pairs))
        return 1
    summary, ctx = summarize(pairs, spec), context(pairs)
    report(summary)
    report_context(ctx)
    print(json.dumps({"workload": a.workload, "pairs": len(pairs), "metrics": summary,
                      "context": ctx}, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
