#!/usr/bin/env python3
"""A/A noise of two graft.Bench detail artifacts.

Two Bench runs of one commit on one box should report the same value for
every query; how far they do not is the bench's own noise. This tool reads
two detail artifacts (SPARK_GRAFT_BENCH_DETAIL files) and prints that noise
for several ways of turning a row's timed reps into its value:

  reported   the value the artifact reported, recomputed at ms precision
             from `reps_detail`: the median of the successful reps, or the
             rule the artifact names for the row (older artifacts list
             `floor_graded` rows, graded by their min, and `deep_extended`
             rows, graded by the median of the successful reps after the
             third)
  first N    the median of the successful reps among the first N recorded
             (`--reps N`, repeatable; streaming rows, whose names contain
             "stream", take at least `--stream-floor` reps, default 5).
             Reps are recorded in the order they ran, so this is what a
             bench running N reps would have reported.

For each rule, over the rows both runs measured: the sum of |a-b|; that
sum divided by the sum of the rows' means (a+b)/2, which compares rules
whose values sit at different levels (a min of reps, or a median of late
reps, is lower than a median of all reps, and so is its |a-b| at the same
relative noise); the median relative gap |a-b| / mean(a, b); the rows whose
relative gap is over 10% and whose absolute gap is over 0.1 s; and the gap
between the totals.
`--rows REGEX` keeps only the rows whose name matches; when it leaves five
rows or fewer, each row's two values are printed too.

Usage:
  python3 tools/bench_aa.py A.json B.json [--reps N]... [--stream-floor K] [--rows REGEX]
  python3 tools/bench_aa.py --self-test

It only reads the artifacts; it does not run anything.
"""
import argparse
import io
import json
import re
import statistics
import sys


def successes(reps):
    """Successful rep times, in run order (an errored rep is a dict)."""
    return [r for r in reps if not isinstance(r, dict)]


def median(ts):
    """Bench's median: the upper middle of the sorted times."""
    s = sorted(ts)
    return s[len(s) // 2]


def reported(art):
    """Row -> the value the artifact reported, at ms precision."""
    floor = set(art.get("floor_graded", []))
    deep = set(art.get("deep_extended", []))
    out = {}
    for name, reps in art["reps_detail"].items():
        ok = successes(reps)
        if not ok:
            continue
        if name in floor:
            out[name] = min(ok)
        elif name in deep:
            out[name] = median(successes(reps[3:]) or ok)
        else:
            out[name] = median(ok)
    return out


def first_n(art, n, stream_floor):
    """Row -> median of the successful reps among the first n (or more)."""
    out = {}
    for name, reps in art["reps_detail"].items():
        k = max(n, stream_floor) if "stream" in name else n
        ok = successes(reps[:k])
        if ok:
            out[name] = median(ok)
    return out


def noise(a, b):
    """A/A noise of two row -> seconds maps, over their common rows."""
    rows = sorted(set(a) & set(b))
    gaps = [abs(a[k] - b[k]) for k in rows]
    rel = [abs(a[k] - b[k]) / ((a[k] + b[k]) / 2) if a[k] + b[k] > 0 else 0.0 for k in rows]
    return {
        "rows": len(rows),
        "sum_abs": sum(gaps),
        "level_norm": sum(gaps) / sum((a[k] + b[k]) / 2 for k in rows) if rows else 0.0,
        "median_rel": statistics.median(rel) if rel else 0.0,
        "over_10pct": sum(r > 0.10 for r in rel),
        "over_100ms": sum(g > 0.1 for g in gaps),
        "totals_gap": abs(sum(a[k] for k in rows) - sum(b[k] for k in rows)),
        "per_row": [(k, a[k], b[k]) for k in rows],
    }


def report(arts, reps, stream_floor, rows_re, out=sys.stdout):
    keep = re.compile(rows_re) if rows_re else None
    rules = [("reported", reported)] + [
        (f"first {n}", lambda art, n=n: first_n(art, n, stream_floor)) for n in reps]
    out.write(f"{'rule':<10}{'rows':>6}{'sum|a-b| s':>12}{'/level':>8}{'med rel':>9}"
              f"{'>10%':>6}{'>0.1s':>7}{'totals gap s':>14}\n")
    results = {}
    for label, rule in rules:
        a, b = (rule(art) for art in arts)
        if keep:
            a = {k: v for k, v in a.items() if keep.search(k)}
            b = {k: v for k, v in b.items() if keep.search(k)}
        n = results[label] = noise(a, b)
        out.write(f"{label:<10}{n['rows']:>6}{n['sum_abs']:>12.2f}{n['level_norm']:>8.4f}{n['median_rel']:>9.1%}"
                  f"{n['over_10pct']:>6}{n['over_100ms']:>7}{n['totals_gap']:>14.2f}\n")
        if keep and n["rows"] <= 5:
            for k, va, vb in n["per_row"]:
                out.write(f"  {k}: {va:.3f} / {vb:.3f} s, gap {abs(va - vb) / ((va + vb) / 2):.0%}\n")
    return results


def self_test():
    """A synthetic pair: checks each rule's values and the noise figures."""
    a = {"reps_detail": {
            "q_a": [1.0, 2.0, 1.25, 9.0, 9.0],
            "q_stream_x": [3.0, 2.0, 2.5, 2.2, 2.4],
            "q_floor": [0.9, 0.5, 0.7],
            "q_dead": [{"t": 0.1, "err": "boom"}],
         },
         "floor_graded": ["q_floor"], "deep_extended": ["q_a"]}
    b = {"reps_detail": {
            "q_a": [1.1, {"t": 0.2, "err": "x"}, 1.3, 1.0],
            "q_stream_x": [2.0, 2.1, 2.0, 2.2, 2.1],
            "q_floor": [0.6, 0.6, 0.6],
            "q_dead": [0.3, 0.3, 0.3],
         }}
    assert reported(a) == {"q_a": 9.0, "q_stream_x": 2.4, "q_floor": 0.5}
    assert reported(b) == {"q_a": 1.1, "q_stream_x": 2.1, "q_floor": 0.6, "q_dead": 0.3}
    assert first_n(a, 3, 5) == {"q_a": 1.25, "q_stream_x": 2.4, "q_floor": 0.7}
    assert first_n(b, 3, 5)["q_a"] == 1.3  # the errored rep counts as run, not as a time
    assert first_n(a, 3, 0)["q_stream_x"] == 2.5
    n = noise(first_n(a, 3, 5), first_n(b, 3, 5))
    assert n["rows"] == 3  # q_dead has no successful rep in a
    assert abs(n["sum_abs"] - (0.05 + 0.3 + 0.1)) < 1e-9, n
    assert abs(n["level_norm"] - 0.45 / (1.275 + 2.25 + 0.65)) < 1e-9, n
    assert n["over_10pct"] == 2 and n["over_100ms"] == 1, n
    assert abs(n["totals_gap"] - 0.35) < 1e-9, n
    buf = io.StringIO()
    res = report([a, b], [3], 5, "floor", out=buf)
    assert res["first 3"]["rows"] == 1 and "q_floor: 0.700 / 0.600 s" in buf.getvalue(), buf.getvalue()
    print("bench_aa self-test ok")


def main(argv):
    if argv[1:] == ["--self-test"]:
        self_test()
        return 0
    ap = argparse.ArgumentParser(description="A/A noise of two graft.Bench detail artifacts")
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--reps", type=int, action="append", metavar="N",
                    help="also replay the median of the first N reps (repeatable; default 3)")
    ap.add_argument("--stream-floor", type=int, default=5, metavar="K",
                    help="streaming rows take at least K reps (default 5)")
    ap.add_argument("--rows", metavar="REGEX", help="only rows whose name matches")
    args = ap.parse_args(argv[1:])
    arts = []
    for path in (args.a, args.b):
        with open(path) as f:
            arts.append(json.load(f))
    report(arts, args.reps or [3], args.stream_floor, args.rows)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
