#!/usr/bin/env python3
"""Timeline of one perfbench job from a traced run's raw record.

Reads the `result.json` that `perfbench/run.py --trace 1` leaves in
`.bench_build/work/<workload>/` and prints, for one benchmark job (batch job
index, 0 = cold): its spans, the Spark jobs that started inside it, the
Catalyst phases, the idle gaps between Spark jobs, and how long two or more
Spark jobs ran at once (concurrent sink writes). Offsets are in ms from the
job's start. Each Spark job is attributed to the innermost span it
starts in, and each span line says how long it ran before its first Spark
job (driver-only time, e.g. plan building). Each Spark job's task time is
given three ways: `run_ms` (executor run time, the tasks' wall time, which
includes waiting for a core, on locks and on I/O), `cpu_ms` (executor CPU
time) and `gc_ms` (JVM GC time).

Usage:
  python3 tools/perf_timeline.py RESULT_JSON JOB_INDEX
  python3 tools/perf_timeline.py --self-test

It only reads perfbench's output; it does not run anything.
"""
import io
import json
import sys

# Spark stamps job and phase events in whole ms; an event up to 1 ms
# before a span's start still belongs to it (the convention of
# perfbench/metrics.py).
SLACK_US = 1000


def timeline(res, idx):
    """Everything the report prints, as plain data."""
    job = next((j for j in res["jobs"] if j["idx"] == idx), None)
    if job is None:
        raise SystemExit(f"no benchmark job {idx} in this record "
                         f"(have {sorted(j['idx'] for j in res['jobs'])})")
    t0, t1 = job["start_us"], job["end_us"]

    def off(us):
        return (us - t0) / 1e3

    spans = sorted((s for s in res["spans"] if s["job"] == idx), key=lambda s: (s["start_us"], -s["end_us"]))
    depth = {}
    for s in spans:
        depth[s["id"]] = depth.get(s["parent"], -1) + 1

    def host(us):
        inner = [(s["end_us"] - s["start_us"], s["name"]) for s in spans
                 if s["start_us"] - SLACK_US <= us < s["end_us"]]
        return min(inner)[1] if inner else "-"

    tasks = {}
    for t in res["tasks"]:
        tasks.setdefault(t["job"], []).append(t)
    jobs = []
    for sj in sorted(res["spark_jobs"], key=lambda j: (j["start_ms"], j["id"])):
        s_us, e_us = sj["start_ms"] * 1000, sj["end_ms"] * 1000
        if not (t0 - SLACK_US <= s_us <= t1):
            continue
        ts = tasks.get(sj["id"], [])
        jobs.append({
            "id": sj["id"], "start_ms": off(s_us), "end_ms": off(e_us) if sj["end_ms"] > 0 else None,
            "span": host(s_us), "tasks": len(ts),
            "task_run_ms": sum(t["run_ms"] for t in ts),
            "task_cpu_ms": sum(t["cpu_ms"] for t in ts),
            "task_gc_ms": sum(t["gc_ms"] for t in ts),
            "input_rows": sum(t["input_rows"] for t in ts),
            "shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in ts),
            "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in ts),
        })

    span_rows = []
    for s in spans:
        inside = [j["start_ms"] for j in jobs
                  if s["start_us"] - SLACK_US <= t0 + j["start_ms"] * 1e3 < s["end_us"]]
        span_rows.append({
            "name": s["name"], "depth": depth[s["id"]], "start_ms": off(s["start_us"]),
            "end_ms": off(s["end_us"]), "ms": (s["end_us"] - s["start_us"]) / 1e3,
            "jobs": len(inside),
            "pre_job_ms": (min(inside) - off(s["start_us"])) if inside else None,
        })

    phases = [{"phase": p["phase"], "start_ms": off(p["start_ms"] * 1000), "ms": p["end_ms"] - p["start_ms"],
               "span": host(p["start_ms"] * 1000)}
              for p in sorted(res["phases"], key=lambda p: p["start_ms"])
              if t0 - SLACK_US <= p["start_ms"] * 1000 <= t1]

    # idle gaps: stretches of the job with no Spark job running
    # (a job with no end runs to the end of the benchmark job)
    total = off(t1)
    gaps, cursor = [], 0.0
    for j in sorted(jobs, key=lambda j: j["start_ms"]):
        if j["start_ms"] > cursor:
            gaps.append({"start_ms": cursor, "ms": j["start_ms"] - cursor, "span": host(t0 + cursor * 1e3)})
        cursor = max(cursor, total if j["end_ms"] is None else j["end_ms"])
    if total > cursor:
        gaps.append({"start_ms": cursor, "ms": total - cursor, "span": host(t0 + cursor * 1e3)})
    overlap_ms, max_jobs = overlap(jobs, total)
    return {"idx": idx, "wall_ms": total, "spans": span_rows, "spark_jobs": jobs,
            "phases": phases, "gaps": gaps, "overlap_ms": overlap_ms, "max_concurrent_jobs": max_jobs}


def overlap(jobs, total):
    """(ms during which two or more Spark jobs ran, most jobs running at
    once); a job with no end runs to the end of the benchmark job."""
    # at equal times an end sorts before a start: back-to-back jobs do not overlap
    events = sorted([(j["start_ms"], 1) for j in jobs] +
                    [(total if j["end_ms"] is None else j["end_ms"], -1) for j in jobs])
    running, most, ms, prev = 0, 0, 0.0, None
    for at, step in events:
        if running >= 2:
            ms += at - prev
        running += step
        most = max(most, running)
        prev = at
    return ms, most


def fmt_ms(v):
    return "-" if v is None else f"{v:9.1f}"


def report(tl, out=sys.stdout):
    w = out.write
    w(f"job {tl['idx']}: {tl['wall_ms']:.1f} ms wall, {len(tl['spark_jobs'])} Spark jobs\n\n")
    w("spans (offsets in ms from the job start)\n")
    w(f"  {'span':<28}{'start':>9}{'end':>10}{'ms':>10}{'jobs':>6}{'pre-job':>10}\n")
    for s in tl["spans"]:
        name = "  " * s["depth"] + s["name"]
        w(f"  {name:<28}{fmt_ms(s['start_ms'])}{fmt_ms(s['end_ms']):>10}{fmt_ms(s['ms']):>10}"
          f"{s['jobs']:>6}{fmt_ms(s['pre_job_ms']):>10}\n")
    w("\nSpark jobs\n")
    w(f"  {'id':>5}{'start':>9}{'end':>10}{'ms':>8}{'tasks':>7}{'run_ms':>8}{'cpu_ms':>8}{'gc_ms':>7}{'in_rows':>10}"
      f"{'sh_read_B':>11}{'sh_write_B':>12}  span\n")
    for j in tl["spark_jobs"]:
        dur = None if j["end_ms"] is None else j["end_ms"] - j["start_ms"]
        w(f"  {j['id']:>5}{fmt_ms(j['start_ms'])}{fmt_ms(j['end_ms']):>10}{fmt_ms(dur):>8}{j['tasks']:>7}"
          f"{j['task_run_ms']:>8}{j['task_cpu_ms']:>8.0f}{j['task_gc_ms']:>7}{j['input_rows']:>10}{j['shuffle_read_bytes']:>11}"
          f"{j['shuffle_write_bytes']:>12}  {j['span']}\n")
    w("\nCatalyst phases\n")
    for p in tl["phases"]:
        w(f"  {p['phase']:<14}{fmt_ms(p['start_ms'])}{p['ms']:>8} ms  {p['span']}\n")
    w("\nidle gaps (no Spark job running)\n")
    for g in tl["gaps"]:
        w(f"  at {fmt_ms(g['start_ms'])}  {g['ms']:8.1f} ms  {g['span']}\n")
    w(f"  total {sum(g['ms'] for g in tl['gaps']):.1f} ms\n")
    w(f"\noverlap: {tl['overlap_ms']:.1f} ms with 2+ Spark jobs running, "
      f"at most {tl['max_concurrent_jobs']} at once\n")


def self_test():
    """A synthetic two-span job: checks attribution, pre-job time and gaps."""
    base = 1_000_000_000  # us; a whole number of ms
    ms = base // 1000
    res = {
        "jobs": [{"idx": 2, "start_us": base, "end_us": base + 100_000}],
        "spans": [
            {"id": 1, "name": "dedup.build", "start_us": base, "end_us": base + 60_000, "parent": 0, "job": 2},
            {"id": 2, "name": "sinks.write", "start_us": base + 60_000, "end_us": base + 100_000, "parent": 0, "job": 2},
            {"id": 3, "name": "dedup.build", "start_us": base - 50_000, "end_us": base - 1, "parent": 0, "job": 1},
        ],
        "spark_jobs": [
            {"id": 7, "start_ms": ms + 20, "end_ms": ms + 30},
            {"id": 8, "start_ms": ms + 40, "end_ms": ms + 55},
            {"id": 9, "start_ms": ms + 70, "end_ms": ms + 95},
            {"id": 3, "start_ms": ms - 40, "end_ms": ms - 30},  # belongs to job 1
        ],
        "tasks": [
            {"job": 7, "run_ms": 4, "cpu_ms": 3.25, "gc_ms": 1, "input_rows": 10,
             "shuffle_read_bytes": 0, "shuffle_write_bytes": 64},
            {"job": 7, "run_ms": 5, "cpu_ms": 2.5, "gc_ms": 0, "input_rows": 12,
             "shuffle_read_bytes": 0, "shuffle_write_bytes": 32},
            {"job": 9, "run_ms": 20, "cpu_ms": 18.0, "gc_ms": 2, "input_rows": 0,
             "shuffle_read_bytes": 96, "shuffle_write_bytes": 0},
        ],
        "phases": [{"phase": "planning", "start_ms": ms + 62, "end_ms": ms + 66}],
    }
    tl = timeline(res, 2)
    assert [j["id"] for j in tl["spark_jobs"]] == [7, 8, 9], tl["spark_jobs"]
    j7 = tl["spark_jobs"][0]
    assert (j7["tasks"], j7["task_run_ms"], j7["input_rows"], j7["shuffle_write_bytes"]) == (2, 9, 22, 96)
    assert (j7["task_cpu_ms"], j7["task_gc_ms"]) == (5.75, 1), j7
    j8 = tl["spark_jobs"][1]
    assert (j8["tasks"], j8["task_run_ms"], j8["task_cpu_ms"], j8["task_gc_ms"]) == (0, 0, 0, 0), j8
    assert [j["span"] for j in tl["spark_jobs"]] == ["dedup.build", "dedup.build", "sinks.write"]
    build, sink = tl["spans"]
    assert (build["jobs"], build["pre_job_ms"]) == (2, 20.0), build
    assert (sink["jobs"], sink["pre_job_ms"]) == (1, 10.0), sink
    assert [(g["start_ms"], g["ms"]) for g in tl["gaps"]] == [(0.0, 20.0), (30.0, 10.0), (55.0, 15.0), (95.0, 5.0)]
    assert tl["gaps"][2]["span"] == "dedup.build" and tl["gaps"][3]["span"] == "sinks.write"
    assert tl["phases"] == [{"phase": "planning", "start_ms": 62.0, "ms": 4, "span": "sinks.write"}]
    assert (tl["overlap_ms"], tl["max_concurrent_jobs"]) == (0.0, 1)
    buf = io.StringIO()
    report(tl, out=buf)
    assert "3 Spark jobs" in buf.getvalue()
    row7 = next(l for l in buf.getvalue().splitlines() if l.split()[:1] == ["7"])
    # id start end ms tasks run_ms cpu_ms gc_ms in_rows ...: cpu and gc sit next to run
    assert row7.split()[5:9] == ["9", "6", "1", "22"], row7
    assert "overlap: 0.0 ms with 2+ Spark jobs running, at most 1 at once" in buf.getvalue()

    # overlapping jobs (two sinks writing at once): 2 running over 20-30
    # and 40-50, 3 over 30-40; the job that starts as another ends and the
    # one that never ends (runs to 100) add nothing
    res["spark_jobs"] = [
        {"id": 7, "start_ms": ms + 10, "end_ms": ms + 50},
        {"id": 8, "start_ms": ms + 20, "end_ms": ms + 40},
        {"id": 9, "start_ms": ms + 30, "end_ms": ms + 60},
        {"id": 10, "start_ms": ms + 60, "end_ms": ms + 70},
        {"id": 11, "start_ms": ms + 80, "end_ms": 0},
    ]
    tl = timeline(res, 2)
    assert (tl["overlap_ms"], tl["max_concurrent_jobs"]) == (30.0, 3), tl
    assert [(g["start_ms"], g["ms"]) for g in tl["gaps"]] == [(0.0, 10.0), (70.0, 10.0)], tl["gaps"]
    buf = io.StringIO()
    report(tl, out=buf)
    assert "overlap: 30.0 ms with 2+ Spark jobs running, at most 3 at once" in buf.getvalue()
    print("perf_timeline self-test ok")


def main(argv):
    if argv[1:] == ["--self-test"]:
        self_test()
        return 0
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    with open(argv[1]) as f:
        res = json.load(f)
    report(timeline(res, int(argv[2])))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
