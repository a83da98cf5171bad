"""Turns the harness's raw records into end-to-end and per-layer metrics."""
import glob
import json
import math
import os
import statistics

# Batch jobs 0 (cold) and 1 (settling) are not warm.
WARM_FROM = 2
# Percentiles a timing may be reported at; the highest one with at least
# ten samples beyond it is used.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def rank(p, n):
    """1-based nearest rank of the p-th percentile of n samples (rounded
    first, so that 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 6)))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    s = sorted(values)
    return s[rank(p, len(s)) - 1]


def tail_pct(n):
    """The highest ladder percentile that leaves >= 10 of n samples beyond
    it, or None when the sample is too small for any."""
    for p in TAIL_LADDER:
        if n - rank(p, n) >= 10:
            return p
    return None


def weighted_percentile(pairs, p):
    """Nearest-rank percentile over (value, weight) pairs."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    need = rank(p, total)
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= need:
            return v
    return pairs[-1][0]


def tail_summary(values, prefix):
    """Median and highest supported tail percentile (in s), with the sample
    count."""
    out = {f"{prefix}_p50_s": statistics.median(values), f"{prefix}_n": len(values)}
    p = tail_pct(len(values))
    if p is not None:
        out[f"{prefix}_p{p:g}_s"] = percentile(values, p)
    return out


# ------------------------------------------------------------ cdc mapping

def file_batches(checkpoint):
    """file name -> micro-batch id, from the file source's metadata log
    (plain entries and the compacted files written every 10 batches)."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def cdc_events(res):
    """Per-file (due us, commit us, events) of the timed files, and the
    generator's lateness (released - due) per file in us."""
    extra = res["extra"]
    batches = file_batches(extra["cdc_checkpoint"])
    commits = {c["batch"]: c["commit_us"] for c in extra["cdc_commits"]}
    rows, late = [], []
    for f in extra["cdc_files"]:
        rows.append((f["due_us"], commits[batches[f["file"]]], f["events"]))
        late.append(f["released_us"] - f["due_us"])
    return rows, late


# ------------------------------------------------------------ end to end

def end_to_end(workload, res, input_rows):
    """(contract metrics, report extras). Times in the units their names say."""
    jobs = sorted(res["jobs"], key=lambda j: j["idx"])
    setup = [u / 1e6 for u in res["setup_us"]]
    first = (jobs[0]["end_us"] - jobs[0]["start_us"]) / 1e6
    extras = {"cores": res["cores"], "setup_samples": len(setup)}
    if workload == "cdc_sync":
        rows, late = cdc_events(res)
        lat = [((c - d) / 1e3, n) for d, c, n in rows]
        events = sum(n for _, _, n in rows)
        window = (max(c for _, c, _ in rows) - res["extra"]["cdc_window_start_us"]) / 1e6
        p50 = weighted_percentile(lat, 50)
        extras["event_latency_p50_ms"] = p50
        p = tail_pct(events)
        if p is not None:
            extras[f"event_latency_p{p:g}_ms"] = weighted_percentile(lat, p)
        extras["event_latency_n"] = events
        extras["events_per_s"] = events / window
        extras["offered_events_per_s"] = events / (len(rows) * res["extra"]["cdc_interval_ms"] / 1e3)
        extras["generator_late_p50_ms"] = statistics.median(late) / 1e3
        extras["generator_late_max_ms"] = max(late) / 1e3
        extras["micro_batches"] = len(res["extra"]["cdc_commits"])
        # processing rate: events applied per second of micro-batch wall
        # time, the streaming analogue of a batch job's rows per second
        timed = timed_batches(res)
        latency_ms = p50
        rows_per_s = sum(p["rows"] for p in timed) / (
            sum(p["durations"].get("triggerExecution", 0) for p in timed) / 1e3)
    else:
        warm = [(j["end_us"] - j["start_us"]) / 1e6 for j in jobs if j["idx"] >= WARM_FROM]
        extras.update(tail_summary(warm, "job"))
        latency_ms = statistics.median(warm) * 1e3
        rows_per_s = input_rows / statistics.median(warm)
    metrics = {
        # the JVM's first create pays class loading and the first
        # SparkContext start; the re-creates after it pay what every create does
        "setup_s": statistics.median(setup[1:]),
        "setup_cold_s": setup[0],
        "first_job_s": first,
        "latency_p50_ms": latency_ms,
        "rows_per_s": rows_per_s,
        "peak_rss_mb": res["vm_hwm_kb"] / 1024.0,
    }
    return metrics, extras


# ------------------------------------------------------------ per layer

LAYER_OF = {"api": "api", "text": "text", "dedup": "dedup",
            "sinks": "sinks", "cache": "cache", "cdc": "streaming", "job": "harness"}


def _union(intervals, lo, hi):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def timed_batches(res):
    """Progress records of the micro-batches after the warm-up ones."""
    warm = res["extra"]["cdc_warmup_batches"]
    return [p for p in res["extra"]["cdc_progress"] if p["batch"] >= warm]


def _units(workload, res):
    """Warm units of work as (id, start us, end us): warm jobs, or for
    cdc_sync the micro-batches of the timed window (from query progress)."""
    if workload == "cdc_sync":
        return [(p["batch"], p["start_ms"] * 1000,
                 (p["start_ms"] + p["durations"].get("triggerExecution", 0)) * 1000)
                for p in timed_batches(res)]
    return [(j["idx"], j["start_us"], j["end_us"]) for j in res["jobs"] if j["idx"] >= WARM_FROM]


def per_layer(workload, res, outcome):
    """Every per-layer metric, averaged per warm unit of work where it is a
    per-job quantity. Layers a workload does not reach report 0."""
    units = _units(workload, res)
    n = max(1, len(units))

    def unit_of(t_us):
        # Spark stamps events in whole ms: allow one ms before a unit starts
        for uid, s, e in units:
            if s - 1000 <= t_us <= e:
                return uid
        return None

    jobs = [(j["id"], j["start_ms"] * 1000, j["end_ms"] * 1000) for j in res["spark_jobs"]]
    job_unit = {jid: unit_of(s) for jid, s, _ in jobs}
    warm_jobs = {jid for jid, u in job_unit.items() if u is not None}
    tasks = [t for t in res["tasks"] if t["job"] in warm_jobs]
    stages = {t["stage"] for t in tasks}
    phases = [p for p in res["phases"] if unit_of(p["start_ms"] * 1000) is not None]
    spans = [s for s in res["spans"] if s["job"] >= WARM_FROM]
    bench_jobs = [j for j in res["jobs"] if j["idx"] >= WARM_FROM]
    m = {}

    def per_unit(x):
        return x / n

    def span_ms(name):
        return sum(s["end_us"] - s["start_us"] for s in spans if s["name"] == name) / 1e3

    # setup
    m["setup.register_ms"] = res["register_us"] / 1e3
    # api
    m["api.parse_ms"] = per_unit(span_ms("api.parse"))
    pre = []
    for s in spans:
        if s["name"] == "api.run":
            starts = [js for _, js, _ in jobs if s["start_us"] - 1000 <= js <= s["end_us"]]
            if starts:
                pre.append(min(starts) - s["start_us"])
    m["api.pre_exec_ms"] = statistics.median(pre) / 1e3 if pre else 0.0
    # catalyst
    m["catalyst.actions"] = per_unit(sum(1 for p in phases if p["phase"] == "analysis"))
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = per_unit(sum(p["end_ms"] - p["start_ms"] for p in phases if p["phase"] == ph))
    # codegen
    m["codegen.compile_ms"] = per_unit(sum(j["compile_ns"] for j in bench_jobs) / 1e6)
    m["codegen.classes"] = per_unit(sum(j["classes"] for j in bench_jobs))
    cold = [j for j in res["jobs"] if j["idx"] == 0]
    m["codegen.first_job_compile_ms"] = cold[0]["compile_ns"] / 1e6 if cold else 0.0
    m["codegen.first_job_classes"] = cold[0]["classes"] if cold else 0
    # exec
    wall_us = sum(e - s for _, s, e in units)
    run_ms = sum(t["run_ms"] for t in tasks)
    m["exec.jobs"] = per_unit(len(warm_jobs))
    m["exec.stages"] = per_unit(len(stages))
    m["exec.tasks"] = per_unit(len(tasks))
    m["exec.task_run_ms"] = per_unit(run_ms)
    m["exec.task_cpu_ms"] = per_unit(sum(t["cpu_ms"] for t in tasks))
    m["exec.gc_ms"] = per_unit(sum(t["gc_ms"] for t in tasks))
    m["exec.task_deser_ms"] = per_unit(sum(t["deser_ms"] for t in tasks))
    m["exec.sched_delay_ms"] = per_unit(sum(
        max(0, t["duration_ms"] - t["run_ms"] - t["deser_ms"] - t["result_ser_ms"] - t["getting_result_ms"])
        for t in tasks))
    durs = [t["run_ms"] for t in tasks]
    m["exec.task_p50_ms"] = statistics.median(durs) if durs else 0.0
    m["exec.task_max_ms"] = max(durs) if durs else 0.0
    m["exec.busy_frac"] = run_ms * 1e3 / (wall_us * res["cores"]) if wall_us else 0.0
    # sources, shuffle, sinks
    m["sources.bytes_read"] = per_unit(sum(t["input_bytes"] for t in tasks))
    m["sources.rows_read"] = per_unit(sum(t["input_rows"] for t in tasks))
    m["shuffle.write_bytes"] = per_unit(sum(t["shuffle_write_bytes"] for t in tasks))
    m["shuffle.read_bytes"] = per_unit(sum(t["shuffle_read_bytes"] for t in tasks))
    m["shuffle.fetch_wait_ms"] = per_unit(sum(t["fetch_wait_ms"] for t in tasks))
    m["spill.bytes"] = per_unit(sum(t["spill_bytes"] for t in tasks))
    m["sinks.bytes_written"] = per_unit(sum(t["output_bytes"] for t in tasks))
    m["sinks.rows_written"] = per_unit(sum(t["output_rows"] for t in tasks))
    if workload == "cdc_sync":
        versions = [c["files"] for c in res["extra"]["cdc_commits"]
                    if c["batch"] >= res["extra"]["cdc_warmup_batches"]]
        m["sinks.files_written"] = statistics.median(versions) if versions else 0
    else:
        m["sinks.files_written"] = outcome.get("files_written", 0)
    # text, dedup, cache
    m["text.build_ms"] = per_unit(span_ms("text.build"))
    m["dedup.build_ms"] = per_unit(span_ms("dedup.build"))
    m["dedup.build_jobs"] = per_unit(sum(
        1 for _, js, _ in jobs for s in spans
        if s["name"] == "dedup.build" and s["start_us"] - 1000 <= js <= s["end_us"]))
    m["dedup.pairs"] = res["extra"].get("dedup_pairs", 0)
    m["dedup.removed"] = outcome.get("removed", 0)
    m["cache.peak_bytes"] = max((j["cache_peak_bytes"] for j in bench_jobs), default=0)
    m["cache.tracked_after"] = res["extra"].get("cache_tracked_after", 0)
    m["cache.release_ms"] = per_unit(span_ms("cache.release"))
    # streaming, cdc
    prog = timed_batches(res) if workload == "cdc_sync" else []

    def p50(key):
        vals = [p["durations"].get(key, 0) for p in prog]
        return statistics.median(vals) if vals else 0.0

    m["streaming.batches"] = len(prog)
    m["streaming.rows_per_batch_p50"] = statistics.median([p["rows"] for p in prog]) if prog else 0.0
    m["streaming.trigger_ms_p50"] = p50("triggerExecution")
    m["streaming.add_batch_ms_p50"] = p50("addBatch")
    m["streaming.query_planning_ms_p50"] = p50("queryPlanning")
    m["streaming.wal_commit_ms_p50"] = p50("walCommit")
    m["streaming.commit_offsets_ms_p50"] = p50("commitOffsets")
    m["streaming.latest_offset_ms_p50"] = p50("latestOffset")
    if workload == "cdc_sync" and prog:
        start = res["extra"]["cdc_window_start_us"]
        end = max(c["commit_us"] for c in res["extra"]["cdc_commits"])
        busy = sum(p["durations"].get("triggerExecution", 0) for p in prog) * 1e3
        m["streaming.idle_frac"] = max(0.0, 1 - busy / (end - start))
        commits = [c for c in res["extra"]["cdc_commits"]
                   if c["batch"] >= res["extra"]["cdc_warmup_batches"]]
        events = sum(f["events"] for f in res["extra"]["cdc_files"])
        m["cdc.snapshot_bytes_per_event"] = sum(c["bytes"] for c in commits) / events
        _, late = cdc_events(res)
        m["cdc.generator_late_max_ms"] = max(late) / 1e3
    else:
        m["streaming.idle_frac"] = 0.0
        m["cdc.snapshot_bytes_per_event"] = 0.0
        m["cdc.generator_late_max_ms"] = 0.0
    m["cdc.snapshot_rows"] = outcome.get("snapshot_rows", 0)
    # jvm
    m["jvm.gc_ms"] = res["jvm_gc_ms"]
    m["jvm.peak_heap_mb"] = res["jvm_peak_heap_bytes"] / 2**20
    triggers = [{"id": -1 - p["batch"], "name": "cdc.trigger", "start_us": p["start_ms"] * 1000,
                 "end_us": (p["start_ms"] + p["durations"].get("triggerExecution", 0)) * 1000, "parent": 0}
                for p in prog]
    m.update(self_times(spans + triggers, jobs, phases, n))
    return m


SELF_LAYERS = ("harness", "api", "catalyst", "exec", "text", "dedup", "sinks", "cache", "streaming")


def self_times(spans, jobs, phases, n):
    """Self time per layer and warm unit: a span's duration minus the part of
    it its children cover. Spark jobs (exec) and Catalyst phases (catalyst)
    are leaves under the innermost benchmark span that contains them; a
    layer's leaves count once where they overlap, and Catalyst time inside a
    running Spark job counts as exec."""
    nodes = [(s["id"], LAYER_OF.get(s["name"].split(".")[0], "harness"), s["start_us"], s["end_us"],
              s["parent"]) for s in spans]
    children = {i: [] for i, *_ in nodes}
    for i, _, s, e, parent in nodes:
        if parent in children:
            children[parent].append((s, e))
    hosted = {i: {"exec": [], "catalyst": []} for i in children}
    leaves = [("exec", s, e) for _, s, e in jobs if e > 0] + \
             [("catalyst", p["start_ms"] * 1000, p["end_ms"] * 1000) for p in phases]
    for layer, s, e in leaves:
        inner = [(ne - ns, i) for i, _, ns, ne, _ in nodes if ns - 1000 <= s < ne]
        if inner:
            hosted[min(inner)[1]][layer].append((s, e))
    out = {f"self.{layer}_ms": 0.0 for layer in SELF_LAYERS}
    for i, layer, s, e, _ in nodes:
        ex, ca = hosted[i]["exec"], hosted[i]["catalyst"]
        exec_us = _union(ex, s, e)
        both_us = _union(ex + ca, s, e)
        out["self.exec_ms"] += exec_us / 1e3
        out["self.catalyst_ms"] += (both_us - exec_us) / 1e3
        out[f"self.{layer}_ms"] += (e - s - _union(children[i] + ex + ca, s, e)) / 1e3
    return {k: v / n for k, v in out.items()}
