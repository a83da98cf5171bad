"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, seconds): the same arguments
give byte-identical files. Each writes its inputs plus the ground truth the
output checks compare against. Job configs carry `__DATA__`/`__OUT__`
placeholders instead of absolute paths, so the files do not depend on where
the checkout lives.
"""
import hashlib
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes, fixed here so every run of a workload does the same amount of work.
ETL_ROWS = 250_000            # order rows, ~6 MB of parquet
ETL_FILES = 8                 # part files the orders are split into
DEDUP_DOCS = 4_000            # documents of ~380 characters
DEDUP_HIGH_CLUSTERS = 170     # planted clusters with members at Jaccard ~0.9
DEDUP_LOW_CLUSTERS = 120      # planted clusters with members at Jaccard ~0.5
DEDUP_WORDS = 60              # words per document
DEDUP_FILES = 4               # part files the documents are split into
CDC_SNAPSHOT_ROWS = 50_000    # rows of the durable snapshot at start
CDC_RATE = 1_000              # offered change events per second
CDC_FILE_INTERVAL_MS = 100    # one change file is due every 100 ms
CDC_WARMUP_FILES = 3          # released one batch at a time before the timed window

# (Jaccard band, word substitutions tried) of the planted cluster members.
# Near-duplicates sit at ~0.9 so that MinHash banding (16 bands of 4 rows)
# misses one with probability ~4e-8: at ~0.8 it misses ~2e-4 of them, and
# the planted truth would no longer be exact.
HIGH_BAND = ((0.86, 0.95), (1, 1))   # near-duplicates: clearly above 0.7
LOW_BAND = ((0.42, 0.56), (5, 10))   # look-alikes: clearly below 0.7

# Spark splits a scan by bytes (4 MB at least), not by row group: a single
# 6 MB file would be read by 2 tasks on a 4-core box. Inputs are written as
# part files, as any multi-writer upstream leaves them, so that Spark packs
# them into about one scan task per core.
_PARQUET = dict(compression="snappy", use_dictionary=True, write_statistics=True,
                row_group_size=50_000)


def _write(table, path):
    pq.write_table(table, path, **_PARQUET)


def _write_parts(table, path, parts):
    os.makedirs(path)
    step = -(-len(table) // parts)
    for i in range(parts):
        _write(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def _decimal_cents(cents, precision=12):
    """Arrow DECIMAL(precision, 2) column whose unscaled values are `cents`."""
    words = np.zeros((len(cents), 2), dtype=np.int64)
    words[:, 0] = cents
    words[:, 1] = np.where(cents < 0, -1, 0)
    return pa.Array.from_buffers(pa.decimal128(precision, 2), len(cents),
                                 [None, pa.py_buffer(words.tobytes())])


def _pool(rng, n, lo, hi, alphabet="abcdefghijklmnopqrstuvwxyz"):
    letters = np.array(list(alphabet))
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(letters, rng.integers(lo, hi + 1)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


# ---------------------------------------------------------------- etl_orders

ETL_CONF = """env {
  job.mode = "BATCH"
}
source {
  LocalFile {
    path = "__DATA__/orders"
    file_format_type = "parquet"
    plugin_output = "orders"
  }
}
transform {
  Filter {
    plugin_input = "orders"
    plugin_output = "kept"
    include_fields = [order_id, customer, status, region, amount, qty, ts]
  }
  Replace {
    plugin_input = "kept"
    plugin_output = "replaced"
    replace_field = "customer"
    pattern = "cust-"
    replacement = "C"
    is_regex = false
  }
  Sql {
    plugin_input = "replaced"
    plugin_output = "clean"
    query = "SELECT order_id, TRIM(customer) AS customer, status, region, qty, amount, ROUND(amount * qty / 3, 2) AS share, DATE_FORMAT(ts, 'yyyy-MM') AS month FROM replaced WHERE status <> 'CANCELLED'"
  }
  FieldRename {
    plugin_input = "clean"
    plugin_output = "renamed"
    fields {
      customer = "customer_name"
      share = "order_share"
    }
  }
  Sql {
    plugin_input = "renamed"
    plugin_output = "agg"
    query = "SELECT region, month, COUNT(*) AS orders, SUM(qty) AS units, SUM(order_share) AS revenue FROM renamed GROUP BY region, month"
  }
}
sink {
  LocalFile {
    plugin_input = "renamed"
    path = "__OUT__/clean"
    file_format_type = "parquet"
  }
  LocalFile {
    plugin_input = "agg"
    path = "__OUT__/agg"
    file_format_type = "parquet"
  }
}
"""


def gen_etl_orders(rng, out, seconds):
    n = ETL_ROWS
    customers = pa.array([" " * int(rng.integers(0, 3)) + f"cust-{i:05d}" + " " * int(rng.integers(0, 3))
                          for i in range(20_000)])
    notes = pa.array(_pool(rng, 5_000, 30, 40))
    statuses = pa.array(["NEW", "PAID", "SHIPPED", "CANCELLED"])
    regions = pa.array([f"region_{i:02d}" for i in range(12)])
    t0 = 1_704_067_200_000_000  # 2024-01-01 UTC, microseconds
    span = 730 * 86_400_000_000
    table = pa.table({
        "order_id": pa.array(np.arange(1, n + 1, dtype=np.int64)),
        "customer": customers.take(pa.array(rng.integers(0, len(customers), n))),
        "status": statuses.take(pa.array(rng.choice(4, n, p=[0.3, 0.35, 0.25, 0.1]))),
        "region": regions.take(pa.array(rng.integers(0, len(regions), n))),
        "amount": _decimal_cents(rng.integers(100, 500_000, n)),
        "qty": pa.array(rng.integers(1, 21, n).astype(np.int32)),
        "ts": pa.array(t0 + rng.integers(0, span, n), pa.timestamp("us", tz="UTC")),
        "note": notes.take(pa.array(rng.integers(0, len(notes), n))),
    })
    _write_parts(table, os.path.join(out, "orders"), ETL_FILES)
    with open(os.path.join(out, "job.conf"), "w") as f:
        f.write(ETL_CONF)


# ----------------------------------------------------------------- llm_dedup

_TOKEN = re.compile(r"\W+")


def shingles(text, k=3):
    """Word k-shingles under the tokenization the dedup operator documents:
    lower-case, split on non-word characters."""
    toks = [t for t in _TOKEN.split(text.lower()) if t]
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b)


def _render(words):
    # a full stop every 12 words; punctuation does not change the tokens
    parts = []
    for i, w in enumerate(words):
        parts.append(w + ("." if i % 12 == 11 else ""))
    return " ".join(parts)


def _mutate(rng, root_words, root_sh, vocab, band):
    """A member derived from the root's own words, with its Jaccard to the
    root inside `band`. Substitutions are drawn until the band is hit."""
    (lo, hi), (k_lo, k_hi) = band
    for _ in range(500):
        k = int(rng.integers(k_lo, k_hi + 1))
        words = list(root_words)
        for pos in rng.choice(len(words), k, replace=False):
            words[pos] = vocab[int(rng.integers(0, len(vocab)))]
        j = jaccard(root_sh, shingles(_render(words)))
        if lo <= j <= hi:
            return words, j
    raise RuntimeError("could not plant a member inside the Jaccard band")


def gen_llm_dedup(rng, out, seconds):
    vocab = _pool(rng, 4_000, 3, 9)
    n = DEDUP_DOCS
    docs = [None] * n
    kinds = []  # (root index, [member indices], band name)
    nxt = 0
    pairs = []
    for band_name, count, band in (("high", DEDUP_HIGH_CLUSTERS, HIGH_BAND),
                                   ("low", DEDUP_LOW_CLUSTERS, LOW_BAND)):
        for _ in range(count):
            root_words = [vocab[int(i)] for i in rng.integers(0, len(vocab), DEDUP_WORDS)]
            root_sh = shingles(_render(root_words))
            root = nxt
            docs[root] = _render(root_words)
            nxt += 1
            members = []
            for _ in range(int(rng.integers(1, 4))):
                words, j = _mutate(rng, root_words, root_sh, vocab, band)
                docs[nxt] = _render(words)
                members.append(nxt)
                pairs.append((root, nxt, round(j, 4), band_name))
                nxt += 1
            kinds.append((root, members, band_name))
    while nxt < n:
        docs[nxt] = _render([vocab[int(i)] for i in rng.integers(0, len(vocab), DEDUP_WORDS)])
        nxt += 1
    ids = rng.permutation(np.arange(1, 4 * n, dtype=np.int64))[:n]
    order = rng.permutation(n)
    table = pa.table({
        "doc_id": pa.array(ids[order]),
        "text": pa.array([docs[i] for i in order]),
    })
    _write_parts(table, os.path.join(out, "docs"), DEDUP_FILES)
    # Members of a high cluster all join the root's component; the
    # component keeps its smallest id and drops the rest.
    removed = []
    for root, members, band_name in kinds:
        if band_name == "high":
            comp = sorted(int(ids[i]) for i in [root] + members)
            removed.extend(comp[1:])
    truth = {
        "docs": n,
        "removed": sorted(removed),
        "planted_pairs": [{"a": int(ids[a]), "b": int(ids[b]), "jaccard": j, "band": bn}
                          for a, b, j, bn in pairs],
    }
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)


# ------------------------------------------------------------------ cdc_sync

def gen_cdc_sync(rng, out, seconds):
    names = _pool(rng, 2_000, 4, 10)
    k0 = CDC_SNAPSHOT_ROWS
    state = {}
    ids = np.arange(1, k0 + 1, dtype=np.int64)
    name_idx = rng.integers(0, len(names), k0)
    amounts = rng.integers(0, 1_000_000, k0)
    for i in range(k0):
        state[int(ids[i])] = (names[name_idx[i]], int(amounts[i]), 0)
    _write(pa.table({
        "id": pa.array(ids),
        "name": pa.array([names[i] for i in name_idx]),
        "amount": pa.array(amounts.astype(np.int64)),
        "seq": pa.array(np.zeros(k0, dtype=np.int64)),
    }), os.path.join(out, "snapshot.parquet"))

    live = list(state.keys())
    pos = {k: i for i, k in enumerate(live)}
    next_id = k0 + 1
    seq = 0
    per_file = CDC_RATE * CDC_FILE_INTERVAL_MS // 1000
    n_files = CDC_WARMUP_FILES + seconds * 1000 // CDC_FILE_INTERVAL_MS
    ev_dir = os.path.join(out, "events")
    os.makedirs(ev_dir)
    schedule = []

    def drop(key):
        i = pos.pop(key)
        last = live.pop()
        if last != key:
            live[i] = last
            pos[last] = i

    for f in range(n_files):
        lines = []
        warmup = f < CDC_WARMUP_FILES
        due_ms = 0 if warmup else (f - CDC_WARMUP_FILES) * CDC_FILE_INTERVAL_MS
        for _ in range(per_file):
            seq += 1
            r = rng.random()
            if r < 0.7:
                key = live[int(rng.integers(0, len(live)))]
                name, amount, _ = state[key]
                after = (names[int(rng.integers(0, len(names)))] if rng.random() < 0.3 else name,
                         int(rng.integers(0, 1_000_000)), seq)
                env = {"op": "u", "before": _row(key, name, amount, seq), "after": _row(key, *after)}
                state[key] = after
            elif r < 0.9:
                key = next_id
                next_id += 1
                after = (names[int(rng.integers(0, len(names)))], int(rng.integers(0, 1_000_000)), seq)
                env = {"op": "c", "before": None, "after": _row(key, *after)}
                state[key] = after
                pos[key] = len(live)
                live.append(key)
            else:
                key = live[int(rng.integers(0, len(live)))]
                name, amount, _ = state.pop(key)
                env = {"op": "d", "before": _row(key, name, amount, seq), "after": None}
                drop(key)
            env["source"] = {"db": "shop", "table": "accounts"}
            lines.append(json.dumps(env, sort_keys=True))
        name = f"e{f:05d}.json"
        with open(os.path.join(ev_dir, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        schedule.append({"file": name, "due_ms": due_ms, "events": per_file, "warmup": warmup})
    keys = sorted(state)
    _write(pa.table({
        "id": pa.array(keys, pa.int64()),
        "name": pa.array([state[k][0] for k in keys]),
        "amount": pa.array([state[k][1] for k in keys], pa.int64()),
        "seq": pa.array([state[k][2] for k in keys], pa.int64()),
    }), os.path.join(out, "final.parquet"))
    with open(os.path.join(out, "schedule.json"), "w") as f:
        json.dump({"interval_ms": CDC_FILE_INTERVAL_MS, "files": schedule}, f, sort_keys=True)


def _row(key, name, amount, seq):
    # `seq` is the change's own sequence number: strictly increasing per
    # event, so last-change-wins is never ambiguous within a key
    return {"id": key, "name": name, "amount": amount, "seq": seq}


GENERATORS = {
    "etl_orders": gen_etl_orders,
    "llm_dedup": gen_llm_dedup,
    "cdc_sync": gen_cdc_sync,
}


def generate(workload, seed, seconds, out):
    """Write the inputs of `workload` for `seed` into `out` (created fresh)."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    GENERATORS[workload](rng, out, seconds)


def cached(root, workload, seed, seconds, keep=3):
    """Inputs for (workload, seed, seconds) under `root`, generated on first
    use. Only the `keep` most recently used input sets are kept."""
    base = os.path.join(root, workload)
    with open(os.path.abspath(__file__), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]  # new generator, new inputs
    out = os.path.join(base, f"s{seed}_t{seconds}_{version}")
    done = os.path.join(out, "DONE")
    if not os.path.exists(done):
        generate(workload, seed, seconds, out)
        open(done, "w").close()
    os.utime(done)
    sets = sorted((os.path.getmtime(os.path.join(base, d, "DONE")), d) for d in os.listdir(base)
                  if os.path.exists(os.path.join(base, d, "DONE")))
    for _, d in sets[:-keep]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return out
