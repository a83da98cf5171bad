"""Output checks: every sink a run writes is compared with an independent
DuckDB recompute from the generated inputs (or with the generator's ground
truth), by row count plus an order-insensitive checksum."""
import glob
import json
import os

import duckdb


def connect(tmp_dir):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def _canon(name, dtype):
    """A column rendered so that equal values agree across engines and
    physical types: money as integer cents (a reference states money in
    cents already, as BIGINT), integers as BIGINT."""
    c = '"' + name.replace('"', '""') + '"'
    t = dtype.upper()
    if t.startswith("DECIMAL"):
        return f"CAST({c} * 100 AS BIGINT)"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return f"CAST(round({c} * 100) AS BIGINT)"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UBIGINT", "UINTEGER"):
        return f"CAST({c} AS BIGINT)"
    if t == "BOOLEAN":
        return f"CAST({c} AS INTEGER)"
    if t.startswith("TIMESTAMP"):
        return f"epoch_us({c})"
    return f"CAST({c} AS VARCHAR)"


def checksum(con, relation, columns):
    """(row count, sum of row hashes) of `relation` over `columns`, in that
    order. A sum is blind to row order but not to duplicated rows."""
    desc = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    types = {row[0]: row[1] for row in desc}
    missing = [c for c in columns if c not in types]
    if missing:
        raise ValueError(f"columns {missing} missing from {relation} (has {sorted(types)})")
    exprs = ", ".join(_canon(c, types[c]) for c in columns)
    n, s = con.execute(f"SELECT count(*), coalesce(sum(hash({exprs})::HUGEINT), 0) "
                       f"FROM {relation}").fetchone()
    return int(n), int(s)


def parquet_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise ValueError(f"no parquet files in {path}")
    return "read_parquet([" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "])"


def _columns(con, relation):
    return [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()]


def compare(con, actual_rel, expected_rel):
    """None if `actual_rel` has the expected columns, row count and checksum;
    else a one-line reason."""
    cols = _columns(con, expected_rel)
    got_cols = _columns(con, actual_rel)
    if sorted(got_cols) != sorted(cols):
        return f"columns {got_cols} != {cols}"
    got, want = checksum(con, actual_rel, cols), checksum(con, expected_rel, cols)
    if got[0] != want[0]:
        return f"{got[0]} rows, expected {want[0]}"
    if got[1] != want[1]:
        return f"checksum mismatch over {got[0]} rows"
    return None


# ------------------------------------------------------------ references

def etl_reference(con, data):
    orders = f"read_parquet('{data}/orders/*.parquet')"
    # share = ROUND(amount * qty / 3, 2) in cents: amount*qty in cents is an
    # integer, so its third is never a rounding tie and (x + 1) // 3 is exact.
    # Tables, not views: every job's sinks are compared with the same rows.
    con.execute(f"""CREATE OR REPLACE TEMP TABLE ref_clean AS
        SELECT order_id, trim(replace(customer, 'cust-', 'C')) AS customer_name, status, region,
               qty, CAST(amount * 100 AS BIGINT) AS amount,
               (CAST(amount * 100 AS BIGINT) * qty + 1) // 3 AS order_share,
               strftime(make_timestamp(epoch_us(ts)), '%Y-%m') AS month
        FROM {orders} WHERE status <> 'CANCELLED'""")
    con.execute("""CREATE OR REPLACE TEMP TABLE ref_agg AS
        SELECT region, month, count(*) AS orders, sum(qty) AS units, sum(order_share) AS revenue
        FROM ref_clean GROUP BY region, month""")


def check_etl(con, data, out):
    """Reasons the job's two sinks differ from the reference (empty if none)."""
    reasons = []
    for sink, ref in (("clean", "ref_clean"), ("agg", "ref_agg")):
        try:
            reason = compare(con, parquet_dir(os.path.join(out, sink)), ref)
        except (ValueError, duckdb.Error) as e:
            reason = str(e)
        if reason:
            reasons.append(f"{sink}: {reason}")
    return reasons


def dedup_outcome(con, data, out):
    """(reasons, recall, precision, removed count) of one dedup job against
    the planted ground truth."""
    with open(os.path.join(data, "truth.json")) as f:
        truth = json.load(f)
    planted = set(truth["removed"])
    all_ids = {r[0] for r in con.execute(f"SELECT doc_id FROM read_parquet('{data}/docs/*.parquet')").fetchall()}
    try:
        kept_rows = [r[0] for r in con.execute(f"SELECT doc_id FROM {parquet_dir(out)}").fetchall()]
    except (ValueError, duckdb.Error) as e:
        return [str(e)], 0.0, 0.0, 0
    kept = set(kept_rows)
    reasons = []
    if len(kept) != len(kept_rows):
        reasons.append("duplicate documents in the output")
    if not kept <= all_ids:
        reasons.append("output holds documents not in the input")
    removed = all_ids - kept
    hit = len(removed & planted)
    recall = hit / len(planted) if planted else 1.0
    precision = hit / len(removed) if removed else 0.0
    if removed != planted:
        reasons.append(f"removed {len(removed)} documents, planted {len(planted)}, {hit} in common")
    return reasons, recall, precision, len(removed)


def check_cdc(con, data, state_dir):
    try:
        with open(os.path.join(state_dir, "_CURRENT")) as f:
            version = f.read().strip()
        rel = parquet_dir(os.path.join(state_dir, f"v{version}"))
        reason = compare(con, rel, f"read_parquet('{data}/final.parquet')")
    except (OSError, ValueError, duckdb.Error) as e:
        reason = str(e)
    return [reason] if reason else []
