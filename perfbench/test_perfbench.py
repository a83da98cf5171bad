"""Tests of the benchmark's own machinery. Run: python3 perfbench/test_perfbench.py"""
import filecmp
import json
import math
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_pct(19))   # even p75 leaves < 10 beyond
        self.assertEqual(metrics.tail_pct(40), 75.0)
        self.assertEqual(metrics.tail_pct(100), 90.0)   # p95 would leave 5
        self.assertEqual(metrics.tail_pct(200), 95.0)
        self.assertEqual(metrics.tail_pct(1000), 99.0)  # p99.9 would leave 1
        self.assertEqual(metrics.tail_pct(10_000), 99.9)
        for n in range(1, 3000):
            p = metrics.tail_pct(n)
            higher = [q for q in metrics.TAIL_LADDER if p is None or q > p]
            beyond = lambda q: n - math.ceil(q * n / 100 - 1e-9)  # noqa: E731
            if p is not None:
                self.assertGreaterEqual(beyond(p), 10, n)
            for q in higher:
                self.assertLess(beyond(q), 10, (n, q))

    def test_summary_names_the_percentile_and_count(self):
        out = metrics.tail_summary([float(i) for i in range(1, 101)], "job")
        self.assertEqual(out["job_n"], 100)
        self.assertEqual(out["job_p90_s"], 90.0)
        self.assertEqual(out["job_p50_s"], 50.5)
        self.assertNotIn("job_p95_s", out)
        self.assertEqual(set(metrics.tail_summary([1.0] * 12, "job")), {"job_p50_s", "job_n"})

    def test_weighted_percentile(self):
        self.assertEqual(metrics.weighted_percentile([(5, 1), (1, 98), (9, 1)], 50), 1)
        self.assertEqual(metrics.weighted_percentile([(5, 1), (1, 98), (9, 1)], 99.5), 9)


class ChecksumTest(unittest.TestCase):
    def setUp(self):
        self.con = check.connect(tempfile.gettempdir())
        self.con.execute("CREATE TABLE a AS SELECT * FROM (VALUES (1, 'x', 1.25), (2, 'y', 2.5), "
                         "(3, 'z', 3.75)) t(k, s, v)")

    def test_order_insensitive(self):
        self.con.execute("CREATE TABLE b AS SELECT * FROM a ORDER BY k DESC")
        cols = ["k", "s", "v"]
        self.assertEqual(check.checksum(self.con, "a", cols), check.checksum(self.con, "b", cols))
        self.assertIsNone(check.compare(self.con, "b", "a"))

    def test_sensitive_to_values_and_duplicates(self):
        cols = ["k", "s", "v"]
        self.con.execute("CREATE TABLE c AS SELECT k, s, CASE WHEN k = 2 THEN 2.51 ELSE v END AS v FROM a")
        self.con.execute("CREATE TABLE d AS SELECT * FROM a WHERE k < 3 UNION ALL SELECT * FROM a WHERE k = 1")
        base = check.checksum(self.con, "a", cols)
        self.assertNotEqual(base, check.checksum(self.con, "c", cols))
        self.assertEqual(check.checksum(self.con, "d", cols)[0], base[0])
        self.assertNotEqual(check.checksum(self.con, "d", cols), base)

    def test_cents_agree_across_physical_types(self):
        self.con.execute("CREATE TABLE e AS SELECT k, s, CAST(v * 100 AS BIGINT) AS v FROM a")
        self.con.execute("CREATE TABLE f AS SELECT k, s, CAST(v AS DECIMAL(12, 2)) AS v FROM a")
        self.assertIsNone(check.compare(self.con, "a", "e"))
        self.assertIsNone(check.compare(self.con, "f", "e"))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            for w in gen.GENERATORS:
                a, b, c = (os.path.join(tmp, w, x) for x in "abc")
                gen.generate(w, 5, 1, a)
                gen.generate(w, 5, 1, b)
                gen.generate(w, 6, 1, c)
                same = filecmp.dircmp(a, b)
                self.assertEqual(_diff_files(same), [], w)
                self.assertNotEqual(_diff_files(filecmp.dircmp(a, c)), [], w)

    def test_planted_members_derive_from_the_root(self):
        with tempfile.TemporaryDirectory() as tmp:
            gen.generate("llm_dedup", 9, 1, tmp)
            with open(os.path.join(tmp, "truth.json")) as f:
                truth = json.load(f)
            con = check.connect(tmp)
            docs = dict(con.execute(f"SELECT doc_id, text FROM read_parquet('{tmp}/docs/*.parquet')").fetchall())
        lo_high, hi_low = gen.HIGH_BAND[0][0], gen.LOW_BAND[0][1]
        for p in truth["planted_pairs"]:
            j = gen.jaccard(gen.shingles(docs[p["a"]]), gen.shingles(docs[p["b"]]))
            self.assertAlmostEqual(j, p["jaccard"], places=3)
            self.assertTrue(j >= lo_high if p["band"] == "high" else j <= hi_low)

    def test_cdc_sequence_strictly_increases(self):
        with tempfile.TemporaryDirectory() as tmp:
            gen.generate("cdc_sync", 3, 1, tmp)
            seqs = []
            for name in sorted(os.listdir(os.path.join(tmp, "events"))):
                with open(os.path.join(tmp, "events", name)) as f:
                    for line in f:
                        e = json.loads(line)
                        seqs.append((e["after"] or e["before"])["seq"])
        self.assertEqual(seqs, list(range(1, len(seqs) + 1)))


def _diff_files(d):
    out = [os.path.join(d.left, n) for n in d.diff_files + d.left_only + d.right_only]
    for sub in d.subdirs.values():
        out += _diff_files(sub)
    return out


class OpenLoopLatencyTest(unittest.TestCase):
    def test_latency_runs_from_due_time_not_release_time(self):
        with tempfile.TemporaryDirectory() as ckpt:
            log = os.path.join(ckpt, "sources", "0")
            os.makedirs(log)
            with open(os.path.join(log, "1"), "w") as f:
                f.write('v1\n{"path":"file:///x/in/e00002.json","timestamp":1,"batchId":1}\n')
            with open(os.path.join(log, "2"), "w") as f:
                f.write('v1\n{"path":"file:///x/in/e00003.json","timestamp":1,"batchId":2}\n')
            t0 = 1_000_000_000
            res = {
                "cores": 4, "setup_us": [1, 2, 3], "vm_hwm_kb": 1024,
                "jobs": [{"idx": 0, "start_us": 0, "end_us": 1}],
                "extra": {
                    "cdc_checkpoint": ckpt, "cdc_window_start_us": t0, "cdc_interval_ms": 100,
                    "cdc_warmup_batches": 1,
                    # the second file went out 300 ms late: a stall the
                    # generator suffered counts against the system
                    "cdc_files": [
                        {"file": "e00002.json", "due_us": t0, "released_us": t0 + 1_000, "events": 10},
                        {"file": "e00003.json", "due_us": t0 + 100_000, "released_us": t0 + 400_000,
                         "events": 10}],
                    "cdc_commits": [{"batch": 1, "commit_us": t0 + 500_000, "files": 0, "bytes": 0},
                                    {"batch": 2, "commit_us": t0 + 900_000, "files": 0, "bytes": 0}],
                    "cdc_progress": [
                        {"batch": 1, "start_ms": t0 // 1000, "rows": 10, "durations": {"triggerExecution": 400}},
                        {"batch": 2, "start_ms": t0 // 1000 + 500, "rows": 10,
                         "durations": {"triggerExecution": 400}}],
                },
            }
            rows, late = metrics.cdc_events(res)
            self.assertEqual(rows, [(t0, t0 + 500_000, 10), (t0 + 100_000, t0 + 900_000, 10)])
            self.assertEqual(late, [1_000, 300_000])
            e2e, extras = metrics.end_to_end("cdc_sync", res, 0)
        # latencies: 500 ms for file 1, 800 ms from due (not 500 from release)
        self.assertEqual(e2e["latency_p50_ms"], 500.0)
        # the JVM's cold create is reported apart from the re-creates' median
        self.assertEqual(e2e["setup_cold_s"], 1e-6)
        self.assertAlmostEqual(e2e["setup_s"], 2.5e-6)
        self.assertEqual(extras["event_latency_n"], 20)
        self.assertEqual(metrics.weighted_percentile([(500.0, 10), (800.0, 10)], 99), 800.0)
        self.assertEqual(extras["generator_late_max_ms"], 300.0)
        self.assertEqual(e2e["rows_per_s"], 20 / 0.8)


if __name__ == "__main__":
    unittest.main()
