"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import statistics
import tempfile
import unittest

import gen
import run


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


class SeedTest(unittest.TestCase):
    def generate(self, seed):
        d = tempfile.mkdtemp()
        gen.generate(d, seed, 0.002)
        return d

    def test_same_seed_same_inputs(self):
        self.assertEqual(digest(self.generate(3)), digest(self.generate(3)))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(digest(self.generate(3)), digest(self.generate(4)))
        self.assertNotEqual(digest(self.generate(3)), digest(self.generate(-3)))

    def test_layout_the_program_reads(self):
        import pyarrow.parquet as pq
        d = self.generate(3)
        self.assertEqual(sorted(os.listdir(d)), sorted(f"{t}.parquet" for t in gen.TABLES))
        ev = pq.read_table(os.path.join(d, "events.parquet"))
        self.assertEqual(ev.column("event_id").to_pylist(), list(range(ev.num_rows)))
        self.assertEqual(ev.num_rows % 8, 0)
        ts = ev.column("ts").to_pylist()
        self.assertEqual(ts, sorted(ts))


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))
        value, pct, n = run.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_large_sample_reaches_p99(self):
        value, pct, _ = run.tail(list(range(1000)))
        self.assertEqual((value, pct), (989, 99.0))

    def test_small_sample_never_below_median(self):
        for n in range(1, 22):
            xs = list(range(n))
            value, _, _ = run.tail(xs)
            self.assertGreaterEqual(value, statistics.median(xs))
            self.assertLessEqual(value, xs[-1])

    def test_order_does_not_matter(self):
        self.assertEqual(run.tail([5, 1, 4, 2, 3] * 10), run.tail(sorted([5, 1, 4, 2, 3] * 10)))


class ContractTest(unittest.TestCase):
    def test_metrics_match_benchmark_json(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], sorted(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], run.PER_LAYER)

    def test_end_to_end_names_every_workload_reports(self):
        res = {"series": {"live.visible_ms": [1.0, 2.0, 3.0]},
               "detail": {"ingest.blocks_per_s": 50.0, "analytics.queries_per_s": 0.5,
                          "analytics.geomean_s": 0.4, "analytics.geomean_slowest_s": 0.6},
               "layers": {}, "setup": {"setup_s": 30.0}, "peak_rss_mb": 2000.0}
        for w in run.WORKLOADS:
            m = run.metrics(w, res, trace=0)
            self.assertEqual(list(m), [k for k, _ in run.END_TO_END])
            self.assertTrue(all(v["value"] > 0 for v in m.values()), (w, m))
            self.assertEqual(list(run.metrics(w, res, trace=1)), [k for k, _ in run.PER_LAYER])
        m = run.metrics("analytics", res, trace=0)
        self.assertEqual((m["latency_ms_p50"]["value"], m["latency_ms_tail"]["value"]),
                         (400.0, 600.0))


if __name__ == "__main__":
    unittest.main()
