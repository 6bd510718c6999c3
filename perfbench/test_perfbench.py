"""The benchmark's own tests: seeded generators, the stats helpers and the
operation tally.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_playlists(self):
        self.assertEqual(gen.playlists(7, 2000, 50), gen.playlists(7, 2000, 50))

    def test_other_seed_other_playlists(self):
        self.assertNotEqual(gen.playlists(7, 2000, 50), gen.playlists(8, 2000, 50))

    def test_playlist_shape(self):
        pls = gen.playlists(3, 2000, 50)
        self.assertEqual(len(pls), 51)
        for pl in pls:
            self.assertTrue(1 <= len(pl) <= 5)
            self.assertEqual(len(set(pl)), len(pl))
            self.assertTrue(all(0 <= p < 2000 for p in pl))

    def test_popularity_skew(self):
        counts = {}
        for pl in gen.playlists(5, 2000, 2000):
            for p in pl:
                counts[p] = counts.get(p, 0) + 1
        top = sorted(counts.values(), reverse=True)
        self.assertGreater(top[0], 20 * top[len(top) // 2])

    def test_same_seed_same_batches(self):
        ids = list(range(500))
        self.assertEqual(gen.batch_slices(7, ids, 6), gen.batch_slices(7, ids, 6))

    def test_other_seed_other_batches(self):
        ids = list(range(500))
        self.assertNotEqual(gen.batch_slices(7, ids, 6), gen.batch_slices(8, ids, 6))

    def test_batches_partition_the_corpus(self):
        slices = gen.batch_slices(9, list(range(500)), 6)
        self.assertEqual(sorted(d for s in slices for d in s), list(range(500)))
        self.assertEqual(sorted(len(s) for s in slices), [83, 83, 83, 83, 84, 84])

    def test_tables_are_deterministic(self):
        self.assertEqual(gen.tables(0.0005, 42), gen.tables(0.0005, 42))
        self.assertNotEqual(gen.tables(0.0005, 42)["orders"], gen.tables(0.0005, 43)["orders"])

    def test_tables_write_with_fixture_schema(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(d, 0.0005, 1)
            for name, cols in gen.arrow_types().items():
                schema = pq.read_schema(os.path.join(d, f"{name}.parquet"))
                self.assertEqual(schema.names, list(cols))
            lineitem = pq.read_table(os.path.join(d, "lineitem.parquet"))
            parts = gen.row_counts(0.0005)["part"]
            self.assertTrue(all(0 <= p < parts for p in lineitem.column("l_partkey").to_pylist()))


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)

    def test_no_percentile_without_ten_samples_beyond(self):
        self.assertIsNone(stats.tail([1.0] * 39))
        self.assertIsNone(stats.tail(list(range(10))))

    def test_percentile_needs_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 41)]       # 40 samples: p75 leaves 10
        self.assertEqual(stats.tail(xs), (75.0, 30.0))
        xs = [float(i) for i in range(1, 101)]      # 100 samples: p90 leaves 10
        self.assertEqual(stats.tail(xs), (90.0, 90.0))
        xs = [float(i) for i in range(1, 1001)]     # 1000 samples: p99 leaves 10
        self.assertEqual(stats.tail(xs), (99.0, 990.0))


class TallyTest(unittest.TestCase):
    OPS = [{"kind": "request", "s": 1.0, "ok": True, "traced": False},
           {"kind": "request", "s": 9.0, "ok": False, "traced": False},
           {"kind": "check:probe_response", "s": 0.0, "ok": False, "traced": False},
           {"kind": "request", "s": 2.0, "ok": True, "traced": True},
           {"kind": "request", "s": 3.0, "ok": True, "traced": False}]

    def test_failed_ops_count_against_attempted(self):
        self.assertEqual(stats.tally(self.OPS), (5, 2))

    def test_latency_excludes_failed_and_traced_ops(self):
        res = {"workload": "serve", "ops": self.OPS, "loop_s": 60.0,
               "session_s": 1.0, "warmup_s": 2.0, "setup_samples": [3.0, 5.0, 4.0]}
        m = run.end_to_end(res)
        self.assertEqual(m["op_p50_s"]["value"], 2.0)
        self.assertEqual(m["ops_per_min"]["value"], 2.0)
        self.assertEqual(m["setup_s"]["value"], 7.0)


if __name__ == "__main__":
    unittest.main()
