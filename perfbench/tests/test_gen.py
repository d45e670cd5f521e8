"""Tests of the benchmark's input generator and result arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
import run  # noqa: E402


def tree_bytes(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            with open(os.path.join(d, n), "rb") as fh:
                out[os.path.relpath(os.path.join(d, n), root)] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_arrivals(self):
        a, b = gen.arrivals(5), gen.arrivals(5)
        self.assertEqual(gen.digest(a[0]), gen.digest(b[0]))
        self.assertEqual(a[1:], b[1:])
        with tempfile.TemporaryDirectory() as t1, tempfile.TemporaryDirectory() as t2:
            self.assertEqual(gen.write_arrivals(5, t1), gen.write_arrivals(5, t2))
            self.assertEqual(tree_bytes(t1), tree_bytes(t2))

    def test_different_seed_gives_different_arrivals(self):
        self.assertNotEqual(gen.digest(gen.arrivals(5)[0]), gen.digest(gen.arrivals(6)[0]))

    def test_arrivals_mix_plain_gzip_and_corrupt_lines(self):
        files, groups, corrupt = gen.arrivals(3)
        self.assertTrue(any(f.endswith(".gz") for f in files))
        self.assertTrue(any(f.endswith(".jsonl") for f in files))
        lines = 4 * 4 * 4000
        self.assertTrue(0.005 * lines < corrupt < 0.02 * lines)
        self.assertEqual(sum(n for n, _, _, _ in groups.values()), lines - corrupt)
        # Zipf skew: the most frequent key holds far more than an even share
        self.assertGreater(max(n for n, _, _, _ in groups.values()), 20 * lines / 2000)

    def test_fixture_tables_are_byte_identical_across_writes(self):
        with tempfile.TemporaryDirectory() as t1, tempfile.TemporaryDirectory() as t2:
            gen.write_fixtures(0.001, t1)
            gen.write_fixtures(0.001, t2)
            a, b = tree_bytes(t1), tree_bytes(t2)
            self.assertEqual(sorted(a), sorted(f"{t}.parquet" for t in gen.TABLES))
            self.assertEqual(a, b)

    def test_query_order_depends_only_on_seed(self):
        items = ["a", "b", "c", "d", "e", "f"]
        self.assertEqual(run.order(items, 9), run.order(list(reversed(items)), 9))
        self.assertNotEqual(run.order(items, 9), run.order(items, 10))


class MetricsTest(unittest.TestCase):

    def test_percentile_is_nearest_rank(self):
        xs = [float(x) for x in range(100, 0, -1)]
        self.assertEqual(run.percentile(xs, 90), 90.0)
        self.assertEqual(run.percentile(xs, 50), 50.0)
        self.assertEqual(run.percentile([2.0], 90), 2.0)

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(run.samples_beyond(100, 90), 10)
        self.assertEqual(run.samples_beyond(99, 90), 9)
        self.assertEqual(run.samples_beyond(20, 90), 2)
        # the median of twenty samples leaves exactly ten beyond it
        self.assertEqual(run.samples_beyond(20, 50), 10)
        self.assertEqual(run.samples_beyond(19, 50), 9)
        rec = {"setup_s": 1.0, "pass_s": 20.0, "heap_live_peak_mb": 1.0,
               "items": [{"seconds": float(i), "ok": True, "skipped": False}
                         for i in range(1, 21)]}
        _, figs = run.end_to_end(rec, 20, 0)
        self.assertEqual((figs["latency_p90_s"], figs["p90_samples_beyond"]), (18.0, 2))

    def test_fail_frac_counts_every_failed_item(self):
        rec = {"setup_s": 1.0, "pass_s": 4.0, "heap_live_peak_mb": 10.0, "items": [
            {"seconds": 1.0, "ok": True, "skipped": False},
            {"seconds": 1.0, "ok": False, "skipped": False},
            {"seconds": 1.0, "ok": False, "skipped": False},
            {"seconds": 1.0, "ok": True, "skipped": False}]}
        e2e, figs = run.end_to_end(rec, 4, 2)
        self.assertEqual(figs["fail_frac"], 0.5)
        self.assertEqual(e2e["throughput_qps"][0], 0.5)  # only correct items count

    def test_item_skipped_at_the_deadline_fails_without_a_latency(self):
        rec = {"setup_s": 1.0, "pass_s": 6.0, "heap_live_peak_mb": 10.0, "items": [
            {"seconds": 2.0, "ok": True, "skipped": False},
            {"seconds": 4.0, "ok": True, "skipped": False},
            {"seconds": 0.0, "ok": False, "skipped": True}]}
        e2e, figs = run.end_to_end(rec, 3, 1)
        self.assertAlmostEqual(figs["fail_frac"], 1 / 3)
        self.assertEqual((e2e["latency_p50_s"][0], figs["latency_samples"]), (3.0, 2))


if __name__ == "__main__":
    unittest.main()
