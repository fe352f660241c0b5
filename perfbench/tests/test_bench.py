"""Tests of the benchmark's own Python parts.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import gen, mix, stats  # noqa: E402


def digest(directory):
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        h.update(name.encode())
        with open(os.path.join(directory, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_hive_inputs_are_deterministic_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            rows = [gen.write_hive(f"{d}/{k}", seed=s, hives=4, days=6)
                    for k, s in (("a", 7), ("b", 7), ("c", 8))]
            self.assertEqual(rows[0], rows[1])
            self.assertEqual(digest(f"{d}/a"), digest(f"{d}/b"))
            self.assertNotEqual(digest(f"{d}/a"), digest(f"{d}/c"))

    def test_tables_are_deterministic_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            for k, s in (("a", 1), ("b", 1), ("c", 2)):
                gen.write_tables(f"{d}/{k}", seed=s, sf=0.001)
            self.assertEqual(digest(f"{d}/a"), digest(f"{d}/b"))
            self.assertNotEqual(digest(f"{d}/a"), digest(f"{d}/c"))

    def test_hive_ids_match_by_suffix_only(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_hive(d, seed=3, hives=4, days=6)
            with open(f"{d}/D1_sensor_data.csv") as f:
                sensor = {line.split(",")[1] for line in list(f)[1:]}
            with open(f"{d}/population.csv") as f:
                annot = {line.split(",")[0] for line in list(f)[1:]}
            self.assertTrue(all(len(s) == 6 for s in sensor))
            self.assertTrue(all(len(a) == 4 for a in annot))
            self.assertTrue({s[-4:] for s in sensor} <= annot)


class PercentileTest(unittest.TestCase):
    def test_refuses_a_short_tail(self):
        with self.assertRaises(stats.TailTooShort):
            stats.percentile(range(100), 0.95)
        # 181 samples leave 9 beyond the p95 rank, 182 leave 10
        with self.assertRaises(stats.TailTooShort):
            stats.percentile(range(181), 0.95)

    def test_accepts_ten_samples_beyond(self):
        xs = list(range(182))
        p = stats.percentile(xs, 0.95)
        self.assertEqual(sum(1 for x in xs if x > p), 10)

    def test_median(self):
        self.assertEqual(stats.percentile([3, 1, 2], 0.5, min_tail=1), 2)
        with self.assertRaises(stats.TailTooShort):
            stats.percentile([3, 1, 2], 0.5, min_tail=3)


class FailureAccountingTest(unittest.TestCase):
    # sample rows: [op, ms, ok, traced]
    SAMPLES = [["a", 5.0, 1, 0], ["a", 5.0, 0, 0],
               ["b", 5.0, 1, 0], ["b", 5.0, 1, 0]]

    def failed(self, warm_ok, group=1):
        return sum(1 for _, ok in stats.operations(self.SAMPLES, warm_ok, group) if not ok)

    def test_failed_or_mismatched_operations_count(self):
        self.assertEqual(self.failed({"a": True, "b": True}), 1)
        # a warm-up result that fails its reference fails every execution
        self.assertEqual(self.failed({"a": True, "b": False}), 3)
        # an operation with no verdict counts as failed
        self.assertEqual(self.failed({"a": True}), 3)
        # a pass fails when any of its calls failed
        self.assertEqual(self.failed({"a": True, "b": True}, group=2), 1)
        self.assertEqual(self.failed({"a": True, "b": False}, group=2), 2)

    def test_failed_frac_and_throughput(self):
        res = {"samples": self.SAMPLES * 60, "measured_s": [2.0], "setup_s": 2.5,
               "peak_rss_mb": 100.0}
        metrics, attempted, failed = stats.end_to_end(res, {"a": True, "b": True})
        self.assertEqual((attempted, failed), (240, 60))
        self.assertEqual(metrics["throughput_qps"], 90.0)
        self.assertEqual(metrics["setup_s"], 2.5)
        # a failed operation counts as taking the whole 2 s window
        self.assertEqual(metrics["latency_p50_ms"], 5.0)
        metrics, attempted, failed = stats.end_to_end(res, {"a": True, "b": True}, group=4)
        self.assertEqual((attempted, failed, metrics["latency_p50_ms"]), (60, 60, 2000.0))


class MixTest(unittest.TestCase):
    def test_every_operation_is_tagged_with_a_module(self):
        for op in list(mix.QUERY_MIX) + list(mix.HIVE_STEPS):
            self.assertIn(mix.TAGS.get(op), mix.MODULES, op)

    def test_the_query_mix_covers_every_module(self):
        self.assertEqual({mix.TAGS[op] for op in mix.QUERY_MIX},
                         set(mix.MODULES) - {"pipelines"})


if __name__ == "__main__":
    unittest.main()
