"""Tests of the benchmark's own logic: tail percentiles, the seeded input
generator and the metric list. Run from the repository root:

    python3 -m unittest discover -s churnbench -p 'test_*.py'
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402


class TailLatency(unittest.TestCase):
    def test_p90_when_ten_samples_lie_beyond_it(self):
        xs = list(range(100))
        self.assertEqual(run.tail_latency(xs), 89)
        self.assertEqual(sum(x > 89 for x in xs), 10)

    def test_lower_percentile_keeps_ten_beyond(self):
        xs = list(range(50))
        v = run.tail_latency(xs)
        self.assertEqual(sum(x > v for x in xs), 10)
        self.assertEqual(v, 39)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(run.tail_latency([5, 1, 4, 2, 3]), 3)
        self.assertEqual(run.tail_latency(list(range(12))), 5.5)

    def test_order_does_not_matter(self):
        xs = [0.3, 1.2, 0.1] * 40
        self.assertEqual(run.tail_latency(xs), run.tail_latency(sorted(xs)))


class Generator(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def make(self, name, seed):
        d = os.path.join(self.tmp.name, name)
        gen.generate(d, seed, 0.001)
        return d

    def test_one_seed_gives_byte_identical_files(self):
        a, b = self.make("a", 7), self.make("b", 7)
        names = [f"{t}.parquet" for t in gen.TABLES]
        match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_two_seeds_give_different_files(self):
        a, b = self.make("a", 7), self.make("b", 8)
        for t in ["customer", "orders", "lineitem", "events", "documents", "embeddings"]:
            self.assertFalse(filecmp.cmp(os.path.join(a, f"{t}.parquet"),
                                         os.path.join(b, f"{t}.parquet"), shallow=False), t)


class MetricList(unittest.TestCase):
    def test_benchmark_json_names_every_metric_the_runner_prints(self):
        path = os.path.join(os.path.dirname(run.BENCH), "BENCHMARK.json")
        with open(path) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
