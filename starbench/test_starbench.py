"""The benchmark's own tests: order statistics, metric names and units,
generator determinism and calibration, and refusal to run without the
repository's sources.

    python3 -m unittest discover -s starbench -p 'test_*.py'
"""

import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def put_calls(src):
    """(name, unit) of every `put("name", value, "unit")` call in `src`."""
    for m in re.finditer(r'\bput\("([^"$]+)",', src):
        depth, i = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(src[i], 0)
            i += 1
        yield m.group(1), re.findall(r'"([^"]*)"', src[m.end():i])[-1]


class StatsTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7]), 7)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_interpolates(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertAlmostEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertAlmostEqual(stats.percentile([5, 1], 25), 2.0)
        self.assertEqual(stats.percentile(xs, 50), stats.median(xs))

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(99), 50.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_quartiles_match_statistics_module(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 8.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q[0], q[1], q[2]))
        self.assertAlmostEqual(stats.spread(xs), (q[2] - q[0]) / q[1])


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_and_units(self):
        names = [m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]]
        names += [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in self.bench["end_to_end"] + self.bench["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
        for m in self.bench["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertIn("setup_s", [m["name"] for m in self.bench["end_to_end"]])

    def test_runner_emits_the_declared_metrics(self):
        import run
        declared = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(run.END_TO_END, declared)
        self.assertEqual(tuple(w["name"] for w in self.bench["workloads"]), run.WORKLOADS)

    def test_traced_run_emits_the_declared_layers(self):
        with open(os.path.join(HERE, "src", "starbench", "Layers.scala")) as f:
            layers = f.read()
        with open(os.path.join(HERE, "src", "starbench", "Main.scala")) as f:
            queries = re.search(r"val Names: Seq\[String\] = Seq\(([^)]*)\)", f.read()).group(1)
        emitted = dict(put_calls(layers))
        for q in re.findall(r'"(\w+)"', queries):
            emitted[f"analytics.{q}_ms"] = "ms"
        emitted["trace.overhead_ratio"] = "ratio"
        declared = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(emitted, declared)


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        import build
        cls.classpath = build.build()[0].classpath

    def check(self, seed, scale=0.02, batches=3):
        out = subprocess.run(
            ["java", "-cp", self.classpath, "starbench.GenCheck",
             str(seed), str(scale), str(batches)],
            check=True, stdout=subprocess.PIPE, text=True).stdout
        return json.loads(out.strip().splitlines()[-1])

    def test_same_seed_same_content(self):
        a, b, c = self.check(7), self.check(7), self.check(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a["sha256"], c["sha256"])

    def test_calibrated_to_the_paper(self):
        g = self.check(1, scale=0.125, batches=0)
        self.assertEqual(g["read"], round(1083131 * 0.125) + round(98732 * 0.125))
        self.assertAlmostEqual(g["recovered"] / g["read"], 0.137, delta=0.004)
        self.assertAlmostEqual(g["valid"] / g["read"], 0.971, delta=0.002)
        self.assertEqual(g["days"], 1752)


class ContractTest(unittest.TestCase):
    def test_refuses_without_repository_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, os.path.join(d, "starbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            p = subprocess.run([sys.executable, "starbench/run.py", "--workload", "etl_full",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
