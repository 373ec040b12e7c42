"""Tests of the benchmark itself: metric arithmetic, the metric catalogue
in BENCHMARK.json, the rule that no timed call ends in .count(), and the
determinism of the seeded generator.

    python3 -m unittest discover -s perfbench/tests
"""
import glob
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import stats  # noqa: E402

SPEC = os.path.join(build.ROOT, "BENCHMARK.json")


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        value, pct, n = stats.tail([float(x) for x in range(30, 0, -1)])
        self.assertEqual(value, 20.0)  # 21..30 lie beyond it
        self.assertAlmostEqual(pct, 100 * 20 / 30)
        self.assertEqual(n, 30)

    def test_twenty_samples_give_the_median_rank(self):
        value, pct, _ = stats.tail(list(range(1, 21)))
        self.assertEqual(value, 10)
        self.assertEqual(pct, 50.0)

    def test_fewer_than_twenty_samples_have_no_tail(self):
        with self.assertRaises(ValueError):
            stats.tail(list(range(19)))


class TraceOverhead(unittest.TestCase):
    def test_compares_requests_of_the_same_class(self):
        reqs = [("a", True, 1.1), ("a", False, 1.0), ("b", True, 6.0), ("b", False, 5.0), ("c", True, 9.0)]
        record = {"requests": [{"class": c, "traced": t, "latency_s": x} for c, t, x in reqs]}
        self.assertAlmostEqual(stats.trace_overhead_pct(record), 15.0)


class Catalogue(unittest.TestCase):
    def setUp(self):
        with open(SPEC) as fh:
            self.spec = json.load(fh)

    def test_names_units_and_bounds(self):
        metrics = self.spec["end_to_end"] + self.spec["per_layer"]
        names = [m["name"] for m in metrics]
        self.assertEqual(len(names), len(set(names)))
        for m in metrics:
            self.assertRegex(m["name"], stats.NAME)
            self.assertRegex(m["unit"], stats.UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
        for m in self.spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in self.spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in self.spec["end_to_end"]))

    def test_every_declared_metric_is_computed(self):
        record = {"primary": "q", "requests": [{"kind": "q", "class": "q", "latency_s": 1.0, "items": 2, "traced": False}],
                  "session_s": 1.0, "prepare_s": 2.0, "warm_up_s": 1.0,
                  "recall": 1.0, "retained_mb": 1.0, "jvm.gc_s": 0.1, "jvm.heap_peak_mb": 1.0,
                  "spark.storage_used_mb": 0.0, "spark.persisted_rdds": 0}
        e2e, _ = stats.end_to_end(record)
        self.assertEqual(set(e2e), {m["name"] for m in self.spec["end_to_end"]})
        self.assertEqual(e2e["setup_s"], 4.0)
        self.assertEqual(set(stats.per_layer(record, [])), {m["name"] for m in self.spec["per_layer"]})

    def test_layer_map_covers_every_per_layer_metric(self):
        with open(os.path.join(BENCH, "layers.json")) as fh:
            layers = json.load(fh)
        mapped = {m for layer in layers for m in layer["metrics"]}
        self.assertEqual(mapped, {m["name"] for m in self.spec["per_layer"]})
        workloads = {w["name"] for w in self.spec["workloads"]}
        e2e = {m["name"] for m in self.spec["end_to_end"]}
        for layer in layers:
            self.assertTrue(set(layer["moves"]) <= e2e, layer)
            self.assertTrue(set(layer["on"]) <= workloads, layer)


class NoTimedCount(unittest.TestCase):
    def test_harness_never_counts_a_dataset(self):
        # every timed call consumes what the caller receives (collect or a
        # write); a bare count() would let column pruning drop the work
        for path in glob.glob(os.path.join(BENCH, "scala", "*.scala")):
            with open(path) as fh:
                for n, line in enumerate(fh, 1):
                    self.assertIsNone(re.search(r"\.count\(\s*\)", line), f"{path}:{n}: {line.strip()}")


class GeneratorDeterminism(unittest.TestCase):
    def digest(self, seed):
        cp = build.classpath()
        out = subprocess.run(["java", "-cp", cp, "perfbench.GenCheck", str(seed)],
                             check=True, stdout=subprocess.PIPE, text=True, timeout=300).stdout
        return json.loads(out.strip().splitlines()[-1])

    def test_same_seed_same_inputs_and_no_collapsed_documents(self):
        a, b, c = self.digest(7), self.digest(7), self.digest(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a["digest"], c["digest"])
        for d in (a, c):
            self.assertEqual(d["distinct_papers"], d["papers"])
            self.assertEqual(d["distinct_batch_docs"], d["batch_docs"] - d["exact_pairs"])
            self.assertTrue(d["exact_pairs_equal_tokens"])
            self.assertTrue(d["near_pairs_differ"])


if __name__ == "__main__":
    unittest.main()
