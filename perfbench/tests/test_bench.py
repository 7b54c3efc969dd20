"""The benchmark's own tests, at tiny scale.

    python3 -m unittest discover -s perfbench/tests

Each case runs perfbench/run.py as a benchmark harness would and reads its
last line.
They take a few minutes: every run starts a JVM and a Spark session.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")

with open(os.path.join(BENCH, "metrics.json")) as fh:
    CATALOGUE = json.load(fh)


def run(workload, trace=0, inject="none", seed=7, cwd=ROOT, script=RUN):
    p = subprocess.run(
        [sys.executable, script, "--workload", workload, "--seed", str(seed),
         "--seconds", "2", "--trace", str(trace), "--tiny", "--inject", inject],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


def result(p):
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class CatalogueTest(unittest.TestCase):
    def test_benchmark_json_matches_catalogue(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(CATALOGUE["workloads"]))
        for kind in ("end_to_end", "per_layer"):
            self.assertEqual({m["name"]: m["unit"] for m in bench[kind]},
                             {k: v["unit"] for k, v in CATALOGUE[kind].items()})

    def test_suite_groups_cover_every_query(self):
        suite = CATALOGUE["suite"]
        self.assertEqual(len(suite["groups"]), 84)
        for q in suite["measured"]:
            self.assertIn(q, suite["groups"])
            self.assertNotIn(q, suite["left_out"])
        measured_groups = {suite["groups"][q] for q in suite["measured"]}
        for g in {suite["groups"][q] for q in suite["groups"]} - measured_groups:
            self.assertTrue(all(suite["groups"][q] != g or q in suite["left_out"]
                                for q in suite["groups"]), g)


    def test_sweep_times_every_query_that_stays_in_the_checkout(self):
        suite = CATALOGUE["suite"]
        with open(os.path.join(BENCH, "suite_sweep.json")) as fh:
            sweep = json.load(fh)
        self.assertEqual(set(sweep), set(suite["groups"]) - set(suite["left_out"]))
        for q, v in sweep.items():
            self.assertEqual(v["group"], suite["groups"][q], q)
            self.assertGreater(v["warm_s"], 0, q)


class MetricsTest(unittest.TestCase):
    def check_metrics(self, res, kind):
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(list(res["metrics"]), list(CATALOGUE[kind]))
        for name, m in res["metrics"].items():
            self.assertEqual(set(m), {"value", "unit"}, name)
            self.assertIsInstance(m["value"], (int, float), name)
            self.assertEqual(m["unit"], CATALOGUE[kind][name]["unit"], name)

    def test_every_workload_prints_every_end_to_end_metric(self):
        for w in CATALOGUE["workloads"]:
            with self.subTest(workload=w):
                res = result(run(w))
                self.check_metrics(res, "end_to_end")
                for name, m in res["metrics"].items():
                    self.assertGreater(m["value"], 0, name)

    def test_traced_run_prints_every_per_layer_metric(self):
        self.check_metrics(result(run("extract_kernel", trace=1)), "per_layer")


class InjectedCorruptionTest(unittest.TestCase):
    def check_one_failed(self, res):
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertGreater(res["attempted"], 1)

    def test_altered_turn_fails_one_kernel_pass(self):
        self.check_one_failed(result(run("extract_kernel", inject="turn")))

    def test_changed_query_result_fails_one_check(self):
        self.check_one_failed(result(run("query_suite", inject="query")))


class StandaloneTest(unittest.TestCase):
    def test_fails_without_the_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
            p = run("extract_kernel", cwd=d, script=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
