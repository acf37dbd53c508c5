"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest graftbench/test_bench.py

They build the package if needed and take a few minutes: one self-test JVM
(seeded inputs and outputs, corruption is counted as failure) and one short
run per workload and trace mode (every metric of BENCHMARK.json is
reported, with its unit).
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(*args):
    out = subprocess.run(RUN + list(args), cwd=ROOT, capture_output=True, text=True,
                         timeout=900)
    return out.returncode, out.stdout


def last_json(stdout):
    return json.loads(stdout.strip().splitlines()[-1])


class SelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        code, out = run("--selftest")
        cls.result = json.loads(out) if code == 0 else {"checks": {}, "details": out}

    def check(self, name):
        self.assertTrue(self.result["checks"].get(name), (name, self.result))

    def test_same_seed_same_inputs(self):
        for w in ("curate", "rag_serve", "store_churn"):
            self.check(f"{w}.same_seed_same_inputs")

    def test_other_seed_other_inputs(self):
        for w in ("curate", "rag_serve", "store_churn"):
            self.check(f"{w}.other_seed_other_inputs")

    def test_same_seed_same_outputs(self):
        for w in ("curate", "store_churn"):
            self.check(f"{w}.same_seed_same_outputs")

    def test_corrupted_result_is_failed(self):
        for w in ("curate", "store_churn"):
            self.check(f"{w}.corrupt_result_fails")


class Metrics(unittest.TestCase):
    def test_every_metric_with_its_unit(self):
        for w in SPEC["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                code, out = run("--workload", w["name"], "--seed", "3", "--seconds", "1",
                                "--trace", str(trace))
                self.assertEqual(code, 0, out[-2000:])
                res = last_json(out)
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"], out[-2000:])
                self.assertGreaterEqual(res["attempted"], 1)
                self.assertEqual(res["failed"], 0)
                want = {m["name"]: m["unit"] for m in SPEC[key]}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                self.assertEqual(got, want)
                for k, v in res["metrics"].items():
                    self.assertIsInstance(v["value"], (int, float), k)
                if trace == 1:
                    # the harness defines the same per-layer names and units
                    path = os.path.join(ROOT, ".bench_build", "graftbench", "results",
                                        f"{w['name']}-seed3-trace1.json")
                    with open(path) as fh:
                        self.assertEqual(json.load(fh)["per_layer_units"], want)
                if trace == 0:
                    for k, v in res["metrics"].items():
                        self.assertGreater(v["value"], 0, k)
                    # every end-to-end metric is printed by name with its unit
                    for m in SPEC["end_to_end"]:
                        self.assertRegex(out, rf"#\s+{re.escape(m['name'])}\s+\S+ {re.escape(m['unit'])}")

    def test_corrupt_run_reports_failures(self):
        w = SPEC["workloads"][0]["name"]
        code, out = run("--workload", w, "--seed", "3", "--seconds", "1", "--corrupt")
        self.assertEqual(code, 0, out[-2000:])
        res = last_json(out)
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)


if __name__ == "__main__":
    unittest.main()
