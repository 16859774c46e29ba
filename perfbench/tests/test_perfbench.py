"""Self-test of the benchmark.

    python3 -m unittest discover -s perfbench/tests -v

Checks the seeded generators (SelfTest: same seed, same inputs; planted
counts recounted from the data), the result-line validation, and that a
planted throwing call fails the run: non-zero exit, `failed` >= 1.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402
import run  # noqa: E402

RUN = [sys.executable, os.path.join(os.path.dirname(HERE), "run.py")]


def last_json(stdout):
    return json.loads(stdout.rstrip("\n").split("\n")[-1])


class Generators(unittest.TestCase):
    def test_selftest(self):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
        p = subprocess.run([java, "-XX:-UsePerfData", "-cp", build.ensure_built(), "graft.perfbench.SelfTest"],
                           capture_output=True, text=True, timeout=300)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr)
        self.assertIn("selftest ok", p.stdout)


class ResultLine(unittest.TestCase):
    def test_declared_metrics_required(self):
        want = run.declared(False)
        good = {"correct": True, "attempted": 3, "failed": 0,
                "metrics": {k: {"value": 1.5, "unit": u} for k, u in want.items()}}
        self.assertEqual(run.check_result(good, False), [])
        missing = dict(good, metrics={k: v for k, v in list(good["metrics"].items())[1:]})
        self.assertTrue(run.check_result(missing, False))
        self.assertTrue(run.check_result(dict(good, extra=1), False))


class PlantedFault(unittest.TestCase):
    def planted(self, workload, seconds):
        p = subprocess.run(RUN + ["--workload", workload, "--seed", "7", "--seconds", str(seconds),
                                  "--trace", "0", "--plant-fault", "1"],
                           capture_output=True, text=True, timeout=400)
        self.assertNotEqual(p.returncode, 0)
        res = last_json(p.stdout)
        self.assertGreaterEqual(res["failed"], 1)
        self.assertGreaterEqual(res["attempted"], res["failed"])
        return res

    def test_ingest_search_fault_counts_and_fails(self):
        res = self.planted("ingest_search", 12)
        # the failed call is not timed; the others still are
        self.assertIn("latency_p50_ms", res["metrics"])

    def test_plc_fleet_fault_fails(self):
        self.planted("plc_fleet", 6)


if __name__ == "__main__":
    unittest.main()
