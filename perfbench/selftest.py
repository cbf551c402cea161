"""Self-tests of the benchmark. They run the real JVM at toy sizes, so they
take a few minutes:

    python3 perfbench/selftest.py

- each workload, untraced and traced, prints every metric that
  BENCHMARK.json names, with its unit, and passes its answer checks;
- the generator gives identical turns for the same seed and different turns
  for another seed;
- a planted wrong answer is caught: failed > 0, correct false, error rate > 0.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(*args):
    r = subprocess.run([sys.executable, str(HERE / "run.py"), *args], cwd=ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
    if r.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} exited {r.returncode}: {r.stderr[-2000:]}")
    return r.stdout.strip().splitlines()


def toy(workload, trace, *extra):
    lines = run("--workload", workload, "--seed", "3", "--seconds", "3",
                "--trace", str(trace), "--toy", *extra)
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


class ToyWorkloads(unittest.TestCase):
    def check_result(self, result, metrics):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], result)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        want = {m["name"]: m["unit"] for m in metrics}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_every_workload_prints_every_metric(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"], trace=0):
                _, result = toy(w["name"], 0)
                self.check_result(result, SPEC["end_to_end"])
                for m in result["metrics"].values():
                    self.assertGreater(m["value"], 0)
            with self.subTest(workload=w["name"], trace=1):
                context, result = toy(w["name"], 1)
                self.check_result(result, SPEC["per_layer"])
                self.assertIn("end_to_end", context)
                self.assertIn("search.construct", context["self_ms_by_span"])


class Generator(unittest.TestCase):
    def digest(self, seed):
        return run("--workload", "search", "--seed", str(seed), "--seconds", "1", "--gen-digest")[-1]

    def test_same_seed_same_turns_other_seed_other_turns(self):
        a, b, c = self.digest(5), self.digest(5), self.digest(6)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


class PlantedWrongAnswer(unittest.TestCase):
    def test_wrong_answer_counts_as_failure(self):
        context, result = toy("search", 0, "--plant-wrong")
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertGreater(context["error_rate"], 0)


if __name__ == "__main__":
    unittest.main(verbosity=2)
