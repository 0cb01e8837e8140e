"""Self-tests of the benchmark. From the repository root:

    python3 -m unittest discover -s perfbench/tests -v

Each test starts a JVM, so the suite takes a few minutes.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def bench(*args):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=ROOT,
                          capture_output=True, text=True, timeout=300)


class TinyRuns(unittest.TestCase):
    def check_metrics(self, workload, trace):
        r = bench("--workload", workload, "--seed", "7", "--seconds", "2",
                  "--trace", str(trace), "--tiny")
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"])
        self.assertGreaterEqual(out["attempted"], 1)
        wanted = BENCH["per_layer" if trace else "end_to_end"]
        self.assertEqual({m["name"]: m["unit"] for m in wanted},
                         {k: v["unit"] for k, v in out["metrics"].items()})
        for k, v in out["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)
            if not trace:
                self.assertGreater(v["value"], 0, k)
        if trace and workload == "drain_views":  # the at-rest lookup mix runs here
            for k in ("operators.jobs", "operators.lookups", "operators.ivf_lookup_s"):
                self.assertGreater(out["metrics"][k]["value"], 0, k)

    def test_every_workload_prints_every_end_to_end_metric(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check_metrics(w["name"], 0)

    def test_traced_run_prints_every_per_layer_metric(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check_metrics(w["name"], 1)

    def test_planted_wrong_model_fails_the_gate(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                r = bench("--workload", w["name"], "--seed", "7", "--seconds", "2", "--trace", "0",
                          "--tiny", "--plant-wrong-model")
                self.assertNotEqual(r.returncode, 0)
                self.assertIn("MISMATCH", r.stderr)
                self.assertFalse(json.loads(r.stdout.strip().splitlines()[-1])["correct"])


class Generator(unittest.TestCase):
    def generate(self, seed, out):
        jars = run.spark_jars(ROOT)
        classes = run.build(ROOT, jars)
        shutil.rmtree(out, ignore_errors=True)
        cp = classes + os.pathsep + os.path.join(jars, "*")
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp,
                        "perfbench.Main", "--workload", "ingest_cow", "--seed", str(seed),
                        "--seconds", "1", "--trace", "0", "--work", out,
                        "--params", os.path.join(ROOT, "perfbench", "workloads.json"),
                        "--tiny", "--generate-only"], check=True, cwd=ROOT)
        digests = {}
        for d, _, files in os.walk(out):
            for f in files:
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    digests[os.path.relpath(p, out)] = hashlib.sha256(fh.read()).hexdigest()
        return digests

    def test_same_seed_gives_byte_identical_inputs(self):
        out = os.path.join(ROOT, ".bench_build", "selftest-gen")
        try:
            a = self.generate(11, out)
            b = self.generate(11, out)
            c = self.generate(12, out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        self.assertTrue(a)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


class EmptyCheckout(unittest.TestCase):
    def test_refuses_without_the_source_tree(self):
        d = os.path.join(ROOT, ".bench_build", "selftest-empty")
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        try:
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest_cow",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
        finally:
            shutil.rmtree(d, ignore_errors=True)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
