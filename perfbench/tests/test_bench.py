"""The benchmark's own tests: a tiny-size smoke run of every workload (plain
and traced), generator determinism, that every output check can fail, and
that the benchmark refuses to run without the engine's sources.

    python3 -m unittest discover -s perfbench/tests -v
"""
import hashlib
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

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, RUN] + list(args), cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def tree_digest(path):
    h = hashlib.sha256()
    for d, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class SmokeTest(unittest.TestCase):
    def check_run(self, workload, trace, declared):
        p = run("--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", trace, "--scale", "tiny")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, {m["name"]: m["unit"] for m in declared})
        return result["metrics"]

    def test_workloads(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                m = self.check_run(w["name"], "0", SPEC["end_to_end"])
                for e in SPEC["end_to_end"]:
                    self.assertGreater(m[e["name"]]["value"], 0, e["name"])

    def test_traced_workloads(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                m = self.check_run(w["name"], "1", SPEC["per_layer"])
                self.assertGreater(m["spark.jobs"]["value"], 0)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            for w in SPEC["workloads"]:
                with self.subTest(workload=w["name"]):
                    dirs = {}
                    for tag, seed in (("a", "9"), ("b", "9"), ("c", "10")):
                        d = os.path.join(tmp, w["name"] + tag)
                        p = run("--workload", w["name"], "--seed", seed,
                                "--scale", "tiny", "--gen-only", d)
                        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                        self.assertTrue(os.path.exists(os.path.join(d, "truth.json")))
                        dirs[tag] = tree_digest(d)
                    self.assertEqual(dirs["a"], dirs["b"])
                    self.assertNotEqual(dirs["a"], dirs["c"])
        finally:
            shutil.rmtree(tmp)


class ChecksTest(unittest.TestCase):
    def test_every_check_can_fail(self):
        p = run("--selftest")
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])
        self.assertIn("0 wrong verdicts", p.stdout)


class NoEngineTest(unittest.TestCase):
    def test_refuses_without_engine_sources(self):
        tmp = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(BENCH, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run(SPEC["command"] + ["--workload", "daily_etl",
                               "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=tmp, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn("metrics", p.stdout)
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
