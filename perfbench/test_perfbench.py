"""Tests of the benchmark itself: tiny smoke runs of every workload, the
generator's determinism, a corrupted output tripping each workload's check,
and the refusal to run without the engine's sources.

    python3 -m unittest perfbench/test_perfbench.py     # from the repo root

Each test starts a JVM on inputs scaled far down, so the whole file takes
a few minutes. The first test to run builds the harness if needed.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402

SCALE = "0.1"


def bench(workload, *extra, trace="0", seed="3"):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", seed, "--seconds", "1", "--trace", trace, "--scale", SCALE, *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Smoke(unittest.TestCase):
    def check_run(self, workload):
        code, result, p = bench(workload)
        self.assertEqual(code, 0, p.stdout[-2000:] + p.stderr[-2000:])
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        want = {m["name"]: m["unit"] for m in declared()["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, want)
        for k, v in result["metrics"].items():
            self.assertGreater(v["value"], 0, k)

    def test_medallion_refresh(self):
        self.check_run("medallion_refresh")

    def test_table_dml(self):
        self.check_run("table_dml")

    def test_curation(self):
        self.check_run("curation")

    def test_traced_run_reports_every_layer_metric(self):
        code, result, p = bench("table_dml", trace="1")
        self.assertEqual(code, 0, p.stdout[-2000:] + p.stderr[-2000:])
        want = {m["name"]: m["unit"] for m in declared()["per_layer"]}
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, want)
        self.assertGreater(result["metrics"]["spark.jobs"]["value"], 0)
        self.assertGreater(result["metrics"]["fs.status_ops"]["value"], 0)
        self.assertGreater(result["metrics"]["table.jobs_per_commit"]["value"], 0)


class Determinism(unittest.TestCase):
    def digest(self, seed):
        run.build()
        work = os.path.join(BENCH, ".work", f"digest-{os.getpid()}-{seed}")
        try:
            p = subprocess.run(run.java_cmd(work, "perfbench.GenDigest", [work, str(seed), SCALE]),
                               cwd=ROOT, capture_output=True, text=True, timeout=600)
            self.assertEqual(p.returncode, 0, p.stderr[-2000:])
            return json.loads(p.stdout.strip().splitlines()[-1])
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def test_same_seed_same_inputs(self):
        a, b, c = self.digest(5), self.digest(5), self.digest(6)
        self.assertEqual(a, b)
        for name in a:
            if name != "nation":  # the static dimension does not depend on the seed
                self.assertNotEqual(a[name], c[name], name)


class CorruptedOutputIsCaught(unittest.TestCase):
    def check_fault(self, workload, fault):
        code, result, p = bench(workload, "--fault", fault)
        self.assertNotEqual(code, 0, p.stdout[-2000:])
        self.assertIsNotNone(result, p.stderr[-2000:])
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)

    def test_dropped_gold_row(self):
        self.check_fault("medallion_refresh", "drop_gold_row")

    def test_skipped_shadow_op(self):
        self.check_fault("table_dml", "skip_shadow_op")

    def test_exact_duplicate_kept(self):
        self.check_fault("curation", "keep_exact_dup")


class RefusesWithoutSources(unittest.TestCase):
    def test_benchmark_files_alone(self):
        d = os.path.join(BENCH, ".work", f"alone-{os.getpid()}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", ".work", ".out", "__pycache__"))
            # run.py looks for the engine one directory above its own, which
            # here holds only BENCHMARK.json and the benchmark's files
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "table_dml",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
