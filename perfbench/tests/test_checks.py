"""The benchmark reports wrong outputs as failures, not as times; prints
exactly the metrics BENCHMARK.json declares; and refuses to run without
the engine sources. Each test runs the benchmark or its harness (about
half a minute each).

Run: python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import shutil
import subprocess
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SCRATCH = os.path.join(ROOT, ".bench_build", "tests")

sys.path.insert(0, BENCH)
import build  # noqa: E402
import kpigen  # noqa: E402
import run  # noqa: E402


def bench(*args, cwd=ROOT, script=os.path.join(BENCH, "run.py")):
    done = subprocess.run([sys.executable, script, *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)
    lines = done.stdout.strip().splitlines()
    return done.returncode, (json.loads(lines[-1]) if lines else None)


def harness(workload, seed, plan=run.PLAN, doctor_expected=None):
    """Run the harness for one second in its own work dir, with the given
    plan and, for kpi_ingest, generated inputs whose expected numbers
    `doctor_expected` may change first; returns the harness's result."""
    classpath = build.build()
    work = os.path.join(SCRATCH, f"work-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if workload == "kpi_ingest":
        pool = os.path.join(work, "pool")
        expected = kpigen.generate(seed, pool)
        if doctor_expected:
            doctor_expected(expected)
            with open(os.path.join(pool, "expected.json"), "w") as f:
                json.dump(expected, f)
    run.run_jvm(run.java_cmd(classpath, work, "run", work, run.DATA, plan, workload,
                             str(seed), "1", "0"), work, time.time() + 600)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return res


def declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


class ChecksTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(SCRATCH, exist_ok=True)

    def test_clean_run_is_correct_and_prints_declared_metrics(self):
        for trace, kind in (("0", "end_to_end"), ("1", "per_layer")):
            code, res = bench("--workload", "kpi_ingest", "--seed", "3", "--seconds", "1",
                              "--trace", trace)
            self.assertEqual(code, 0)
            self.assertTrue(res["correct"])
            self.assertEqual(res["failed"], 0)
            self.assertGreaterEqual(res["attempted"], 16)  # at least 4 rounds of 4 drains
            self.assertEqual(set(res["metrics"]), declared(kind))

    def test_corrupted_golden_is_a_failure(self):
        with open(run.PLAN) as f:
            plan = json.load(f)
        for q in plan["queries"].values():
            q["rows"] += 1
        bad = os.path.join(SCRATCH, "bad_plan.json")
        with open(bad, "w") as f:
            json.dump(plan, f)
        res = harness("query_suite", 1, plan=bad)
        self.assertGreater(res["attempted"], 0)
        self.assertEqual(res["failed"], res["attempted"])

    def test_corrupted_output_is_a_failure(self):
        def one_row_more(expected):
            for batch in expected["batches"]:
                batch["xml_fast"]["rows"] += 1
        res = harness("kpi_ingest", 2, doctor_expected=one_row_more)
        units = res["details"]["unit_log"]
        tampered = [u for u in units if u["key"].endswith("/xml_fast")]
        self.assertGreaterEqual(len(tampered), 4)
        for u in units:
            self.assertEqual(u["ok"], u not in tampered, u)
        self.assertEqual(res["failed"], len(tampered))

    def test_refuses_without_engine_sources(self):
        bare = os.path.join(SCRATCH, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        code, res = bench("--workload", "kpi_ingest", "--seed", "1", "--seconds", "1",
                          "--trace", "0", cwd=bare,
                          script=os.path.join(bare, "perfbench", "run.py"))
        self.assertNotEqual(code, 0)
        self.assertIsNone(res)
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
