"""Tests of the benchmark itself.

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

Each tiny run starts a Spark JVM, so the whole file takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import run as bench  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SCRATCH = os.path.join(ROOT, ".bench_build", "tests")


def run(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def tiny(workload, trace, *extra):
    return run("--workload", workload, "--seed", "7", "--seconds", "3",
               "--trace", str(trace), "--tiny", *extra)


class TinyRunsEmitEveryMetric(unittest.TestCase):
    def check(self, workload, trace):
        code, result, err = tiny(workload, trace)
        self.assertEqual(code, 0, err[-3000:])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        wanted = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float))
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])

    def test_query_suite_end_to_end(self):
        self.check("query_suite", 0)

    def test_query_suite_per_layer(self):
        self.check("query_suite", 1)

    def test_cdc_stream_end_to_end(self):
        self.check("cdc_stream", 0)

    def test_cdc_stream_per_layer(self):
        self.check("cdc_stream", 1)


class CorrectnessCheck(unittest.TestCase):
    def test_altered_expected_output_fails_the_run(self):
        with open(os.path.join(ROOT, "perfbench", "expected", "query_suite.json")) as fh:
            expected = json.load(fh)
        for entry in expected.values():
            entry["hash"] += 1
        os.makedirs(SCRATCH, exist_ok=True)
        fd, altered = tempfile.mkstemp(suffix=".json", dir=SCRATCH)
        with os.fdopen(fd, "w") as fh:
            json.dump(expected, fh)
        try:
            code, result, _ = tiny("query_suite", 0, "--expected", altered)
        finally:
            os.remove(altered)
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertEqual(result["metrics"], {})

    def test_refuses_to_run_without_the_engine_sources(self):
        os.makedirs(SCRATCH, exist_ok=True)
        bare = tempfile.mkdtemp(dir=SCRATCH)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            code, result, _ = run("--workload", "query_suite", "--seed", "1",
                                  "--seconds", "1", "--trace", "0", cwd=bare)
        finally:
            shutil.rmtree(bare)
        self.assertNotEqual(code, 0)
        self.assertIsNone(result)


class Percentiles(unittest.TestCase):
    def test_estimates_the_quantile(self):
        self.assertAlmostEqual(bench.percentile([1.0, 2.0, 3.0], 0.5), 2.0, places=6)
        self.assertAlmostEqual(bench.percentile([7.0], 0.9), 7.0, places=6)
        xs = [float(i) for i in range(1, 101)]
        self.assertAlmostEqual(bench.percentile(xs, 0.5), 50.5, places=3)
        self.assertAlmostEqual(bench.percentile(xs, 0.9), 90.9, delta=0.5)

    def test_a_failed_operation_counts_as_missing_the_limit(self):
        self.assertEqual(bench.percentile([1.0, 2.0, None], 0.5), float("inf"))


class FailedOperations(unittest.TestCase):
    def test_an_operation_is_the_median_of_its_samples(self):
        self.assertEqual(bench.operation_latencies([[3.0, 1.0, 2.0], [5.0]]), [2.0, 5.0])

    def test_one_failed_pass_fails_the_query(self):
        # the failed pass must not drop out of the query's median
        latencies = bench.operation_latencies([[1.0, 1.1, None], [2.0, 2.0, 2.0]])
        self.assertEqual(latencies, [None, 2.0])
        self.assertEqual(bench.percentile(latencies, 0.5), float("inf"))

    def test_a_counted_failure_fails_the_run(self):
        run = {"messages": [], "attempted": 39, "failed": 1}
        metrics = {"latency_p50_s": 0.4}
        result = bench.outcome_line(run, metrics, {"latency_p50_s": "s"})
        self.assertFalse(result["correct"])
        self.assertEqual(result["metrics"], {})
        ok = bench.outcome_line(dict(run, failed=0), metrics, {"latency_p50_s": "s"})
        self.assertTrue(ok["correct"])
        self.assertEqual(ok["metrics"], {"latency_p50_s": {"value": 0.4, "unit": "s"}})


if __name__ == "__main__":
    unittest.main()
