"""Tests of the benchmark harness itself.

    python3 -m unittest discover -s perfbench/tests

Run from the root of a checkout; the JVM self-test compiles the program and
the harness first (cached under .bench_build/)."""
import json
import os
import random
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_ten_samples_lie_beyond(self):
        rng = random.Random(7)
        for n in (11, 12, 19, 37, 50, 99, 100, 101, 250):
            values = [rng.random() for _ in range(n)]
            pct, v = run.tail_percentile(values)
            self.assertGreaterEqual(sum(x > v for x in values), 10, n)
            self.assertEqual(pct, 100 * (n - 10) // n)

    def test_highest_percentile(self):
        self.assertEqual(run.tail_percentile(list(range(1, 101)))[0], 90)
        self.assertEqual(run.tail_percentile(list(range(1, 51)))[0], 80)
        self.assertAlmostEqual(run.tail_percentile(list(range(1, 101)))[1], 90.1)

    def test_too_few_samples_refused(self):
        with self.assertRaises(run.BenchError):
            run.tail_percentile(list(range(10)))


class Evaluate(unittest.TestCase):
    RAW = {"setup_s": [3.0, 1.0, 2.0], "rss_peak_mb": 2900.0, "heap_committed_mb": 2048.0,
           "heap_live_mb": 100.0, "cold_pass_s": 9.0,
           "warm_pass_s": [3.0, 4.0], "op_ms": [float(i) for i in range(1, 41)],
           "op_e2e_ms": [float(i) for i in range(1, 11)],
           "attempted": 40, "failures": [], "layers": {"tasks": 12.0}}

    def test_end_to_end(self):
        ok, attempted, failed, metrics = run.evaluate("ingest", dict(self.RAW), False)
        self.assertTrue(ok)
        self.assertEqual(failed, 0)
        self.assertEqual(attempted, 41)
        self.assertEqual(set(metrics), set(run.END_TO_END))
        self.assertEqual(metrics["setup_s"]["value"], 2.0)
        self.assertEqual(metrics["rss_peak_mb"]["value"], 952.0)
        self.assertEqual(metrics["warm_pass_s"]["value"], 3.5)
        self.assertAlmostEqual(metrics["op_gmean_ms"]["value"],
                               statistics.geometric_mean(range(1, 11)))

    def test_lanes_take_the_fastest_pass(self):
        raw = dict(self.RAW, warm_pass_s=[3.5, 9.0, 4.0], op_e2e_ms=[100.0, 400.0])
        metrics = run.end_to_end("lanes", raw)
        self.assertEqual(metrics["warm_pass_s"], 3.5)
        self.assertAlmostEqual(metrics["op_gmean_ms"], 200.0)

    def test_no_measured_pass_fails_the_run(self):
        for workload in ("ingest", "lanes"):
            raw = dict(self.RAW, warm_pass_s=[], lane_digests=run.pinned_digests("lanes"))
            ok, _, failed, metrics = run.evaluate(workload, raw, False)
            self.assertFalse(ok)
            self.assertEqual(failed, 1)
            self.assertEqual(metrics, {})

    def test_per_layer(self):
        ok, _, _, metrics = run.evaluate("ingest", dict(self.RAW), True)
        self.assertTrue(ok)
        self.assertEqual(set(metrics), set(run.PER_LAYER))
        self.assertEqual(metrics["tasks"]["value"], 12.0)
        self.assertEqual(metrics["op.samples"]["value"], 40)
        self.assertEqual(metrics["op.tail_pct"]["value"], 75)

    def test_digest_mismatch_fails_the_run(self):
        pinned = run.pinned_digests("lanes")
        raw = dict(self.RAW, lane_digests=dict(pinned))
        self.assertTrue(run.evaluate("lanes", raw, False)[0])
        lane = sorted(pinned)[0]
        raw["lane_digests"] = dict(pinned, **{lane: "0:0000000000000000"})
        ok, _, failed, _ = run.evaluate("lanes", raw, False)
        self.assertFalse(ok)
        self.assertEqual(failed, 1)

    def test_jvm_failures_fail_the_run(self):
        raw = dict(self.RAW, failures=["landed 9 rows, expected 10 distinct records"])
        ok, _, failed, _ = run.evaluate("ingest", raw, False)
        self.assertFalse(ok)
        self.assertEqual(failed, 1)


class BenchmarkJson(unittest.TestCase):
    def test_matches_the_harness(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual(len(run.pinned_digests("lanes")), 18)


@unittest.skipUnless(os.path.isdir(os.path.join("src", "main", "scala")),
                     "needs the program sources (run from a checkout root)")
class JvmSelfTest(unittest.TestCase):
    def test_digest_ingest_red_path_and_traced_counters(self):
        classes = run.build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build"))
        with tempfile.TemporaryDirectory() as tmp:
            flags = [f"--add-opens={m}=ALL-UNNAMED" for m in run.ADD_OPENS]
            proc = subprocess.run(
                ["java", f"-Djava.io.tmpdir={tmp}"] + flags +
                ["-cp", classes + ":" + os.path.join(run.spark_jars(os.getcwd()), "*"),
                 "graft.perfbench.SelfTest"], capture_output=True, text=True, cwd=tmp,
                env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
        self.assertEqual(proc.returncode, 0, proc.stdout + proc.stderr)
        self.assertIn("ok   ingest check fails on one dropped row", proc.stdout)
        self.assertIn("ok   ingest check fails on one duplicated row", proc.stdout)
        self.assertIn("ok   traced pass: plan nodes equal the sum over its lanes", proc.stdout)


if __name__ == "__main__":
    unittest.main()
