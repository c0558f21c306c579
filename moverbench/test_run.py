"""Tests of the benchmark command on the smallest testdata (sf0.001).

    python3 -m unittest discover -s moverbench -p 'test_*.py'

Every workload runs one timed iteration and prints exactly the metrics
BENCHMARK.json names, each with its unit; a deliberately wrong expectation
is counted as a failed operation and marks the run incorrect.
"""
import contextlib
import io
import json
import os
import shutil
import unittest

import run

DATA = os.path.join(run.TESTDATA, "sf0.001")


class RunTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        run.build()
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def line(self, workload, trace):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = run.main(["--workload", workload, "--seed", "1",
                           "--seconds", "1", "--trace", str(trace),
                           "--data", DATA])
        self.assertEqual(rc, 0)
        return json.loads(out.getvalue().strip().splitlines()[-1])

    def assert_metrics(self, line, wanted):
        self.assertEqual(sorted(line), ["attempted", "correct", "failed", "metrics"])
        self.assertGreaterEqual(line["attempted"], 1)
        self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()},
                         {m["name"]: m["unit"] for m in wanted})
        for m in line["metrics"].values():
            self.assertIsInstance(m["value"], (int, float))

    def test_every_workload_prints_every_end_to_end_metric(self):
        for w in self.bench["workloads"]:
            with self.subTest(workload=w["name"]):
                line = self.line(w["name"], 0)
                self.assert_metrics(line, self.bench["end_to_end"])
                self.assertTrue(line["correct"])
                for m in line["metrics"].values():
                    self.assertGreater(m["value"], 0)

    def test_traced_run_prints_every_per_layer_metric(self):
        line = self.line("lifecycle_point", 1)
        self.assert_metrics(line, self.bench["per_layer"])
        self.assertGreater(line["metrics"]["closure.jobs"]["value"], 0)
        self.assertGreater(line["metrics"]["io.json.write_jobs"]["value"], 0)

    def test_wrong_expectation_is_counted_as_failed(self):
        wanted = self.bench["end_to_end"]
        lines = {}
        for name, corrupt in (("honest", False), ("wrong", True)):
            spec = run.make_spec("lifecycle_point", 1, DATA)
            if corrupt:
                # one more nation key than the load can leave in Derby
                spec["expect"]["nation"]["keys"][0] += 1
            work = os.path.join(run.HERE, "work", f"test-{name}-{os.getpid()}")
            os.makedirs(work)
            try:
                res = run.run_jvm("lifecycle_point", DATA, work, spec, 1, False)
                lines[name] = run.result_line(res, "lifecycle_point", DATA, work, wanted)
            finally:
                shutil.rmtree(work, ignore_errors=True)
        honest, wrong = lines["honest"], lines["wrong"]
        self.assertTrue(honest["correct"])
        self.assertFalse(wrong["correct"])
        self.assertEqual(wrong["attempted"], honest["attempted"])
        self.assertEqual(wrong["failed"], honest["failed"] + 1)
        self.assertLess(wrong["metrics"]["ok_frac"]["value"],
                        honest["metrics"]["ok_frac"]["value"])


if __name__ == "__main__":
    unittest.main()
