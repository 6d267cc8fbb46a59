#!/usr/bin/env python3
"""Self-test of the graft benchmark at sf0.001.

    python3 -m unittest perfbench/test_perfbench.py     (from the repo root)

Checks that
- every workload prints every metric BENCHMARK.json names, with its unit,
  untraced (end-to-end) and traced (per layer), and passes its output check;
- a corrupted expected digest is reported as a failed job;
- in a traced run, each job's construct and execute spans add up to the
  job's own span.
Takes a few minutes: it runs every workload twice.
"""
import glob
import json
import math
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
SCALE = "0.001"


def run(workload, trace, *extra):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--scale", SCALE, *extra],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=400)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stderr


class PerfbenchSelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)
        cls.results = {(w["name"], t): run(w["name"], t)
                       for w in cls.spec["workloads"] for t in (0, 1)}

    def check_metrics(self, result, names):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in names})
        for m in names:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])

    def test_every_metric_with_its_unit(self):
        for (w, t), (res, _) in self.results.items():
            with self.subTest(workload=w, trace=t):
                self.check_metrics(
                    res, self.spec["per_layer" if t else "end_to_end"])
                if not t:
                    for m in self.spec["end_to_end"]:
                        self.assertGreater(res["metrics"][m["name"]]["value"], 0)

    def test_corrupted_digest_fails_the_run(self):
        with open(os.path.join(BENCH, "expected.json")) as fh:
            expected = json.load(fh)
        key = "q17_etl_pipeline"
        d = expected["sf" + SCALE][key]
        d["hash"] = "%016x" % (int(d["hash"], 16) ^ 1)
        os.makedirs(WORK, exist_ok=True)
        bad = os.path.join(WORK, "expected-corrupted.json")
        with open(bad, "w") as fh:
            json.dump(expected, fh)
        res, err = run("etl", 0, "--expected", bad)
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"] / res["attempted"], 0)
        self.assertIn(key, err)

    def test_construct_plus_execute_reconciles_with_job_span(self):
        for w in self.spec["workloads"]:
            traces = sorted(glob.glob(os.path.join(
                WORK, "records", f"trace-{w['name']}-s5-t1-*.jsonl")), key=os.path.getmtime)
            self.assertTrue(traces, w["name"])
            with open(traces[-1]) as fh:
                spans = [json.loads(ln) for ln in fh if ln.strip()]
            self.assertEqual(len({s["run_id"] for s in spans}), 1)
            jobs = [s for s in spans if s["kind"] == "job"]
            self.assertTrue(jobs, w["name"])
            for j in jobs:
                parts = [s for s in spans if s["parent"] == j["id"]
                         and s["kind"] in ("construct", "execute")]
                self.assertEqual(len(parts), 2, j["name"])
                wall = j["end_ms"] - j["start_ms"]
                total = sum(s["end_ms"] - s["start_ms"] for s in parts)
                self.assertAlmostEqual(total, wall, delta=max(1.0, 0.01 * wall),
                                       msg=f"{w['name']} {j['name']}")
                # the Spark jobs the listener attributed to each part ran
                # inside it (listener times have millisecond resolution)
                for part in parts:
                    for sj in (s for s in spans if s["parent"] == part["id"]):
                        self.assertGreaterEqual(sj["start_ms"], part["start_ms"] - 5)
                        self.assertLessEqual(sj["end_ms"], part["end_ms"] + 5)


if __name__ == "__main__":
    unittest.main()
