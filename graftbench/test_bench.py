"""The benchmark's own tests.

    python3 -m unittest graftbench/test_bench.py        # ~20 min on 4 cores

Runs the workloads at smoke size (tiny inputs, one set-up) through run.py,
exactly as the benchmark is invoked, and checks the harness itself: inputs
are a function of the seed, wrong results and missed recall floors count as
failures, every declared metric is emitted, a directory without the engine
sources fails fast, and a run on a loaded machine is flagged as polluted.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(*args, cwd=ROOT, timeout=900):
    r = subprocess.run([sys.executable, os.path.join(cwd, "graftbench", "run.py"), *args], cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=timeout)
    lines = r.stdout.splitlines()
    result = json.loads(lines[-1]) if r.returncode == 0 and lines else None
    report = next((json.loads(l[len("REPORT "):]) for l in lines if l.startswith("REPORT ")),
                  None)
    digests = [l for l in lines if l.startswith("DIGEST ")]
    return r.returncode, result, report, digests, r.stderr


def smoke(workload, *extra, seed=11, trace=0, seconds=4):
    return bench("--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(trace), "--smoke", *extra)


class InputsTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                runs = [smoke(w, "--generate-only", seed=s)[3] for s in (5, 5, 6)]
                self.assertTrue(runs[0], "no digests printed")
                self.assertEqual(runs[0], runs[1])
                self.assertNotEqual(runs[0], runs[2])


class ChecksTest(unittest.TestCase):
    def test_wrong_result_is_a_failure(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, result, report, _, err = smoke(w, "--fault", "wrong")
                self.assertEqual(code, 0, err[-2000:])
                self.assertFalse(result["correct"])
                self.assertGreaterEqual(result["failed"], 1)
                self.assertGreater(report["error_rate"], 0)

    def test_recall_below_floor_is_a_failure(self):
        code, result, report, _, err = smoke("lake", "--fault", "recall", seconds=8)
        self.assertEqual(code, 0, err[-2000:])
        self.assertFalse(result["correct"])
        self.assertTrue(any("below floor" in f for f in report["failures"]), report["failures"])


# The layers each workload calls: a traced run must record spans of every
# timed call into them (Layers.TimeSpans), or its per-layer figures read 0.
SPANS = {
    "ingest": ["sources.list", "codec.decode", "ingest.run", "ingest.checkpoint"],
    "lake": ["snapshots.read", "snapshots.dml", "snapshots.compact", "llmops.minhash",
             "llmops.simhash", "llmops.signature_append", "llmops.incremental_dedup",
             "llmops.cc", "llmops.ann_topk_ivf", "llmops.ann_topk_pq", "llmops.ann_topk_lsh",
             "llmops.text", "functions.shingle_sig", "functions.cosine"],
}


class MetricsTest(unittest.TestCase):
    def test_every_metric_is_emitted(self):
        for w in WORKLOADS:
            for trace, declared in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                with self.subTest(workload=w, trace=trace):
                    code, result, report, _, err = smoke(w, trace=trace)
                    self.assertEqual(code, 0, err[-2000:])
                    self.assertTrue(result["correct"], err[-2000:])
                    self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                    got = result["metrics"]
                    self.assertEqual(set(got), {m["name"] for m in declared})
                    for m in declared:
                        self.assertEqual(got[m["name"]]["unit"], m["unit"])
                        self.assertIsInstance(got[m["name"]]["value"], (int, float))
                    self.assertGreaterEqual(report["rotations"], 1)
                    if trace:
                        for span in SPANS[w]:
                            self.assertGreater(report["span_counts"].get(span, 0), 0, span)
                        self.assertGreater(got["trace.overhead"]["value"], 0)


class LayoutTest(unittest.TestCase):
    def test_fails_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("__pycache__"))
            start = time.time()
            code, result, _, _, _ = bench("--workload", WORKLOADS[0], "--seed", "1",
                                          "--seconds", "1", "--trace", "0", cwd=d, timeout=180)
            self.assertNotEqual(code, 0)
            self.assertIsNone(result)
            self.assertLess(time.time() - start, 180)


class HealthTest(unittest.TestCase):
    def test_loaded_run_is_flagged(self):
        # A minute of 2n busy loops raises the 1-minute load average past n;
        # n of them keep running through the (then still completing) run.
        n = len(os.sched_getaffinity(0))
        hogs = [subprocess.Popen([sys.executable, "-c", "while True: pass"]) for _ in range(2 * n)]
        try:
            time.sleep(60)
            for h in hogs[n:]:
                h.kill()
            code, result, report, _, err = smoke("ingest", seconds=4)
        finally:
            for h in hogs:
                h.kill()
            for h in hogs:
                h.wait()
        self.assertEqual(code, 0, err[-2000:])
        self.assertTrue(report["health"]["polluted"], report["health"])

    def test_quiet_run_is_not_flagged(self):
        time.sleep(120)  # let earlier runs (and busy loops) leave the load average
        code, result, report, _, err = smoke("lake", seconds=8)
        self.assertEqual(code, 0, err[-2000:])
        self.assertFalse(report["health"]["polluted"], report["health"])


if __name__ == "__main__":
    unittest.main()
