#!/usr/bin/env python3
"""Self-tests of the benchmark.

    python3 perfbench/test_perfbench.py            # all (two JVM runs, ~2 min)
    python3 perfbench/test_perfbench.py Rules      # the compare rules only

- an altered expected checksum is reported as a failure;
- every metric named in BENCHMARK.json is printed with its unit;
- in a traced run, build + plan + exec reconcile with each key's span, and
  the key and micro-batch spans reconcile with the pass, each within 5%.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import compare  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(*args):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                         cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


class Runs(unittest.TestCase):
    def setUp(self):
        self.tmp = os.path.join(HERE, ".work", "test-" + uuid.uuid4().hex)
        os.makedirs(self.tmp)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def assert_metrics(self, result, specs):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        for m in specs:
            self.assertIn(m["name"], result["metrics"])
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(result["metrics"][m["name"]]["value"], (int, float))

    def test_altered_checksum_is_a_failure(self):
        with open(os.path.join(HERE, "expected.json")) as fh:
            expected = json.load(fh)
        key = "llm_dedup_exact"
        c = expected["keys"][key]["checksum"]
        expected["keys"][key]["checksum"] = c[:-1] + ("0" if c[-1] != "0" else "1")
        altered = os.path.join(self.tmp, "expected.json")
        with open(altered, "w") as fh:
            json.dump(expected, fh)
        r = bench("--workload", "curation_pipeline", "--seed", "1",
                  "--seconds", str(SPEC["run_seconds"]), "--trace", "0",
                  "--expected", altered)
        self.assert_metrics(r, SPEC["end_to_end"])
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)
        self.assertLess(r["failed"], r["attempted"])

    def test_traced_run_reconciles(self):
        r = bench("--workload", "ingest_etl", "--seed", "1",
                  "--seconds", str(SPEC["run_seconds"]), "--trace", "1")
        self.assert_metrics(r, SPEC["per_layer"])
        self.assertTrue(r["correct"])
        with open(os.path.join(HERE, "out", "trace-ingest_etl-1.json")) as fh:
            spans = json.load(fh)["spans"]
        kids = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)
        dur = lambda s: s["end_ms"] - s["start_ms"]
        self.assertEqual({s["level"] for s in spans}, {1, 2, 3, 4, 5})
        passes = [s for s in spans if s["level"] == 1]
        self.assertTrue(passes)
        for p in passes:
            ops = [c for c in kids[p["id"]] if not c["attrs"].get("untimed")]
            untimed = sum(dur(c) for c in kids[p["id"]] if c["attrs"].get("untimed"))
            wall = dur(p) - untimed
            self.assertLess(abs(sum(map(dur, ops)) - wall), 0.05 * wall, p["name"])
            for k in ops:
                phases = [c for c in kids.get(k["id"], []) if c["level"] == 3]
                if phases:
                    self.assertLess(abs(sum(map(dur, phases)) - dur(k)),
                                    0.05 * dur(k) + 1.0, k["name"])


class Rules(unittest.TestCase):
    def test_clear_win_is_better(self):
        parent = [10.0 + 0.1 * i for i in range(10)]
        change = [p - 2.0 for p in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1), "better")

    def test_noise_is_within_bound(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]
        change = list(reversed(parent))
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1), "within bound")

    def test_wide_spread_is_unresolved(self):
        parent = [5.0, 15.0, 6.0, 14.0, 5.5, 14.5, 6.5, 13.0, 7.0, 12.0]
        change = [v * 1.05 for v in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1), "unresolved")

    def test_slower_beyond_bound(self):
        parent = [10.0 + 0.01 * i for i in range(10)]
        change = [p * 1.3 for p in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1), "out of bound")

    def test_consistent_loss_inside_bound_is_within_bound(self):
        parent = [10.0 + 0.01 * i for i in range(10)]
        change = [p * 1.05 for p in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.25), "within bound")


if __name__ == "__main__":
    unittest.main()
