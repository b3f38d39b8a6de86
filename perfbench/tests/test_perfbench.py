"""Self-test of the benchmark harness: every workload at a tiny size.

Run from the repository root (about twenty minutes on 4 cores):

    python3 -m unittest discover -s perfbench/tests -v

Checks that each workload prints every metric BENCHMARK.json names, with
its unit, in both modes; that every layer is measured by the traced run of
some workload BENCHMARK.json lists; that the report line carries the
end-to-end metrics that apply to the workload; that a deliberately
corrupted result trips the output check (non-zero exit, failed_frac > 0);
and that the same seed gives the same result digests.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
RUN = os.path.join(REPO, "perfbench", "run.py")
with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

TINY = "0.1"
WORKLOADS = ("er_resolve", "elevant_eval", "curate", "maint")
COMMON = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_cached_mb": "MB", "failed_frac": "ratio"}
REPORTED = {
    "er_resolve": {**COMMON, "pair_f1": "ratio"},
    "elevant_eval": {**COMMON, "micro_f1": "ratio"},
    "curate": dict(COMMON),
    "maint": {**COMMON, "increment_p50_s": "s", "state_write_amp": "ratio"},
}


def run(workload, seed=5, trace=0, corrupt=0):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--scale", TINY, "--corrupt", str(corrupt)],
        cwd=REPO, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"no output (exit {p.returncode}):\n{p.stderr[-4000:]}")
    report = json.loads(lines[0])["report"]
    result = json.loads(lines[-1])
    return p.returncode, report, result


class PerfbenchTest(unittest.TestCase):

    def assert_metrics(self, metrics, wanted):
        for name, unit in wanted.items():
            self.assertIn(name, metrics)
            self.assertEqual(metrics[name]["unit"], unit, name)
            self.assertIsInstance(metrics[name]["value"], (int, float), name)

    def test_end_to_end_metrics(self):
        wanted = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, report, result = run(w)
                self.assertEqual(rc, 0, report["failures"])
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                self.assertGreaterEqual(result["attempted"], 1)
                self.assertEqual(set(result["metrics"]), set(wanted))
                self.assert_metrics(result["metrics"], wanted)
                self.assert_metrics(report["metrics"], REPORTED[w])
                if w == "maint":
                    self.assertEqual(report["increment_tail_s"]["unit"], "s")
                    self.assertEqual(report["increment_tail_s"]["count"], report["ops"] - 1)

    def test_per_layer_metrics(self):
        wanted = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        listed = {x["name"] for x in SPEC["workloads"]}
        measured = set()
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, report, result = run(w, trace=1)
                self.assertEqual(rc, 0, report["failures"])
                self.assertTrue(result["correct"])
                self.assertEqual(set(result["metrics"]), set(wanted))
                self.assert_metrics(result["metrics"], wanted)
                self.assert_metrics(report["metrics"], {"trace_overhead_frac": "ratio"})
                if w in listed:
                    measured |= {n[:-len(".wall_s")] for n, v in result["metrics"].items()
                                 if n.endswith(".wall_s") and v["value"] > 0}
        layers = {n[:-len(".wall_s")] for n in wanted if n.endswith(".wall_s")}
        self.assertEqual(layers - measured, set(), "layers no listed workload measures")

    def test_corrupted_result_trips_the_check(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, report, result = run(w, corrupt=1)
                self.assertNotEqual(rc, 0)
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)
                self.assertGreater(report["metrics"]["failed_frac"]["value"], 0)

    def test_same_seed_same_digest(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a = run(w, seed=9)[1]["digests"]
                b = run(w, seed=9)[1]["digests"]
                n = min(len(a), len(b))
                self.assertGreater(n, 0)
                self.assertEqual(a[:n], b[:n])


if __name__ == "__main__":
    unittest.main()
