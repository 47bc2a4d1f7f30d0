"""Tests of the benchmark harness itself, at --size tiny.

Run from the root of a checkout (each harness run takes 20-60 s):

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WORKLOADS = ["glm_estimator", "glm_path", "curation"]
_cache = {}


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, seed, trace, fresh=False):
    """Run the harness once; returns (exit code, parsed result line)."""
    key = (workload, seed, trace)
    if fresh or key not in _cache:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
             "--size", "tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        lines = p.stdout.strip().splitlines()
        if not lines:
            raise AssertionError(f"no result from {key}:\n{p.stderr[-3000:]}")
        _cache[key] = (p.returncode, json.loads(lines[-1]))
    return _cache[key]


class MetricNames(unittest.TestCase):
    """Printed metric names and units match BENCHMARK.json."""

    def check(self, trace, section):
        want = {m["name"]: m["unit"] for m in spec()[section]}
        for w in WORKLOADS:
            with self.subTest(workload=w):
                _, res = run(w, 1, trace)
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                self.assertEqual(got, want)
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})

    def test_end_to_end(self):
        self.check(0, "end_to_end")

    def test_per_layer(self):
        self.check(1, "per_layer")

    def test_workloads_listed(self):
        self.assertEqual([x["name"] for x in spec()["workloads"]], WORKLOADS)


class LayerPairing(unittest.TestCase):
    """Each per-layer metric's pairing (the end-to-end metric it should
    move, and on which workload), as the traced run writes it, matches
    BENCHMARK.json's per-layer list and the README's table."""

    def readme_table(self):
        rows = {}
        with open(os.path.join(ROOT, "perfbench", "README.md"), encoding="utf-8") as f:
            for line in f:
                cells = [c.strip().strip("`") for c in line.strip().strip("|").split("|")]
                if len(cells) == 4 and "." in cells[0] and cells[0] != "metric":
                    rows[cells[0]] = (cells[1], cells[2], cells[3])
        return rows

    def test_pairing(self):
        layers = {m["name"]: m for m in spec()["per_layer"]}
        e2e = {m["name"] for m in spec()["end_to_end"]}
        table = self.readme_table()
        for w in WORKLOADS:
            with self.subTest(workload=w):
                run(w, 1, 1)
                with open(os.path.join(ROOT, ".bench_build", "trace", f"{w}-seed1.json")) as f:
                    written = json.load(f)["per_layer"]
                self.assertEqual([m["name"] for m in written], list(layers))
                for m in written:
                    self.assertEqual(m["unit"], layers[m["name"]]["unit"], m["name"])
                    self.assertEqual(m["better"], layers[m["name"]]["better"], m["name"])
                    self.assertIn(m["moves"], e2e, m["name"])
                    self.assertIn(m["on"], WORKLOADS + ["all"], m["name"])
                    self.assertEqual(table.get(m["name"]), (m["unit"], m["moves"], m["on"]),
                                     m["name"])
                self.assertEqual(set(table), set(layers))


class TinyRunsPassChecks(unittest.TestCase):
    """A tiny run of each workload passes every output check."""

    def test_checks(self):
        for w in WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    code, res = run(w, 1, trace)
                    self.assertEqual(code, 0)
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    for k, v in res["metrics"].items():
                        if trace == 0:
                            self.assertGreater(v["value"], 0, k)


class CountsRepeat(unittest.TestCase):
    """Count metrics repeat exactly for one seed."""

    def same(self, workload, names):
        _, a = run(workload, 3, 1)
        _, b = run(workload, 3, 1, fresh=True)
        for n in names:
            with self.subTest(metric=n):
                self.assertGreater(a["metrics"][n]["value"], 0, n)
                self.assertEqual(a["metrics"][n]["value"], b["metrics"][n]["value"], n)

    def test_solver_counts(self):
        self.same("glm_path",
                  [f"solvers.jobs.{s}" for s in
                   ["admm", "lbfgs", "newton", "gradient_descent", "proximal_grad"]]
                  + ["solvers.admm_local_evals", "solvers.admm_iterations"])

    def test_curation_counts(self):
        self.same("curation", ["ops.minhash_candidates", "ops.minhash_verified",
                               "solvers.jobs.lbfgs"])


if __name__ == "__main__":
    unittest.main()
