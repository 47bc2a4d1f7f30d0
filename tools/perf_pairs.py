#!/usr/bin/env python3
"""Alternating before/after pairs of the repository benchmark.

    python3 tools/perf_pairs.py [--base REV] [--pairs 10] [--seed0 1]
        [--seconds 4] [--workloads glm_estimator,glm_path,curation]
        [--scratch DIR] [--json OUT]

Exports REV (default HEAD) with `git archive` into a scratch directory and
runs `perfbench/run.py` there and in the working tree, one run each per
pair and per workload. The side that runs first alternates from pair to
pair; both runs of a pair use the same seed (seed0 + pair index). Each
side is compiled once, by an untimed `--size tiny` run, before the pairs
start, so the wall seconds below exclude the build.

For every workload it prints, per end-to-end metric of BENCHMARK.json and
for each run's whole wall seconds: the median and quartiles of each side,
the relative change of the medians, and how many pairs the working tree
won (better in the metric's own direction). Failed operations are summed
per side. Nothing under perfbench/ is changed; run from the repository
root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 1200


def export(rev, dest):
    """`git archive` of rev, unpacked into dest (replaced if present)."""
    if os.path.isdir(dest):
        subprocess.run(["rm", "-rf", dest], check=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", rev], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")


def run(checkout, workload, seed, seconds, size="full"):
    """One harness run: (whole wall seconds, result dict or None)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0", "--size", size]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
    wall = time.monotonic() - t0
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        print(f"  {workload} seed {seed} in {checkout}: no result (exit {p.returncode})\n"
              + p.stderr[-2000:], file=sys.stderr)
        return wall, None
    return wall, json.loads(lines[-1])


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def report(workload, metrics, pairs):
    """Print one workload's table; pairs = [(base run, change run)]."""
    print(f"\n== {workload}: {len(pairs)} pairs")
    print(f"{'metric':<16} {'base median (q1/q3)':>30} {'change median (q1/q3)':>30} "
          f"{'delta':>8} {'wins':>6}")
    for name, better in metrics + [("wall_s", "lower")]:
        b, c = [], []
        for base, change in pairs:
            bv = base[0] if name == "wall_s" else base[1]["metrics"].get(name, {}).get("value")
            cv = change[0] if name == "wall_s" else change[1]["metrics"].get(name, {}).get("value")
            if bv is not None and cv is not None:
                b.append(bv)
                c.append(cv)
        if not b:
            continue
        wins = sum(1 for x, y in zip(b, c) if (y < x if better == "lower" else y > x))
        bq, cq = quartiles(b), quartiles(c)
        delta = (cq[1] - bq[1]) / bq[1] * 100 if bq[1] else float("nan")
        print(f"{name:<16} {bq[1]:>12.4g} ({bq[0]:.4g} / {bq[2]:.4g}) "
              f"{cq[1]:>12.4g} ({cq[0]:.4g} / {cq[2]:.4g}) {delta:>+7.1f}% {wins:>3}/{len(b)}")
    fb = sum(int(r[1]["failed"]) for r, _ in pairs)
    fc = sum(int(r[1]["failed"]) for _, r in pairs)
    print(f"failed operations: base {fb}, change {fc}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", default="HEAD", help="revision to compare against")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--workloads", default="glm_estimator,glm_path,curation")
    ap.add_argument("--scratch", default=os.path.join(tempfile.gettempdir(), "perf_pairs_base"),
                    help="directory the base revision is exported into")
    ap.add_argument("--json", help="also write every run's wall seconds and result here")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = [(m["name"], m["better"]) for m in json.load(f)["end_to_end"]]
    workloads = a.workloads.split(",")
    export(a.base, a.scratch)
    sides = {"base": a.scratch, "change": ROOT}
    for side, checkout in sides.items():
        print(f"compiling {side} ({checkout})", file=sys.stderr)
        run(checkout, workloads[0], a.seed0, 1, size="tiny")

    results = {w: [] for w in workloads}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        for w in workloads:
            got = {}
            for side in order:
                got[side] = run(sides[side], w, seed, a.seconds)
                print(f"pair {i + 1} {w} {side}: {got[side][0]:.1f} s", file=sys.stderr)
            if got["base"][1] is not None and got["change"][1] is not None:
                results[w].append((got["base"], got["change"]))
    for w in workloads:
        report(w, metrics, results[w])
    if a.json:
        with open(a.json, "w") as f:
            json.dump({w: [{"base": {"wall_s": b[0], "result": b[1]},
                            "change": {"wall_s": c[0], "result": c[1]}}
                           for b, c in results[w]] for w in workloads}, f, indent=1)


if __name__ == "__main__":
    main()
