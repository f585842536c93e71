"""Interleaved A/B of two commits on one perfbench workload.

Usage: python scripts/perfbench_ab.py REF_A REF_B --workload W --pairs N
e.g.   python scripts/perfbench_ab.py HEAD~1 HEAD --workload etl_export --pairs 10

Each ref is ``git archive``d into a fresh temporary directory, so both
sides run their committed files only. Pair i runs ``perfbench/run.py
--seed <first-seed + i> --trace 0`` for ``BENCHMARK.json``'s
``run_seconds`` once in each checkout; A runs first in even pairs and B
in odd ones, so drift on a shared machine falls on both sides. Per gated
end-to-end metric of ``BENCHMARK.json`` it prints both medians, the
change, A's interquartile range and the number of pairs in which B is
better; a run that is not correct or has a failed operation is printed
and makes the exit status 1.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def checkout(ref: str, tag: str) -> str:
    dest = tempfile.mkdtemp(prefix=f"perfbench-ab-{tag}-")
    archive = subprocess.run(["git", "-C", ROOT, "archive", ref],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"correct": False, "failed": None, "metrics": {},
                "error": (proc.stderr.strip().splitlines() or ["?"])[-1]}
    return json.loads(lines[-1])


def iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("ref_a")
    p.add_argument("ref_b")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    gated = bench["end_to_end"]
    trees = {"A": checkout(args.ref_a, "a"), "B": checkout(args.ref_b, "b")}
    runs: dict[str, list[dict]] = {"A": [], "B": []}
    bad = 0
    try:
        for i in range(args.pairs):
            seed = args.first_seed + i
            for side in ("AB" if i % 2 == 0 else "BA"):
                res = run_once(trees[side], args.workload, seed,
                               bench["run_seconds"])
                runs[side].append(res)
                values = " ".join(
                    f"{m['name']}={res['metrics'][m['name']]['value']:.4g}"
                    for m in gated if m["name"] in res["metrics"])
                ok = res["correct"] and res["failed"] == 0
                bad += not ok
                print(f"pair {i + 1} seed {seed} {side}: "
                      f"{'ok' if ok else 'NOT OK ' + res.get('error', '')} "
                      f"{values}", flush=True)
    finally:
        for tree in trees.values():
            shutil.rmtree(tree, ignore_errors=True)

    print(f"\n{args.workload}: A={args.ref_a} B={args.ref_b}, "
          f"{args.pairs} pairs, {bad} runs not correct or with failed ops")
    print(f"{'metric':22s} {'median A':>10} {'median B':>10} {'change':>8} "
          f"{'IQR A':>8} {'B better':>9}")
    for m in gated:
        name, sign = m["name"], 1 if m["better"] == "lower" else -1
        pairs = [(a["metrics"][name]["value"], b["metrics"][name]["value"])
                 for a, b in zip(runs["A"], runs["B"])
                 if name in a["metrics"] and name in b["metrics"]]
        if not pairs:
            print(f"{name:22s} no complete pair")
            continue
        a_vals, b_vals = zip(*pairs)
        med_a, med_b = statistics.median(a_vals), statistics.median(b_vals)
        wins = sum(sign * (a - b) > 0 for a, b in pairs)
        change = (med_b - med_a) / med_a if med_a else 0.0
        print(f"{name:22s} {med_a:10.4g} {med_b:10.4g} {change:+8.1%} "
              f"{iqr(list(a_vals)):8.3g} {wins:4d}/{len(pairs)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
