"""Paired A/B run of the benchmark: a base revision against this checkout.

    python3 scripts/ab_bench.py --base <rev> --workload catalog_sweep --pairs 10
    python3 scripts/ab_bench.py --base HEAD~1 --workload bulk_delivery \\
        --pairs 10 --seed 7 --out ab.json
    python3 scripts/ab_bench.py --base HEAD~1 --pairs 10 \\
        --workload catalog_sweep,bulk_delivery,corpus_dedup

Exports ``<rev>`` with ``git archive`` into a temporary directory (no
worktree is registered, so an interrupted run leaves the repository's
git metadata untouched) and runs ``perfbench/run.py`` from each tree
in turn: pair ``i`` runs the base first when ``i`` is even and this
checkout first when it is odd. A comma-separated ``--workload`` runs
every pair of one workload before the next, on the one export, and
prints one table per workload. Both sides get the same workload,
seed, ``--seconds`` and environment; ``--trace`` is always 0.

For every end-to-end metric named in this checkout's ``BENCHMARK.json``
it prints each side's median and quartiles, how many pairs the change
won (ties count for neither side), whether the gain rule holds (wins
in at least 9/10 of the pairs and medians further apart than the
base's interquartile range) and whether the change's median is worse
than the base's by more than the metric's bound. Neither
``perfbench/`` nor ``BENCHMARK.json`` is modified.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_rev(rev: str, dest: str) -> None:
    """Write the tracked files of ``rev`` under ``dest``."""
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", "--format=tar", rev],
        check=True, capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_bench(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One ``perfbench/run.py`` run from ``tree``; its metric values."""
    cmd = [sys.executable, os.path.join(tree, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"benchmark failed in {tree} (exit {proc.returncode}):\n"
            f"{proc.stdout[-2000:]}{proc.stderr[-2000:]}")
    res = json.loads(lines[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(spec: dict, base: list[float], change: list[float]) -> dict:
    """Gain rule and regression bound for one metric over paired runs."""
    sign = 1 if spec["better"] == "higher" else -1
    wins = sum(sign * (c - b) > 0 for b, c in zip(base, change))
    losses = sum(sign * (c - b) < 0 for b, c in zip(base, change))
    b1, bm, b3 = quartiles(base)
    c1, cm, c3 = quartiles(change)
    gain = sign * (cm - bm)
    rel = gain / abs(bm) if bm else 0.0
    return {
        "base": {"q1": b1, "median": bm, "q3": b3, "runs": base},
        "change": {"q1": c1, "median": cm, "q3": c3, "runs": change},
        "rel_gain": rel,
        "wins": wins,
        "losses": losses,
        "pairs": len(base),
        "gain_rule": wins >= math.ceil(0.9 * len(base)) and gain > b3 - b1,
        "regression": -rel > spec["bound"],
    }


def report(workload: str, a, specs: dict, runs: dict) -> dict:
    """Print one workload's table; return its per-metric summary."""
    summary = {}
    print(f"== {workload} seed={a.seed} seconds={a.seconds} "
          f"pairs={a.pairs} base={a.base}")
    print(f"   {'metric':<12} {'base median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'gain':>7} {'wins':>6} "
          f"{'9/10 rule':>9} {'bound':>9}")
    for name, spec in specs.items():
        s = summary[name] = summarize(
            spec, [r[name] for r in runs["base"]],
            [r[name] for r in runs["change"]])
        b, c = (f"{q['median']:.4g} [{q['q1']:.4g}, {q['q3']:.4g}]"
                for q in (s["base"], s["change"]))
        print(f"   {name:<12} {b:>30} {c:>30} "
              f"{s['rel_gain']:>+7.1%} {s['wins']:>3}/{s['pairs']:<2} "
              f"{'holds' if s['gain_rule'] else 'no':>9} "
              f"{'WORSE' if s['regression'] else 'ok':>9}")
    return summary


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--base", required=True, help="git revision to compare to")
    p.add_argument("--workload", required=True,
                   help="one workload, or a comma-separated list")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--out", help="also write every run and summary as JSON")
    a = p.parse_args(argv)
    workloads = a.workload.split(",")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        specs = {m["name"]: m for m in json.load(fh)["end_to_end"]}

    runs = {w: {"base": [], "change": []} for w in workloads}
    tmp = tempfile.mkdtemp(prefix="ab_bench_")
    try:
        base_tree = os.path.join(tmp, "base")
        os.makedirs(base_tree)
        export_rev(a.base, base_tree)
        trees = {"base": base_tree, "change": ROOT}
        for w in workloads:
            for i in range(a.pairs):
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                for side in order:
                    t0 = time.time()
                    runs[w][side].append(
                        run_bench(trees[side], w, a.seed, a.seconds))
                    print(f"{w} pair {i + 1}/{a.pairs} {side:<6} "
                          f"{time.time() - t0:5.1f} s  "
                          + " ".join(f"{k}={v:.4g}"
                                     for k, v in runs[w][side][-1].items()),
                          file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    summaries = {w: report(w, a, specs, runs[w]) for w in workloads}
    if a.out:
        common = {"seed": a.seed, "seconds": a.seconds, "base": a.base}
        out = ({"workload": workloads[0], **common,
                "metrics": summaries[workloads[0]]} if len(workloads) == 1
               else {**common, "workloads": summaries})
        with open(a.out, "w") as fh:
            json.dump(out, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
