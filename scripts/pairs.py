#!/usr/bin/env python3
"""Interleaved parent/change pairs of one perfbench workload.

Usage (from the repository root):
  python3 scripts/pairs.py --workload pipeline_live --rev <parent rev> \
      [--pairs 10] [--seeds 1,7919,2,...] [--parent-dir DIR]

Each pair runs `perfbench/run.py` once on the parent and once on this
checkout with the same seed, back to back, alternating which side goes
first, so slow drift of the machine hits both sides alike. Every run
lasts BENCHMARK.json's `run_seconds`. The parent is a `git worktree` of
--rev (created under --parent-dir, default `.pairs/<rev>`, and kept for
later calls), or any existing checkout given with --parent-dir. Each
side builds into and runs from its own `.bench_build/`.

For every end-to-end metric of BENCHMARK.json it prints each pair's
values and ratio (oriented so that > 1 means the change is better), each
side's median and quartiles, the change's win count, and the change's
median against the metric's no-regression bound. For `throughput_per_s`,
the claimed metric, it also prints whether the claim rule holds: the
change wins at least 9 of 10 pairs (the same share of more pairs) and the
medians differ by more than the parent's interquartile range. Exits 1
when a run fails its output checks.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
METRICS = {m["name"]: m for m in BENCH["end_to_end"]}
CLAIMED = "throughput_per_s"


def run(checkout, workload, seed):
    """One untraced perfbench run; returns {metric: value} for every
    end-to-end metric."""
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(BENCH["run_seconds"]),
         "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"pairs: run failed in {checkout} (seed {seed}):\n{r.stderr[-3000:]}")
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        sys.exit(f"pairs: output checks failed in {checkout} (seed {seed}):\n"
                 + "\n".join(l for l in lines if l.startswith("FAILED")))
    return {name: res["metrics"][name]["value"] for name in METRICS}


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--rev", required=True, help="parent revision")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="",
                    help="comma-separated seeds, one per pair (default 1..N)")
    ap.add_argument("--parent-dir", type=Path, default=None,
                    help="parent checkout (created as a git worktree if absent)")
    args = ap.parse_args()

    seeds = [int(s) for s in args.seeds.split(",") if s] or list(
        range(1, args.pairs + 1))
    if len(seeds) < args.pairs:
        sys.exit(f"pairs: {args.pairs} pairs need {args.pairs} seeds")
    seeds = seeds[:args.pairs]
    parent = args.parent_dir or ROOT / ".pairs" / args.rev
    if not (parent / "perfbench" / "run.py").is_file():
        subprocess.run(["git", "worktree", "add", "--detach", str(parent), args.rev],
                       cwd=ROOT, check=True)

    runs = {"parent": [], "change": []}
    for i, seed in enumerate(seeds):
        order = [("parent", parent), ("change", ROOT)]
        if i % 2:
            order.reverse()
        for side, where in order:
            runs[side].append(run(where, args.workload, seed))
        print(f"pair {i + 1} seed {seed} first={order[0][0]}: " + "; ".join(
            f"{name} {runs['parent'][-1][name]:.4g} -> {runs['change'][-1][name]:.4g}"
            for name in METRICS), flush=True)

    print(f"{args.workload}, {len(seeds)} pairs, seeds {','.join(map(str, seeds))} "
          "(ratio > 1 = change better)")
    for name, m in METRICS.items():
        base = [r[name] for r in runs["parent"]]
        change = [r[name] for r in runs["change"]]
        up = m["better"] == "higher"
        ratios = [c / b if up else b / c for b, c in zip(base, change)]
        pq1, pmed, pq3 = quartiles(base)
        cq1, cmed, cq3 = quartiles(change)
        wins = sum(r > 1 for r in ratios)
        worse = (pmed - cmed) / pmed if up else (cmed - pmed) / pmed
        print(f"{name} ({m['unit']}, {m['better']} is better):")
        print(f"  parent median {pmed:.4g} (q1 {pq1:.4g}, q3 {pq3:.4g})")
        print(f"  change median {cmed:.4g} (q1 {cq1:.4g}, q3 {cq3:.4g})")
        print(f"  wins {wins}/{len(seeds)}; ratios " + " ".join(f"{r:.3f}" for r in ratios))
        print(f"  median worse by {worse:+.3f} (bound {m['bound']}): "
              f"{'within' if worse <= m['bound'] else 'OUTSIDE'}")
        if name == CLAIMED:
            gap = (cmed - pmed) if up else (pmed - cmed)
            holds = wins >= 0.9 * len(seeds) and gap > pq3 - pq1
            print(f"  claim rule (>= 9/10 wins, median gap {gap:.4g} > parent IQR "
                  f"{pq3 - pq1:.4g}): {'holds' if holds else 'does not hold'}")


if __name__ == "__main__":
    main()
