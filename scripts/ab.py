#!/usr/bin/env python3
"""Alternating A/B of one benchmark workload: a parent revision against
the working tree.

    python3 scripts/ab.py --parent <rev> --workload <name> --seed <n> --pairs <k>

Run from the repository root. The parent's committed files are exported
with `git archive <rev>` into .bench_ab/<rev>/ (reused when present).
Each pair runs `perfbench/run.py --seconds 10 --trace 0` once in the
parent's export and once in the working tree; the side that runs first
alternates from pair to pair. For every end-to-end metric the script
prints each side's median and quartiles and how many pairs the working
tree won (lower is better for every end-to-end metric), then every run's
`correct` and `failed`.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def export(rev):
    sha = subprocess.run(["git", "rev-parse", "--short", rev], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout.strip()
    dest = ROOT / ".bench_ab" / sha
    if not (dest / "perfbench" / "run.py").exists():
        dest.mkdir(parents=True, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"ab: git archive {sha} failed")
    return sha, dest


def run(tree, args):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", "10", "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"ab: run in {tree} failed:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, required=True)
    args = ap.parse_args()
    sha, parent_tree = export(args.parent)
    sides = {"parent": parent_tree, "change": ROOT}
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            s = run(sides[side], args)
            runs[side].append(s)
            print(f"pair {i + 1} {side}: correct={s['correct']} failed={s['failed']}/"
                  f"{s['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in s["metrics"].items()),
                  flush=True)
    print(f"\n{args.workload} seed {args.seed}, {args.pairs} pairs, parent {sha} "
          f"vs working tree")
    print(f"{'metric':16} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} wins")
    for m in runs["parent"][0]["metrics"]:
        p = [r["metrics"][m]["value"] for r in runs["parent"]]
        c = [r["metrics"][m]["value"] for r in runs["change"]]
        wins = sum(1 for a, b in zip(p, c) if b < a)
        fmt = lambda xs: "{:.4g} [{:.4g}, {:.4g}]".format(statistics.median(xs), *quartiles(xs))
        print(f"{m:16} {fmt(p):>30} {fmt(c):>30} {wins}/{args.pairs}")
    for side in ("parent", "change"):
        print(f"{side} runs (correct, failed/attempted): " + ", ".join(
            f"({r['correct']}, {r['failed']}/{r['attempted']})" for r in runs[side]))


if __name__ == "__main__":
    main()
