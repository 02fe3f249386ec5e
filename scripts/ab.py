#!/usr/bin/env python3
"""Alternating A/B of benchmark workloads: a parent revision against the
working tree.

    python3 scripts/ab.py --parent <rev> --workload <name|all> --seed <n> --pairs <k>

Run from the repository root. The parent's committed files are exported
with `git archive <rev>` into .bench_ab/<rev>/ (reused when present).
`--workload all` runs every workload BENCHMARK.json names, one after the
other. Each pair runs `perfbench/run.py --trace 0` for BENCHMARK.json's
`run_seconds` once in the parent's export and once in the working tree;
the side that runs first alternates from pair to pair. Per workload, for
every end-to-end metric the script prints each side's median and
quartiles, how many pairs the working tree won (lower is better for every
end-to-end metric) and whether the working tree's median is worse than
the parent's by more than the metric's bound; then each side's failed
over attempted operations and every run's `correct` and `failed`. The
last line is the gate: no metric worse than its bound on any workload and
no larger failed share.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m["bound"] for m in BENCHMARK["end_to_end"]}


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


def run(tree, workload, seed):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(BENCHMARK["run_seconds"]), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"ab: run in {tree} failed:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def compare(workload, args, sides, sha):
    """Run the pairs of one workload, print its table; True if it passes
    the gate."""
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            s = run(sides[side], workload, args.seed)
            runs[side].append(s)
            print(f"{workload} pair {i + 1} {side}: correct={s['correct']} failed={s['failed']}/"
                  f"{s['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in s["metrics"].items()),
                  flush=True)
    print(f"\n{workload} seed {args.seed}, {args.pairs} pairs, parent {sha} vs working tree")
    print(f"{'metric':16} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} "
          f"wins  bound  worse")
    ok = True
    for m in runs["parent"][0]["metrics"]:
        p = [r["metrics"][m]["value"] for r in runs["parent"]]
        c = [r["metrics"][m]["value"] for r in runs["change"]]
        wins = sum(1 for a, b in zip(p, c) if b < a)
        fmt = lambda xs: "{:.4g} [{:.4g}, {:.4g}]".format(statistics.median(xs), *quartiles(xs))
        bound = BOUNDS.get(m)
        worse = bound is not None and statistics.median(c) - statistics.median(p) > bound
        ok &= not worse
        print(f"{m:16} {fmt(p):>30} {fmt(c):>30} {wins:>2}/{args.pairs} "
              f"{bound if bound is not None else '-':>6}  {'WORSE' if worse else 'no'}")
    share = {}
    for side in ("parent", "change"):
        failed = sum(r["failed"] for r in runs[side])
        attempted = sum(r["attempted"] for r in runs[side])
        share[side] = failed / attempted if attempted else 0.0
        print(f"{side} failed/attempted: {failed}/{attempted} ({share[side]:.4f}); runs "
              "(correct, failed/attempted): " + ", ".join(
                  f"({r['correct']}, {r['failed']}/{r['attempted']})" for r in runs[side]))
    ok &= share["change"] <= share["parent"]
    ok &= all(r["correct"] for r in runs["change"])
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--workload", required=True,
                    help="a workload BENCHMARK.json names, or 'all'")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, required=True)
    args = ap.parse_args()
    names = [w["name"] for w in BENCHMARK["workloads"]]
    workloads = names if args.workload == "all" else [args.workload]
    if any(w not in names for w in workloads):
        sys.exit(f"ab: unknown workload {args.workload}; BENCHMARK.json names {names}")
    sha, parent_tree = export(args.parent)
    sides = {"parent": parent_tree, "change": ROOT}
    passed = [w for w in workloads if compare(w, args, sides, sha)]
    print(f"\ngate: {'pass' if len(passed) == len(workloads) else 'FAIL'} "
          f"({len(passed)}/{len(workloads)} workloads with no metric worse than its bound, "
          "no larger failed share, every change run correct)")


if __name__ == "__main__":
    main()
