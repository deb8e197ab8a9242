#!/usr/bin/env python3
"""Same-box A/B of the end-to-end benchmark: this checkout against a parent.

Usage:
  python3 tools/abpairs.py PARENT_DIR [--workload W ...] [--seeds 61-70]

PARENT_DIR is another checkout of the repository, for example one made
with `git worktree add ../parent HEAD~1`. Each seed is one pair: the
same `python3 perfbench/run.py --workload W --seed S --seconds T` runs in
both trees, and the side that runs first alternates from pair to pair.
The workloads, the end-to-end metrics, their better direction and
bounds, and the run length T come from this checkout's BENCHMARK.json.
Both trees build their benchmark (perfbench/build.py) before the first
pair, so no timed pair pays a compile.

Each run's end-to-end metrics go to standard error as it finishes. Per
workload and metric it prints both medians with their quartiles, the
pairs the change won (ties count for neither side) and a verdict:

  gain        the change wins at least 9 of every 10 pairs and its median
              is better than the parent's by more than the parent's
              interquartile range
  no worse    the change's median is not worse than the parent's by more
              than the bound (a fraction of the parent's median), or every
              change run beats every parent run
  worse       the change's median is worse by more than the bound
  unresolved  the parent's interquartile range exceeds the bound, so the
              runs spread too widely to tell

A run that exits non-zero or prints no result line is a crashed run. Per
side it prints the crashed runs, the share of failed operations (the
result lines' failed / attempted) and the median work count, read from
the run's `metric batches` or `metric passes` line: a 10 s run completes
as many batches or passes as the box's speed allows, and a reading such
as `live_heap_mb` that grows with that count moves with it. Exit 0
unless a run crashed or an operation failed.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORK_COUNTS = ("batches", "passes")


def seed_list(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def build_trees(parent):
    """{"parent": PARENT_DIR, "change": this checkout}, each with its benchmark built."""
    parent = parent.resolve()
    if not (parent / "perfbench" / "run.py").is_file():
        sys.exit(f"{parent} has no perfbench/run.py")
    trees = {"parent": parent, "change": ROOT}
    for tree in trees.values():
        subprocess.run([sys.executable, "perfbench/build.py"], cwd=tree, check=True,
                       stdout=subprocess.DEVNULL)
    return trees


def run(tree, workload, seed, seconds):
    """One run's result line and its work count as (name, value), None
    when it prints none; (None, None) if the run crashed or printed no
    result line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    res = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines or not lines[-1].startswith("{"):
        print("\n".join(res.stderr.strip().splitlines()[-5:]), file=sys.stderr)
        return None, None
    count = next(((f[1], float(f[2])) for f in map(str.split, lines)
                  if len(f) > 2 and f[0] == "metric" and f[1] in WORK_COUNTS), None)
    return json.loads(lines[-1]), count


def values(result):
    """{metric: value} of a result line (None stays None)."""
    return result and {k: v["value"] for k, v in result["metrics"].items()}


def quartiles(xs):
    return statistics.quantiles(xs, n=4, method="inclusive")


def verdict(parent, change, better, bound):
    """Verdict of one metric over paired runs (lists of equal length)."""
    lower = better == "lower"
    def beats(c, p):
        return c < p if lower else c > p
    wins = sum(beats(c, p) for p, c in zip(parent, change))
    pq1, pm, pq3 = quartiles(parent)
    cm = statistics.median(change)
    iqr = pq3 - pq1
    worse_by = (cm - pm if lower else pm - cm) / abs(pm) if pm else 0.0
    if 10 * wins >= 9 * len(parent) and beats(cm, pm) and abs(cm - pm) > iqr:
        v = "gain"
    elif all(beats(c, p) for c in change for p in parent):
        v = "no worse"
    elif pm and iqr / abs(pm) > bound:
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "no worse"
    return wins, v


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", type=pathlib.Path)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", default="61-70",
                    help="one pair per seed, e.g. 61-70 or 1,3,5-8 (default 61-70)")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seeds = seed_list(args.seeds)
    seconds = bench["run_seconds"]
    trees = build_trees(args.parent)

    failed = 0
    for w in workloads:
        runs = {"parent": [], "change": []}
        counts = {"parent": [], "change": []}
        for i, seed in enumerate(seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                res, count = run(trees[side], w, seed, seconds)
                runs[side].append(res)
                if count is not None:
                    counts[side].append(count)
                m = values(res)
                print(f"[{w} seed {seed}] {side}: " + (
                    "FAILED" if m is None else
                    " ".join(f"{e['name']}={m.get(e['name'])}" for e in bench["end_to_end"])
                    + (f" {count[0]}={count[1]:g}" if count else "")),
                    file=sys.stderr, flush=True)
        print(f"\n{w}: {len(seeds)} pairs, seeds {args.seeds}, {seconds} s runs")
        for side in ("parent", "change"):
            done = [r for r in runs[side] if r]
            crashed = len(seeds) - len(done)
            ops = sum(r["attempted"] for r in done)
            bad = sum(r["failed"] for r in done)
            failed += crashed + bad
            work = (f"median {counts[side][0][0]} "
                    f"{statistics.median(c for _, c in counts[side]):g}"
                    if counts[side] else "no work count")
            print(f"  {side}: {crashed}/{len(seeds)} runs crashed, "
                  f"{bad}/{ops} operations failed, {work}")
        runs = {side: [values(r) for r in rs] for side, rs in runs.items()}
        print(f"  {'metric':14s} {'parent median [q1, q3]':>30s} "
              f"{'change median [q1, q3]':>30s} {'wins':>6s}  verdict")
        for e in bench["end_to_end"]:
            name = e["name"]
            pairs = [(p[name], c[name]) for p, c in zip(runs["parent"], runs["change"])
                     if p and c and name in p and name in c]
            if len(pairs) < 2:
                print(f"  {name:14s} too few complete pairs ({len(pairs)})")
                continue
            ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
            wins, v = verdict(ps, cs, e["better"], e["bound"])
            def fmt(xs):
                q1, q2, q3 = quartiles(xs)
                return f"{q2:.4g} [{q1:.4g}, {q3:.4g}]"
            print(f"  {name:14s} {fmt(ps):>30s} {fmt(cs):>30s} "
                  f"{wins:>3d}/{len(pairs):<2d}  {v} (bound {e['bound']})")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
