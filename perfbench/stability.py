"""Repeat benchmark runs and summarise their spread.

    python3 perfbench/stability.py --workloads recsys_flow,curation_intake \
        --seeds 1-10 [--traced-seeds 1,2] [--out perfbench/results/stability.json]

For each workload: one untraced run per seed, then one traced run per
traced seed. Reports, per end-to-end metric, the median, the quartiles
(statistics.quantiles, n=4) and the spread (Q3 - Q1) / median; the tracing
overhead of pass_s and batch_p50_s (traced median minus untraced median);
and which per-layer counts repeated exactly across the traced runs.
"""

import argparse
import json
import pathlib
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
COUNT_SUFFIXES = (".jobs", ".tasks", "_bytes", ".state_rows", ".rows", ".users")


def seeds(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(BENCH["run_seconds"]), "--trace", str(trace)]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {res.returncode}")
    table = {}
    for line in lines:
        parts = line.split()
        if parts[:1] == ["metric"]:
            table[parts[1]] = {"value": float(parts[2]), "unit": parts[3], "better": parts[4]}
    result = json.loads(lines[-1])
    notes = [l for l in lines if not l.startswith(("metric ", "{"))]
    print(f"{workload} seed={seed} trace={trace} correct={result['correct']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                     if not trace), flush=True)
    return {"seed": seed, "trace": trace, "result": result, "table": table, "notes": notes}


def environment() -> dict:
    """nproc, JVM heap and the commit of the code measured."""
    import os
    import run as bench_run
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=HERE, text=True,
                                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL).stdout.strip()
    except OSError:
        commit = ""
    return {"nproc": os.cpu_count(), "heap": bench_run.HEAP, "commit": commit or "unknown",
            "run_seconds": BENCH["run_seconds"]}


def spread(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in BENCH["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced-seeds", default="")
    ap.add_argument("--out")
    args = ap.parse_args()
    summary = {"environment": environment()}
    for w in args.workloads.split(","):
        plain = [run(w, s, 0) for s in seeds(args.seeds)]
        traced = [run(w, s, 1) for s in seeds(args.traced_seeds)] if args.traced_seeds else []
        entry = {"end_to_end": {}, "runs": plain + traced}
        for m in BENCH["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in plain]
            entry["end_to_end"][m["name"]] = dict(spread(vals), bound=m["bound"],
                                                  within_third_of_bound=None)
            e = entry["end_to_end"][m["name"]]
            e["within_third_of_bound"] = e["spread"] < m["bound"] / 3
            print(f"  {w} {m['name']}: median {e['median']:.4g} spread {e['spread']:.3f}"
                  f" (bound {m['bound']})", flush=True)
        if traced:
            entry["tracing_overhead_s"] = {
                m: statistics.median(r["table"][m]["value"] for r in traced)
                - statistics.median(r["table"][m]["value"] for r in plain)
                for m in ("pass_s", "batch_p50_s") if m in plain[0]["table"]}
            layers = [r["result"]["metrics"] for r in traced]
            entry["per_layer_counts_repeat_exactly"] = {
                k: len({l[k]["value"] for l in layers}) == 1
                for k in layers[0] if k.endswith(COUNT_SUFFIXES)}
        summary[w] = entry
    text = json.dumps(summary, indent=1)
    if args.out:
        pathlib.Path(args.out).write_text(text + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
