#!/usr/bin/env python3
"""Output diff of the streaming curation intake: this checkout against a parent.

Usage:
  python3 tools/intakediff.py PARENT_DIR [--seeds 1-3,5] [--out DIR]

PARENT_DIR is another checkout of the repository. For each seed, both
trees build their benchmark (perfbench/build.py) and run
`perfbench.Main --workload curation_intake` directly, traced, with a kept
output directory (perfbench/run.py deletes its own). The ledger, sink
and index rows of the timed intake (`intake-2/`; `intake-0/1` are the
set-up repeats) are then compared as multisets of whole rows, columns
in file order. For a part that differs, the rows only one side holds are
counted per feed doc kind (`doc_id / 10^5 % 10`, a..e as in
perfbench/README.md); an index row takes the kind of the sink row with
its content hash, `?` when neither sink holds it. Each run's timed loop
lasts one second, so both trees run the feed's minimum of 5 batches;
differing batch counts are a failure.

Per seed and side it also prints the run's `dup_leaks` and batch count
and, from the trace, the jobs/tasks of each `EventStreams.curationIntake
.batch` span (units 0.. are timed batches, -1000 the warm-up) and of
each set-up's `EventStreams.curationIntake.wire` span.

Exit 0 iff every part is identical for every seed, both trees ran the
same batches, and no run failed.
"""
import argparse
import collections
import json
import os
import pathlib
import subprocess
import sys
import tempfile

import duckdb

sys.dont_write_bytecode = True
ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "perfbench"))
import run as perfbench  # noqa: E402
from abpairs import build_trees, seed_list  # noqa: E402

TIMED = "intake-2"
BATCH_SPAN = "EventStreams.curationIntake.batch"
WIRE_SPAN = "EventStreams.curationIntake.wire"
KINDS = "?abcde"  # doc_id / 10^5 % 10 → the feed's doc kind


def run_intake(tree, seed, out):
    """Runs the traced intake in `tree` into `out`; returns its result line or None."""
    out.mkdir(parents=True)
    (out / "tmp").mkdir()
    jars = perfbench.build.spark_jars()
    cmd = [perfbench.build.java(), f"-Xmx{perfbench.HEAP}", f"-Djava.io.tmpdir={out / 'tmp'}",
           *[a for p in perfbench.ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", os.pathsep.join([str(tree / "perfbench" / "build" / "classes"),
                                   str(jars / "*")]),
           "perfbench.Main", "--workload", "curation_intake", "--seed", str(seed),
           "--seconds", "1", "--trace", "1", "--out", str(out),
           "--trace-file", str(out / "trace.json")]
    res = subprocess.run(cmd, cwd=out, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, timeout=perfbench.RUN_TIMEOUT_S)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines or not lines[-1].startswith("{"):
        print("\n".join(res.stderr.strip().splitlines()[-5:]), file=sys.stderr)
        return None
    return json.loads(lines[-1])


def span_counts(spans, name):
    """{unit: (jobs, tasks)} summed over the spans called `name`."""
    counts = {}
    for s in spans:
        if s["name"] == name:
            j, t = counts.get(s["unit"], (0, 0))
            counts[s["unit"]] = (j + int(s.get("jobs", 0)), t + int(s.get("tasks", 0)))
    return dict(sorted(counts.items()))


def rows(con, part_dir):
    """(column names, rows in order) of the parquet files in `part_dir`."""
    files = sorted(str(p) for p in part_dir.glob("*.parquet"))
    if not files:
        return [], []
    cur = con.execute(f"SELECT * FROM read_parquet({json.dumps(files)}) ORDER BY ALL")
    return [d[0] for d in cur.description], cur.fetchall()


def kind(doc_id):
    k = doc_id // 100000 % 10
    return KINDS[k] if 0 < k < len(KINDS) else "?"


def by_kind(only, kind_of):
    """'a=3 d=30' for the rows `only` (a Counter), by `kind_of(row)`."""
    per = collections.Counter()
    for r, n in only.items():
        per[kind_of(r)] += n
    return " ".join(f"{k}={n}" for k, n in sorted(per.items())) or "-"


def compare(con, parent_dir, change_dir):
    """{part: verdict} for the ledger, sink and index of the timed intake."""
    verdicts, hash_kind = {}, {}
    for part in ("ledger", "sink", "index"):
        (cols_a, a), (cols_b, b) = (rows(con, d / TIMED / part) for d in (parent_dir, change_dir))
        cols = cols_a or cols_b
        ca, cb = collections.Counter(a), collections.Counter(b)
        if part == "sink" and cols:
            # content hash → doc kind for the index rows: a differing sink
            # row's kind wins over a shared one (a repeat shares its hash)
            d, h = cols.index("doc_id"), cols.index("content_hash")
            for r in sorted(ca + cb, key=lambda r: ca[r] == cb[r]):
                hash_kind.setdefault(r[h], kind(r[d]))
        if a == b:
            verdicts[part] = "identical"
            continue
        verdicts[part] = f"DIFFERENT ({len(a)} parent rows, {len(b)} change rows)"
        if part == "ledger":
            continue
        if part == "sink":
            kind_of = lambda r: kind(r[d])  # noqa: E731
        else:
            h = cols.index("content_hash")
            kind_of = lambda r: hash_kind.get(r[h], "?")  # noqa: E731
        verdicts[part] += (f"; parent only by kind: {by_kind(ca - cb, kind_of)}"
                           f"; change only by kind: {by_kind(cb - ca, kind_of)}")
    return verdicts


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", type=pathlib.Path)
    ap.add_argument("--seeds", default="1-3", help="e.g. 1-3 or 1,5,9 (default 1-3)")
    ap.add_argument("--out", type=pathlib.Path,
                    help="kept output directory (default: a new temporary directory)")
    args = ap.parse_args()
    trees = build_trees(args.parent)
    out = (args.out or pathlib.Path(tempfile.mkdtemp(prefix="intakediff-"))).resolve()

    con = duckdb.connect()
    bad = 0
    for seed in seed_list(args.seeds):
        dirs, batches = {}, {}
        for side, tree in trees.items():
            dirs[side] = out / f"seed{seed}" / side
            res = run_intake(tree, seed, dirs[side])
            if res is None:
                print(f"[seed {seed}] {side}: run FAILED")
                bad += 1
                continue
            trace = json.loads((dirs[side] / "trace.json").read_text())
            m = trace["end_to_end"]
            batches[side] = int(m["batches"])
            per_batch = span_counts(trace["trace"]["spans"], BATCH_SPAN)
            wire = span_counts(trace["trace"]["spans"], WIRE_SPAN)
            print(f"[seed {seed}] {side}: batches={batches[side]} "
                  f"dup_leaks={m['dup_leaks']:g} failed={res['failed']}/{res['attempted']}")
            print("  batch jobs/tasks: " +
                  " ".join(f"{u}:{j}/{t}" for u, (j, t) in per_batch.items()))
            print("  wire jobs/tasks: " +
                  " ".join(f"{u}:{j}/{t}" for u, (j, t) in wire.items()))
            bad += res["failed"]
        if len(batches) < 2:
            continue
        if batches["parent"] != batches["change"]:
            print(f"[seed {seed}] batch counts DIFFER")
            bad += 1
        for part, v in compare(con, dirs["parent"], dirs["change"]).items():
            print(f"[seed {seed}] {part}: {v}")
            bad += v.startswith("DIFFERENT")
    print(f"outputs kept in {out}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
