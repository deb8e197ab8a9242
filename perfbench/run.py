"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload recsys_flow|recsys_rescore|curation_intake \
        [--seed N] [--seconds S] [--trace 0|1]
    python3 perfbench/run.py --workload all [--seed N]
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source on first use (see
build.py), then runs the workload in one JVM with local[nproc] (`all`:
the three workloads one after another in one JVM, untraced). The last
line of standard output is the result object; the lines before it list
every end-to-end metric and any failed check. With --trace 1 the run
also writes its span record to perfbench/out/traces/.
"""

import argparse
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

OUT = build.HERE / "out"
RUN_TIMEOUT_S = 170
SELFTEST_TIMEOUT_S = 900
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
WORKLOADS = ["recsys_flow", "recsys_rescore", "curation_intake"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    classes = build.ensure_built()
    jars = build.spark_jars()
    workload = "selftest" if args.selftest else args.workload
    stamp = f"{workload}-seed{args.seed}-{os.getpid()}-{int(time.time())}"
    work = OUT / "work" / stamp
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = [build.java(), f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", os.pathsep.join([str(classes), str(jars / "*")]),
           "perfbench.Main", "--workload", workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", str(work)]
    if args.trace:
        traces = OUT / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        cmd += ["--trace-file", str(traces / f"{stamp}.json")]
    timeout = SELFTEST_TIMEOUT_S if args.selftest or workload == "all" else RUN_TIMEOUT_S

    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        code = proc.returncode
    except (subprocess.TimeoutExpired, KeyboardInterrupt):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print(f"perfbench: {workload} did not finish within {timeout} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    for line in lines:
        if not line.startswith("{"):
            print(line, flush=True)
    if code != 0:
        print(f"perfbench: {workload} exited with {code}", file=sys.stderr)
        return code
    if args.selftest:
        return 0
    if not lines or not lines[-1].startswith("{"):
        print("perfbench: no result line", file=sys.stderr)
        return 4
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
