"""Build file of the benchmark package.

Compiles the engine's sources (``src/main/scala`` at the repository root)
together with the benchmark's own sources (``perfbench/src/main/scala``)
into ``perfbench/build/classes``, using the Scala compiler that ships in
Spark's jar directory. A content digest of every source skips the build
when nothing changed.

    python3 perfbench/build.py
"""

import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / "build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "stamp"


def spark_jars() -> pathlib.Path:
    """Spark's jar directory, from SPARK_HOME or the spark-submit on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(pathlib.Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(pathlib.Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if c.is_dir() and any(c.glob("scala-compiler-*.jar")):
            return c
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler; set SPARK_HOME")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = pathlib.Path(home) / "bin" / "java" if home else None
    found = str(exe) if exe and exe.exists() else shutil.which("java")
    if not found:
        raise SystemExit("perfbench: no java on PATH")
    return found


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir() or not (ROOT / "build.sbt").is_file():
        raise SystemExit(f"perfbench: engine sources not found under {ROOT}")
    return sorted(program.rglob("*.scala")) + sorted((HERE / "src" / "main" / "scala").rglob("*.scala"))


def digest(files: list, jars: pathlib.Path) -> str:
    h = hashlib.sha256()
    h.update(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_built() -> pathlib.Path:
    """Compile if the sources changed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    want = digest(files, jars)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == want:
        return CLASSES
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    cmd = [java(), "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({res.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(want)
    return CLASSES


if __name__ == "__main__":
    print(ensure_built())
