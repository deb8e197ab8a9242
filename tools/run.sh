#!/bin/bash
# Direct JVM launcher for graft mains (avoids sbt lock/overhead for repeated runs).
# Usage: tools/run.sh <MainClass> [args...]   (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
# The runtime classpath is written once, by offline sbt, to target/cp.txt of
# this checkout (delete it after changing build.sbt; rebuild classes with
# `sbt compile` after changing sources). The heap is half of MemTotal,
# clamped to 2-8 GB — the sizing the tier-1 test command (ROADMAP.md) gives
# SPARK_DRIVER_MEM.
set -eo pipefail
ROOT=$(cd "$(dirname "$0")/.." && pwd)
CPF="$ROOT/target/cp.txt"
if [ ! -s "$CPF" ]; then
  mkdir -p "$ROOT/target"
  (cd "$ROOT" && COURSIER_MODE=offline sbt --batch --error -Dsbt.offline=true \
    "export Runtime/fullClasspath") | tail -1 > "$CPF.tmp"
  mv "$CPF.tmp" "$CPF"
fi
CP=$(cat "$CPF")
XMX=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' </proc/meminfo 2>/dev/null || echo 2g)
MAIN=$1; shift
exec java -Xmx"$XMX" -XX:+UseG1GC \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false \
  -cp "$CP" "graft.$MAIN" "$@"
