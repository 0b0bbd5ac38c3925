#!/bin/bash
# Local correctness loop: Verify dump at sf0.01 + DuckDB compare.
# Usage: dev/verify_local.sh [sfDir] [outDir]
# Needs `sbt compile` first: it runs the classes in
# target/scala-2.13/classes and stops with an error when any src/main
# file is newer than the last compile (the newest class, or the
# compile.stamp every sbt compile touches). Heap and cores follow
# SPARK_DRIVER_MEM and SPARK_GRAFT_CPUS; unset, they are sized from the
# host like the test command: half of RAM clamped to 2-8 GB, and every
# core.
set -e
cd "$(dirname "$0")/.."
CLASSES=target/scala-2.13/classes
NEWEST=$(find "$CLASSES" target/scala-2.13/compile.stamp \( -name '*.class' -o -name compile.stamp \) \
  -printf '%T@ %p\n' 2>/dev/null | sort -n | tail -1 | cut -d' ' -f2-)
if [ -z "$NEWEST" ]; then
  echo "verify_local.sh: no classes under $CLASSES; run sbt compile first" >&2
  exit 1
fi
STALE=$(find src/main -type f -newer "$NEWEST")
if [ -n "$STALE" ]; then
  echo "verify_local.sh: src/main changed after the last compile; run sbt compile first:" >&2
  echo "$STALE" | head -5 >&2
  exit 1
fi
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
rm -rf "$OUT"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)} java -Xmx"$MEM" \
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
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT" 2>/dev/null | grep -v WARN || true
python3 dev/compare.py "$SF" "$OUT"
