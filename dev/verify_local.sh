#!/bin/bash
# Local correctness loop: Verify dump at sf0.01 + DuckDB compare.
# Usage: dev/verify_local.sh [sfDir] [outDir]
# Needs `sbt compile` first: it runs the classes in
# target/scala-2.13/classes and stops with an error when any src/main
# file is newer than the last compile (the newest class, or the
# compile.stamp every sbt compile touches). Verify runs through
# dev/run_main.sh, which sizes its heap and cores.
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
rm -rf "$OUT" && mkdir -p "$OUT"
# Spark's log goes to $OUT/verify.log; a Verify that fails to run (an
# unknown SPARK_GRAFT_ONLY name, say) stops the script with its error
GRAFT_CLASSES=$CLASSES dev/run_main.sh graft.Verify "$SF" "$OUT" 2>"$OUT/verify.log" || {
  grep -m1 Exception "$OUT/verify.log" >&2; exit 1; }
python3 dev/compare.py "$SF" "$OUT"
