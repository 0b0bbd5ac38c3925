#!/bin/bash
# Per-rung-JVM scale ladder (round-7 verdict task 4): one sbt-forked
# JVM per rung so one rung's ENOSPC/AQE-hang cannot void the artifact
# or leak its shuffle files into the next rung's process — the exact
# failure chain that killed the round-7 REFORCED epilogue at sf100.
#
# Each rung writes SCALE_RUNG_sf<sf>.json; dev/merge_ladder.py folds
# the rung artifacts into one SCALE_BENCH-shaped file with cross-rung
# ratios. The streaming bench runs once, in its own JVM after the sf10
# rung (FILESTREAM_BENCH_sf10.0.json); simhash is
# skipped at sf100 because the auto scheme there selects b=5 — the
# exact plan docs_simhash_pairs_wide already measures with pinned
# chunks at every rung, so the cell would double-measure it (the old
# "fixed 4x16-bit keyspace" rationale was stale: past ~1.05M docs the
# registered row is not the 4-chunk scheme).
#
# Usage: dev/scale_ladder.sh [workDir] [out.json]   (rungs fixed 10/31.6/100)
set -u
WORK=${1:-/root/synth}
OUT=${2:-SCALE_BENCH_SF100_REFORCED.json}
cd "$(dirname "$0")/.."

for SF in 10.0 31.6 100.0; do
  echo "=== rung sf$SF ($(date -u +%H:%M:%S)) ==="
  # a stale rung artifact from a previous run must never be merged as
  # fresh data: a rung JVM that dies before writing its output leaves
  # the old file in place otherwise
  rm -f "SCALE_RUNG_sf$SF.json"
  if [ "$SF" = "100.0" ]; then export SPARK_GRAFT_SKIP=docs_simhash_pairs; else unset SPARK_GRAFT_SKIP || true; fi
  # fresh scratch per rung: a killed JVM cannot leak blockmgr/scratch
  # into the next rung's disk budget
  RUNG_TMP=$(mktemp -d /tmp/graft_rung_XXXX)
  SPARK_GRAFT_OUT="SCALE_RUNG_sf$SF.json" \
  SPARK_DRIVER_MEM=24g \
  SPARK_LOCAL_DIRS="$RUNG_TMP" \
  JAVA_TOOL_OPTIONS="-Djava.io.tmpdir=$RUNG_TMP" \
    sbt -batch "runMain graft.tools.ScaleBench $WORK $SF" \
    > "ladder_sf$SF.log" 2>&1
  echo "rung sf$SF exit=$? ($(date -u +%H:%M:%S))"
  if [ "$SF" = "10.0" ]; then
    SPARK_DRIVER_MEM=24g \
    SPARK_LOCAL_DIRS="$RUNG_TMP" \
    JAVA_TOOL_OPTIONS="-Djava.io.tmpdir=$RUNG_TMP" \
      sbt -batch "runMain graft.tools.StreamBench $WORK $SF" \
      > "stream_sf$SF.log" 2>&1
    echo "streaming sf$SF exit=$? ($(date -u +%H:%M:%S))"
  fi
  rm -rf "$RUNG_TMP"
done

python3 dev/merge_ladder.py "$OUT" SCALE_RUNG_sf10.0.json \
  SCALE_RUNG_sf31.6.json SCALE_RUNG_sf100.0.json
echo "merged -> $OUT"
