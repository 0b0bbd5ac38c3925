#!/bin/bash
# The launcher for a graft main outside sbt: `java @dev/jvm.args` over
# an already-compiled classes directory. No sbt lock, and the binary is
# PINNED at launch (pass a snapshot dir as GRAFT_CLASSES to decouple
# long ladders from source edits). The heap is SPARK_DRIVER_MEM, else
# half of the host's RAM clamped to 2-8 GB; the main's cores are
# SPARK_GRAFT_CPUS, else every core (graft.Launch).
#
# Usage: GRAFT_CLASSES=/tmp/classes dev/run_main.sh graft.tools.ScaleBench /root/synth 100.0
set -u
cd "$(dirname "$0")/.."
CLASSES=${GRAFT_CLASSES:-target/scala-2.13/classes}
MAIN=$1; shift
MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
exec java @dev/jvm.args -Xmx"$MEM" -cp "$CLASSES:/opt/spark/jars/*" "$MAIN" "$@"
