#!/bin/bash
# One pinned ScalingBench measurement, appended as one JSONL row.
#
#   scripts/scaling.sh <tag> <cpus> <heap> <out.jsonl> [ScalingBench args...]
#
# Pins the JVM to cores 0..cpus-1 with taskset, gives ParallelGC one thread
# per pinned core, passes --cpus <cpus> plus the given arguments to
# graft.ScalingBench, and appends its JSON line to <out.jsonl> prefixed with
# {"tag":"<tag>","pinned":1,...}. Every row records its own parameters, so
# a measurement series is a loop of calls, e.g. the pinned 2v8 pair with
# fixed state partitions and equal heap at both levels:
#
#   for s in 1 2 3; do for c in 2 8; do
#     scripts/scaling.sh 2v8 "$c" 14g SCALING.jsonl --convs 320000 \
#       --events-per-conv 100 --work /dev/shm/graft-scaling \
#       --files-per-trigger 16 --state-partitions 24 --shuffle $(( 3 * c ))
#   done; done
#
# Needs compiled classes (sbt compile); see scripts/run.sh.
set -uo pipefail
if [ $# -lt 4 ]; then
  sed -n '4p' "$0" | sed 's/^# *//' >&2
  exit 2
fi
tag="$1" cpus="$2" heap="$3" out="$4"; shift 4
cd "$(dirname "$0")/.."
echo "=== $tag cpus=$cpus heap=$heap $(date +%T) ===" >&2
SPARK_DRIVER_MEM="$heap" \
JAVA_EXTRA="-XX:+UseParallelGC -XX:ParallelGCThreads=$cpus" \
taskset -c 0-$(( cpus - 1 )) \
  scripts/run.sh graft.ScalingBench --cpus "$cpus" "$@" \
  2>/dev/null | grep '^{"bench"' \
  | sed "s/^{/{\"tag\":\"$tag\",\"pinned\":1,/" | tee -a "$out"
