#!/bin/bash
# Isolated per-query pairs for the sf10 heavy tail: one sbt/JVM per
# query (cold + 3 warm, median-of-3 recorded by tools/sf10_pairs.py).
# Run with NOTHING else on the box; ~90 min for the default set.
# Prof runs at local[SPARK_GRAFT_CPUS] (default: every core) and logs
# that count in its `[prof] {"cpus":N}` header; sf10_pairs.py refuses a
# log whose count differs from the artifact's, so export the sweep's
# SPARK_GRAFT_CPUS before running this.
# Usage: run_sf10_pairs.sh <sfDir> <logDir> <q1> [q2 ...]
set -u
DIR="$1"; LOGS="$2"; shift 2
mkdir -p "$LOGS"
for q in "$@"; do
  echo "[pairs] $q ..."
  sbt -batch "runMain graft.Prof $DIR $q reps=4" > "$LOGS/$q.log" 2>&1
  grep "\[prof\]" "$LOGS/$q.log" | tail -4
done
