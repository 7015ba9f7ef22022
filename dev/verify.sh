#!/bin/bash
# Dev loop: run graft.Verify at a scale factor, then the DuckDB diff.
# Usage: dev/verify.sh [sfDir] [outDir]
set -e
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/graft_verify}"
cd "$(dirname "$0")/.."
rm -rf "$OUT"
T0=$(date +%s%N)
sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 | grep -Ev '^\[info\] (welcome|loading|set|Executing|running)' | tail -20
T1=$(date +%s%N)
# comparable across checkouts on one machine; includes sbt start-up and its compile check
awk -v ns=$((T1 - T0)) 'BEGIN { printf "graft.Verify wall: %.1f s (sbt runMain)\n", ns / 1e9 }'
python3 dev/check.py "$SF" "$OUT"
