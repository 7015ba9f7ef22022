#!/bin/bash
# Dev loop: run graft.Verify at a scale factor, then the DuckDB diff.
# Usage: dev/verify.sh [sfDir] [outDir]
set -e
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/graft_verify}"
cd "$(dirname "$0")/.."
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 | grep -Ev '^\[info\] (welcome|loading|set|Executing|running)' | tail -20
python3 dev/check.py "$SF" "$OUT"
