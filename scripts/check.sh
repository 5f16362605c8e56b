#!/bin/bash
# Local correctness loop: run Verify at sf0.01 then the DuckDB oracle compare.
# Builds and runs the sources of this script's checkout.
# Usage: check.sh [sfDir] [outDir]
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 | grep -Ev '^\[info\]|^\[success\]' || true
python3 scripts/oracle_check.py "$SF" "$OUT"
