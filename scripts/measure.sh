#!/bin/bash
# One-sided isolated measurement of a gate subset on the CURRENT build
# (launched through bench.sh). A relative outfile is relative to the
# checkout root.
# Usage: measure.sh <gates-csv> [reps] [cpus (default: nproc)] [outfile]
set -e
GATES=$1; REPS=${2:-3}; CPUS=${3:-$(nproc)}; OUT=${4:-/tmp/measure.json}
SF=${SF:-/root/testdata/sf0.1}
cd "$(dirname "$0")/.."
SPARK_GRAFT_ONLY="$GATES" SPARK_GRAFT_REPS="$REPS" \
SPARK_GRAFT_DETAIL_PATH="$OUT" SPARK_GRAFT_SUMMARY_PATH=/tmp/measure_summary.json \
  scripts/bench.sh "$SF" "$CPUS" >/dev/null 2>&1
python3 -c "
import json,sys
d=json.load(open('$OUT'))
for k,v in sorted(d.get('queries',{}).items(), key=lambda kv:-kv[1]):
    print(f'{v:8.3f}  {k}  {d.get(\"runs\",{}).get(k)}')"
