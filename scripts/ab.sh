#!/bin/bash
# Isolated A/B: time a gate subset on a "before" class snapshot and the
# current build, back-to-back on an otherwise idle machine — the
# drift-proof evidence protocol for every speed claim (in-suite numbers
# swing 2-4x run-to-run; see OPTIMIZATION_r14.md "Methodology").
# Make the snapshot by copying target/scala-2.13/classes of the baseline
# build to a directory of its own before rebuilding.
# Usage: ab.sh <before-classes-dir> <gates-csv> [reps] [cpus (default: nproc)] [sfDir]
set -e
USAGE="usage: ab.sh <before-classes-dir> <gates-csv> [reps] [cpus] [sfDir]"
BEFORE=$(cd "${1:?$USAGE}" && pwd)
GATES=${2:?$USAGE}
REPS=${3:-3}
CPUS=${4:-$(nproc)}
# sfDir unset: Bench reads SPARK_GRAFT_SF_DIR or its own default
if [ -n "$5" ]; then export SPARK_GRAFT_SF_DIR=$5; fi
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
cd "$(dirname "$0")/.."
run() { # $1 = classes dir, $2 = detail path
  SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_ONLY="$GATES" \
  SPARK_GRAFT_REPS="$REPS" SPARK_GRAFT_DETAIL_PATH="$2" \
  SPARK_GRAFT_SUMMARY_PATH=/tmp/ab_summary.json \
  java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$1:/opt/spark/jars/*" graft.Bench >/dev/null 2>&1
}
run "$BEFORE" /tmp/ab_before.json
run target/scala-2.13/classes /tmp/ab_after.json
python3 - <<'EOF'
import json
def qs(p):
    d = json.load(open(p))
    return d.get('queries', {}), d.get('runs', {})
b, br = qs('/tmp/ab_before.json')
a, ar = qs('/tmp/ab_after.json')
for k in sorted(set(b) | set(a)):
    vb, va = b.get(k, -1), a.get(k, -1)
    r = (vb / va) if va and va > 0 else float('nan')
    print(f"{k:35s} before {vb:7.3f} {br.get(k)}  after {va:7.3f} {ar.get(k)}  speedup {r:5.2f}x")
EOF
