#!/bin/bash
# Closing-bench runner: plain java so no sbt lock is held and no sbt JVM
# competes with the timed session (BENCH_LOCAL.md protocol — the machine
# must be otherwise idle). Runs the classes of this script's checkout.
# Usage: bench.sh [sfDir] [cpus (default: nproc)] [main] [args…]
set -e
SF=${1:-/root/testdata/sf0.1}
CPUS=${2:-$(nproc)}
MAIN=${3:-graft.Bench}
shift $(( $# < 3 ? $# : 3 ))
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
cd "$(dirname "$0")/.."
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
