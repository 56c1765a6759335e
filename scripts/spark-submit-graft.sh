#!/usr/bin/env bash
# Launch a graft main class under spark-submit with the pinned profile.
# Usage: scripts/spark-submit-graft.sh <mainClass> [args...]
#   e.g. scripts/spark-submit-graft.sh graft.Profile q_sql_q1 q_dedup_near
# The mains set master (local[SPARK_GRAFT_CPUS], each with its own default),
# shuffle partitions and the UTC time zone themselves through
# graft.GraftSession; conf/graft-submit.conf holds only the driver heap.
# Env passthrough (read by the mains themselves): SPARK_GRAFT_SF_DIR,
# SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS (Bench, Profile, ScaleBench),
# SPARK_GRAFT_BENCH_BAND_HI and SPARK_GRAFT_BENCH_OUTLIER_X (Bench),
# SPARK_GRAFT_REPS (PriceAudit), SPARK_GRAFT_SCALE_ROWS (ScaleBench).
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="$1"; shift
# newest first, tests jar excluded — a stale jar from an older version
# bump must never shadow the current build
JAR=$(ls -t target/scala-2.13/impalarefresherspark_2.13-*.jar 2>/dev/null | grep -v tests | head -1)
if [ -z "$JAR" ]; then
  echo "no jar under target/scala-2.13 — run: sbt package" >&2
  exit 1
fi
exec /opt/spark/bin/spark-submit \
  --class "$MAIN" \
  --properties-file conf/graft-submit.conf \
  "$JAR" "$@"
