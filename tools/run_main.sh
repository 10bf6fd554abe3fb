#!/bin/bash
# Run a graft main class directly against the compiled classes — same
# JVM flags sbt uses (build.sbt), without the sbt project lock, so a
# bench/verify run and an `sbt compile` can proceed independently.
# Usage: tools/run_main.sh graft.Bench [args...]
#   env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY,
#        SPARK_DRIVER_MEM (default 8g)
set -e
REPO="$(cd "$(dirname "$0")/.." && pwd)"
MAIN="$1"; shift || true
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# record files (Bench's BENCH_*.json) land relative to the working
# directory: run from the repo root, as sbt's forked run does
cd "$REPO"
exec java $ADD_OPENS \
  -Dspark.ui.enabled="${SPARK_UI_ENABLED:-false}" \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
