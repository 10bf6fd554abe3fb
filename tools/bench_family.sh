#!/bin/bash
# Isolated per-family bench: fresh JVM, SPARK_GRAFT_ONLY subset, sf0.1,
# 32 cores — the optimization rounds' A/B harness. Prints the summary
# line only; exits non-zero when a query failed (Bench exits 1), so a
# failed run is never read as a faster one.
# Usage: tools/bench_family.sh q1,q2,... [sfdir]
set -e -o pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
SPARK_GRAFT_ONLY="$1" \
SPARK_GRAFT_SF_DIR="${2:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  "$REPO/tools/run_main.sh" graft.Bench 2>/dev/null | tail -2
