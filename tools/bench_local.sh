#!/bin/bash
# Local bench sweep under the graded launch's conditions: build.sbt's
# forked `sbt runMain graft.Bench` through tools/run_main.sh, i.e. a
# pre-sized SPARK_DRIVER_MEM heap (default 8g), ParallelGC and the young
# generation capped at the 8g geometry (docs/DESIGN.md "Bench
# calibration"). Prints Bench's JSON lines and its REGIME MISMATCH /
# WARM FAILED markers.
# Usage: tools/bench_local.sh [qid-prefix,qid-prefix,...]
# With a prefix list, sets SPARK_GRAFT_ONLY (dev-only filter in Bench);
# the run's artifact then goes to target/bench_queries_filtered.jsonl
# instead of BENCH_QUERIES_LATEST.jsonl.
set -eo pipefail
cd "$(dirname "$0")/.."
ONLY="${1:-}"
env ${ONLY:+SPARK_GRAFT_ONLY=$ONLY} \
  SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
  tools/run_main.sh graft.Bench | grep -E '^(\{|REGIME MISMATCH|WARM FAILED|\[error\])'
