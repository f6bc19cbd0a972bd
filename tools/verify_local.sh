#!/bin/bash
# Local driver-mimic: compile, run graft.Verify at sf0.01, compare vs DuckDB.
# Usage: tools/verify_local.sh [sf_dir] [qid...]
set -e
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"
shift || true
OUT=/tmp/graft_verify_out
rm -rf "$OUT"

# a failed compile or a crashed JVM stops here, before the compare
set +e
tools/run_main.sh graft.Verify "$SF_DIR" "$OUT" "$@" 2>&1 | grep -vE "^\s*$|INFO|WARN"
STATUS=${PIPESTATUS[0]}
set -e
[ "$STATUS" -eq 0 ] || exit "$STATUS"

python3 tools/check_oracle.py "$OUT" "$SF_DIR" "$@"
