#!/bin/bash
# Round-open protocol: preserve the graded post-round bench artifact
# (BENCH_QUERIES_LATEST.jsonl, every JSON line of the graded sweep) under
# a round-stamped name BEFORE any code change (docs/DESIGN.md "Bench
# calibration"). Usage: tools/round_open.sh <closing-round-number>
# e.g. at round-16 open: tools/round_open.sh 15
set -euo pipefail
cd "$(dirname "$0")/.."
N="${1:?closing round number, e.g. 15}"
cp BENCH_QUERIES_LATEST.jsonl "BENCH_QUERIES_r${N}.jsonl"
git add "BENCH_QUERIES_r${N}.jsonl"
echo "staged the round-$N bench artifact; commit before touching code"
