#!/bin/bash
# Run one main of this repo: tools/run_main.sh <Main> [args...]
# e.g. tools/run_main.sh graft.Audit scan
# It goes through build.sbt's forked `runMain`, which compiles first and
# stops on a compile error (stale classes never run), and gives the main
# build.sbt's add-opens and timing regime: a pre-sized SPARK_DRIVER_MEM
# heap (default 8g), ParallelGC and a capped young generation. A main's
# nonzero exit code reaches the shell as 1.
set -e
cd "$(dirname "$0")/.."
MAIN="${1:?usage: tools/run_main.sh <Main> [args...]}"
shift
exec sbt -batch --error "runMain $MAIN $*"
