#!/bin/bash
# 10x scale rehearsal: synthesize 1x/2x/5x/10x sf0.1 corpora (namespaced
# id-shifted replication) under /tmp/graft_scale and time the dedup/ANN
# family against each. Usage: tools/scale_rehearsal.sh [scale...]
exec "$(dirname "$0")/run_main.sh" graft.ScaleRehearsal "$@"
