#!/bin/bash
# Plan audit: print formatted physical plans for representative queries
# and inspect the properties that matter at scale (pushdown, pruning,
# broadcast, codegen). Usage: tools/explain_audit.sh [qid...]
exec "$(dirname "$0")/run_main.sh" graft.ExplainAudit "$@"
