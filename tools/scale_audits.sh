#!/bin/bash
# Run the four empirical scale audits (redundant reads, unbounded
# broadcasts, single-partition funnels, superlinear shuffle growth)
# against the 1x/10x rehearsal corpora, in both join modes where the
# mode matters. Synthesizes the corpora first if absent.
# Usage: tools/scale_audits.sh [outdir]   (default /tmp/graft_audits)
# pipefail: each audit runs as `$RUN ... | tee | tail`, and without it
# a crashed/OOM'd audit JVM exits 0 with a clean-looking truncated log —
# a silent false pass in the script whose whole purpose is verdicts
set -eo pipefail
cd "$(dirname "$0")/.."
OUT="${1:-/tmp/graft_audits}"
mkdir -p "$OUT"

# One sbt start compiles and writes the forked run's JVM options and
# classpath (build.sbt's runArgs); every main below is a plain java call
# with them. A failed compile stops the battery here, before any audit:
# running the audits on stale bytecode would "confirm" a fix while
# measuring the pre-fix code
if ! sbt -batch --error runArgs > "$OUT/compile.log" 2>&1; then
  echo "compile FAILED:" >&2
  tail -20 "$OUT/compile.log" >&2
  exit 1
fi
RUN="java @target/run.args"

# corpora (synth is _DONE-gated, so this is a no-op when present)
if ! SPARK_GRAFT_ONLY=none $RUN graft.ScaleRehearsal 1 10 \
  > "$OUT/synth.log" 2>&1; then
  echo "synth FAILED:" >&2
  tail -20 "$OUT/synth.log" >&2
  exit 1
fi

echo "== scan audit (default + scale-path)"
$RUN graft.Audit scan /root/testdata/sf0.01 2>/dev/null \
  | tee "$OUT/scan_default.log" | tail -3
SPARK_GRAFT_NO_BCAST=1 $RUN graft.Audit scan /root/testdata/sf0.01 2>/dev/null \
  | tee "$OUT/scan_nobcast.log" | tail -3

echo "== broadcast audit (hinted mode — the decisive one)"
SPARK_GRAFT_NO_BCAST=1 $RUN graft.Audit broadcast 2>/dev/null \
  | tee "$OUT/broadcast_hinted.log" | tail -3

echo "== SHJ audit (largest task build bytes, width-scaled 1x->10x)"
$RUN graft.Audit shj 2>/dev/null \
  | tee "$OUT/shj_build.log" | tail -4

echo "== serial-stage audit (default + scale-path)"
$RUN graft.Audit serial 2>/dev/null \
  | tee "$OUT/serial_default.log" | tail -10
SPARK_GRAFT_NO_BCAST=1 $RUN graft.Audit serial 2>/dev/null \
  | tee "$OUT/serial_nobcast.log" | tail -10

# NOTE: the shuffle audit now runs ONCE in 4-dir cross-family mode
# (after the skew corpora synth below) — both families' ratios plus
# the 10x absolute-volume invariant that the ps-family's 1x snapshot
# asymmetry demands (VERDICT r10 ask #5). Same total sweep cost as
# the two separate runs it replaces.

# ---- skewed corpora (r10): zipf event keys + Pareto-duplicate docs.
# The namespaced replicas hold per-key group sizes constant; these
# exercise the group-size axis real crawl data has. Same audits, zx dirs.
SPARK_GRAFT_REHEARSE_SKEW=1 SPARK_GRAFT_ONLY=none \
  $RUN graft.ScaleRehearsal 1 10 > "$OUT/synth_skew.log" 2>&1
Z1=/tmp/graft_scale/zx1; Z10=/tmp/graft_scale/zx10

# The skew SERIAL legs run BEFORE the shuffle audit deliberately
# (r13): snapshot-backed relations (the graft_ratings_* stages)
# are built by each corpus dir's FIRST consumer, and the uniform
# family's snapshots already exist by now (built during the uniform
# serial-stage legs above). If the shuffle audit were the zx
# dirs' first consumer, mf_baseline — the first ratings() qid in the
# alphabetical sweep — would carry the one-time orders⋈lineitem
# snapshot build (exactly |orders|+|lineitem| shuffle rows: +7.5M at
# 10x) in the ZX column only, and the cross-family 10x volume
# invariant would read that warm-state asymmetry as drift (the r13
# false positive, adjudicated in the retired r13 round log §8,
# `git show 6bea8bd:docs/TODO_r13.md`). Running the
# skew serial legs first gives both families identical pre-warm, so
# the invariant compares steady-state query volumes.
echo "== serial-stage audit (default + no-bcast, SKEW)"
$RUN graft.Audit serial "$Z1" "$Z10" 2>/dev/null \
  | tee "$OUT/skew_serial_default.log" | tail -10
SPARK_GRAFT_NO_BCAST=1 $RUN graft.Audit serial "$Z1" "$Z10" 2>/dev/null \
  | tee "$OUT/skew_serial_nobcast.log" | tail -10

echo "== shuffle audit (no-bcast, BOTH families + 10x volume invariant)"
SPARK_GRAFT_NO_BCAST=1 $RUN graft.Audit shuffle \
  /tmp/graft_scale/x1 /tmp/graft_scale/x10 "$Z1" "$Z10" 2>/dev/null \
  | tee "$OUT/shuffle_nobcast_both.log" | grep -vE "^SKIP" | tail -45

echo "== broadcast audit (hinted, SKEW)"
SPARK_GRAFT_NO_BCAST=1 $RUN graft.Audit broadcast "$Z1" "$Z10" 2>/dev/null \
  | tee "$OUT/skew_broadcast_hinted.log" | tail -5

echo "== scan audit (default + no-bcast, SKEW zx10)"
$RUN graft.Audit scan "$Z10" 2>/dev/null \
  | tee "$OUT/skew_scan_default.log" | tail -4
SPARK_GRAFT_NO_BCAST=1 $RUN graft.Audit scan "$Z10" 2>/dev/null \
  | tee "$OUT/skew_scan_nobcast.log" | tail -4

echo "logs in $OUT"
