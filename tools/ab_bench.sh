#!/bin/bash
# Dev-only interleaved A/B bench: run graft.Bench from an arbitrary
# classes dir (so two compiled trees can alternate in one quiet session).
# Usage: CLASSES_DIR=/tmp/classes_old tools/ab_bench.sh out.json q1,q2 [reps] [cpus]
set -euo pipefail
OUT="${1:?out json path}"; ONLY="${2:?query list}"
REPS="${3:-3}"; CPUS="${4:-32}"
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_REPS="$REPS" \
SPARK_GRAFT_ONLY="$ONLY" SPARK_GRAFT_BENCH_OUT="$OUT" \
GRAFT_MEM="${GRAFT_MEM:-48g}" \
exec "$(dirname "$0")/run_main.sh" graft.Bench
