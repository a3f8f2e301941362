#!/bin/bash
# Plan-fingerprint stability and non-vacuity harness.
#
# Phase 1 (stability): run the bench suite twice on identical code, at
# SPARK_GRAFT_CPUS 4 and 2, and assert every query's plan_hash is
# byte-identical between the runs: a fingerprint must follow the plan,
# not the host's parallelism. Queries the artifact lists under
# `plan_adaptive` (Bench.AdaptivePlanAllowlist) are left out.
# Phase 2 (non-vacuity): re-run a broadcast-consuming subset with
# spark.sql.autoBroadcastJoinThreshold=-1 against the phase-1 artifact
# as baseline and assert plan_changes is NON-empty — the guard fires on
# a real broadcast→SMJ flip, so an empty plan_changes in an artifact
# means "no plan moved", not "nobody looked".
#
# Usage: tools/planstab.sh [query-subset]   (default: full suite for
# phase 1; a small join set for phase 2). Runs sbt serially — never in
# parallel with another sbt invocation.
set -euo pipefail
cd "$(dirname "$0")/.."
SUBSET="${1:-}"
WORK=$(mktemp -d /tmp/planstab.XXXX)
mkdir -p "$WORK/r1" "$WORK/r2" "$WORK/flip"
FLIPQ="q03_join_segment_revenue"

run_bench() { # out_json cpus only extra_conf dump_dir
  SPARK_GRAFT_BENCH_OUT="$1" \
  SPARK_GRAFT_CPUS="$2" \
  SPARK_GRAFT_ONLY="${3:-}" \
  SPARK_GRAFT_EXTRA_CONF="${4:-}" \
  SPARK_GRAFT_PLAN_DUMP="${5:-}" \
  SPARK_GRAFT_REPEAT=1 \
  sbt -batch 'runMain graft.Bench' 2>&1 | tail -2 >/dev/null
}

hashes() { # the artifact's plan_hashes, minus its plan_adaptive queries
  local allow
  allow=$(grep -o '"plan_adaptive":\[[^]]*\]' "$1" | grep -o 'q[^"]*' \
    | paste -sd'|')
  grep -o '"plan_hashes":{[^}]*}' "$1" | tr ',' '\n' \
    | grep -vE "\"(${allow:-^\$})\""
}

echo "== phase 1: identical code at 4 and 2 CPUs =="
run_bench "$WORK/r1/BENCH_FULL.json" 4 "$SUBSET" "" "$WORK/pd1"
run_bench "$WORK/r2/BENCH_FULL.json" 2 "$SUBSET" "" "$WORK/pd2"
H1=$(hashes "$WORK/r1/BENCH_FULL.json"); H2=$(hashes "$WORK/r2/BENCH_FULL.json")
if [ "$H1" != "$H2" ]; then
  echo "UNSTABLE: plan hashes differ between the 4- and 2-CPU runs" >&2
  diff <(echo "$H1" | tr ',' '\n') <(echo "$H2" | tr ',' '\n') >&2 || true
  echo "-- normalized-plan diffs of the offenders --" >&2
  for q in $(diff <(echo "$H1" | tr ',' '\n') <(echo "$H2" | tr ',' '\n') \
      | grep -o '"q[0-9][a-z0-9_]*"' | tr -d '"' | sort -u); do
    echo "---- $q ----" >&2
    diff "$WORK/pd1/$q.txt" "$WORK/pd2/$q.txt" | head -24 >&2 || true
  done
  exit 1
fi
N=$(echo "$H1" | grep -o '"q[0-9]' | wc -l)
echo "STABLE: $N queries, identical hashes at 4 and 2 CPUs"

echo "== phase 2: broadcast-threshold flip must fire plan_changes =="
cp "$WORK/r1/BENCH_FULL.json" "$WORK/flip/BENCH_FULL.json"
run_bench "$WORK/flip/BENCH_FULL.json" 4 "$FLIPQ" \
  "spark.sql.autoBroadcastJoinThreshold=-1;spark.sql.adaptive.autoBroadcastJoinThreshold=-1"
CHANGES=$(grep -o '"plan_changes":\[[^]]*\]' "$WORK/flip/BENCH_FULL.json")
echo "flip run: $CHANGES"
if [ "$CHANGES" = '"plan_changes":[]' ]; then
  echo "VACUOUS: threshold flip did not register in plan_changes" >&2
  exit 1
fi
echo "NON-VACUOUS: guard fires on a real plan flip"
echo "workdir: $WORK"
