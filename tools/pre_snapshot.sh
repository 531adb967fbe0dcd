#!/usr/bin/env bash
# Pre-snapshot gate: run the FULL verification surface and refuse to
# declare the tree snapshot-ready unless every stage is green.
#
# Exists because round 9's snapshot shipped with 3/305 tests red — four
# late gates landed after the last full `sbt test`, and the very CI
# audit built to catch plan regressions (PlanAuditSpec's exchange
# budget) was among the failures. The round-8 discipline ("full suite
# before snapshot") is now a script, not a habit.
#
# Usage:  tools/pre_snapshot.sh [round]        (round only labels the stamp)
# Emits:  target/pre_snapshot_<round>.log      full stage logs
#         target/pre_snapshot_<round>.stamp    written ONLY if all green —
#                                              commit it with the snapshot as
#                                              proof the gate ran on this tree
set -u
cd "$(dirname "$0")/.."
ROUND="${1:-r}"
LOG="target/pre_snapshot_${ROUND}.log"
STAMP="target/pre_snapshot_${ROUND}.stamp"
mkdir -p target
rm -f "$STAMP"
: > "$LOG"

fail() { echo "PRE-SNAPSHOT GATE: RED at stage [$1] — see $LOG" | tee -a "$LOG"; exit 1; }

echo "== stage 1/4: sbt test (full suite) ==" | tee -a "$LOG"
sbt -batch test >> "$LOG" 2>&1 || fail "sbt test"
grep -E "Tests: succeeded" "$LOG" | tail -1

echo "== stage 2/4: Verify @ sf0.01 ==" | tee -a "$LOG"
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/pre_snapshot_verify" \
  >> "$LOG" 2>&1 || fail "graft.Verify"

echo "== stage 3/4: DuckDB oracle compare ==" | tee -a "$LOG"
python3 tools/compare_oracle.py /root/testdata/sf0.01 /tmp/pre_snapshot_verify \
  >> "$LOG" 2>&1 || fail "compare_oracle"
ORACLE_LINE=$(tail -3 "$LOG" | grep -E "^[0-9]+/[0-9]+ green$" || true)
# The stamp is evidence — an empty oracle summary would silently weaken it.
[ -n "$ORACLE_LINE" ] || fail "oracle summary line not found in log tail (format drift?)"
case "$ORACLE_LINE" in
  */*green) N_GREEN="${ORACLE_LINE%%/*}"; N_TOTAL_G="${ORACLE_LINE#*/}"; N_TOTAL_G="${N_TOTAL_G%% *}" ;;
esac
[ "$N_GREEN" = "$N_TOTAL_G" ] || fail "oracle not fully green: $ORACLE_LINE"
# Commit-able per-query correctness self-artifact (driver-shape JSON) —
# insures the round's hard signal against driver-side artifact loss.
cp /tmp/pre_snapshot_verify/correctness_self.json "CORRECTNESS_SELF_${ROUND}.json" \
  || fail "correctness self-artifact missing"

echo "== stage 4/4: Bench @ sf0.1 (per-query map must cover every registered query) ==" | tee -a "$LOG"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  sbt -batch "runMain graft.Bench" >> "$LOG" 2>&1 || fail "graft.Bench"
TOTAL_LINE=$(grep -o '{"metric":"total".*}' "$LOG" | tail -1)
NFAILED=$(printf '%s' "$TOTAL_LINE" | grep -o '"nfailed":[0-9]*' | cut -d: -f2)
[ "${NFAILED:-1}" = "0" ] || fail "bench reported nfailed=$NFAILED"
# Commit-able per-query bench map (min + every rep's raw time) — the
# round's own outliers adjudicate themselves via rep_times.
cp target/bench_per_query.json "BENCH_${ROUND}_per_query.json" \
  || fail "bench per-query artifact missing"
# Commit-able bench HEADLINE in the driver's exact shape — the one-line
# {"metric":"total",...} object, stripped of sbt log prefixes. Two
# consecutive rounds of BENCH_r<N>.json arrived with "parsed": null
# (the driver's parser chokes on the [info] prefix); this is the
# CORRECTNESS_SELF insurance applied to the bench signal.
printf '%s\n' "$TOTAL_LINE" > "BENCH_SELF_${ROUND}.json" \
  || fail "bench headline self-artifact write failed"

{
  echo "pre-snapshot gate GREEN  round=$ROUND  $(date -u +%Y-%m-%dT%H:%M:%SZ)"
  echo "tree: $(git rev-parse HEAD) (+$(git status --porcelain | wc -l) dirty files)"
  echo "suite: $(grep -E 'Tests: succeeded' "$LOG" | tail -1 | sed 's/^\[info\] *//')"
  echo "oracle: $ORACLE_LINE"
  echo "bench: $TOTAL_LINE"
} > "$STAMP"
cat "$STAMP"
