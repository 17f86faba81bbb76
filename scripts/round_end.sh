#!/bin/bash
# Round-end artifact refresh (round-10 verdict #2): regenerate every
# machine-produced number the README status block splices in, so the
# block at the snapshot commit always equals the HEAD artifacts and can
# never drift by hand again (it drifted in rounds 7, 8 and 10).
#
#   1. full ScalaTest run      -> target/test-reports/*.xml
#   2. full bench at sf0.1     -> target/bench_full.json + benchgate
#   3. scripts/update_readme_status.py  (refuses stale/failing inputs)
#
# Run this as the LAST step of a round, then commit README.md.
set -euo pipefail
cd "$(dirname "$0")/.."

# tee the run log: ScalaTest's "Tests: succeeded N" line is THE test
# counter (round-13 verdict #7) — README, SURVEY §8, and the round-end
# commit message all quote it via update_readme_status.py
mkdir -p target
sbt -batch test | tee target/test_run.log

SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  sbt -batch 'runMain graft.Bench'
python3 scripts/benchgate.py 30

# Persist the FULL per-query map (r17 verdict #6): BENCH_rNN.json keeps
# only the ~60-query headline subset, so round-over-round per-query
# regressions could not be diagnosed after the fact — bench_full_rNN.json
# carries every query. Round number = newest BENCH_r*.json + 1 (this
# script runs before the driver writes the new round's file); override
# with GRAFT_ROUND.
if [ -n "${GRAFT_ROUND:-}" ]; then
  round="$GRAFT_ROUND"
else
  last="$(ls BENCH_r*.json 2>/dev/null \
    | sed 's/BENCH_r0*\([0-9]*\)\.json/\1/' | sort -n | tail -1)"
  round=$(( ${last:-0} + 1 ))
fi
cp target/bench_full.json "$(printf 'bench_full_r%02d.json' "$round")"
echo "round_end: full per-query bench persisted to bench_full_r$(printf '%02d' "$round").json"

# Persist the excursion comparison benchgate just computed (r18 verdict
# #5): >3x per-query moves vs the prior round's map, the trigger for two
# traced perfbench runs (`python3 perfbench/run.py --trace 1`, parent and
# change) compared with scripts/census_diff.py instead of a round-long
# mystery.
if [ -f target/bench_excursions.json ]; then
  cp target/bench_excursions.json \
    "$(printf 'bench_excursions_r%02d.json' "$round")"
  echo "round_end: excursion comparison persisted to bench_excursions_r$(printf '%02d' "$round").json"
fi

python3 scripts/update_readme_status.py
echo "round_end: README status regenerated from HEAD artifacts"
