#!/bin/bash
# Standing-gate sweep: full-suite oracle compare at all three SFs plus the
# double-run determinism gate (Spark 32-vs-17 threads; DuckDB 8-vs-2
# threads) — the round-end checklist's compute half, scripted so a round
# can't ship with the recorded gates lagging the tree (round-9 VERDICT
# "What's wrong" #2).
#
# Exit status: nonzero if ANY gate is red (a hurried consumer must not be
# able to read a red sweep as green — round-10 ADVICE). The local sweep is
# PRE-FLIGHT only: the driver's CORRECTNESS_r*.json is the gate of record
# (its DuckDB/libm can differ from this box — the q_cox_ph round-10 red
# was green locally), so the sweep ends by diffing the newest driver
# artifact against the local result and failing on any query that is
# green-locally-but-red-in-driver.
set -u
cd "$(dirname "$0")/.."
OUT=${1:-target/gates}
mkdir -p "$OUT"
fail=0
log() { echo "[gates $(date +%H:%M:%S)] $*"; }
check() { # exit-code gate-name
  if [ "$1" -ne 0 ]; then fail=1; log "GATE RED: $2 (exit $1)"; fi
}

# Static determinism lints first (cheap, fail fast): frozen inventories
# of bare-round readouts, libm call sites, and the engine-round /
# DECIMAL<->DOUBLE cast class that burned rounds 10-12 (round-12 VERDICT
# next-round #5). A new site must be ported to the portable machinery
# or consciously re-baselined before the sweep is worth running.
for lint in lint_round0 lint_transcendental lint_round_casts \
            selfcheck_selftest; do
  log "$lint"
  python3 "tools/$lint.py" > "$OUT/$lint.log" 2>&1
  rc=$?; log "$lint exit $rc : $(tail -1 "$OUT/$lint.log")"
  check $rc "$lint"
done
# actually fail fast: a red lint means the sweep's hours are wasted —
# abort before the multi-SF verify runs (round-13 ADVICE)
if [ "$fail" -ne 0 ]; then
  log "lints red — aborting before the verify sweep"
  exit 1
fi

run_verify() { # sfdir outdir cpus
  log "Verify $1 cpus=$3 -> $2"
  SPARK_GRAFT_CPUS=$3 sbt -batch "runMain graft.Verify $1 $2" \
    > "$OUT/verify_$(basename $2).log" 2>&1
  local rc=$?
  log "Verify $1 cpus=$3 done (exit $rc)"
  check $rc "verify $(basename $2)"
}

run_verify /root/testdata/sf0.001 "$OUT/v001"  32
run_verify /root/testdata/sf0.01  "$OUT/v01a"  32
run_verify /root/testdata/sf0.01  "$OUT/v01b"  17
run_verify /root/testdata/sf0.1   "$OUT/v1a"   32
run_verify /root/testdata/sf0.1   "$OUT/v1b"   17

log "selfcheck sf0.001"
python3 tools/selfcheck.py /root/testdata/sf0.001 "$OUT/v001" > "$OUT/sc_001.log" 2>&1
rc=$?; log "selfcheck sf0.001 exit $rc : $(tail -1 "$OUT/sc_001.log")"
check $rc "selfcheck sf0.001"
log "selfcheck sf0.01"
python3 tools/selfcheck.py /root/testdata/sf0.01 "$OUT/v01a" > "$OUT/sc_01.log" 2>&1
rc=$?; log "selfcheck sf0.01 exit $rc : $(tail -1 "$OUT/sc_01.log")"
check $rc "selfcheck sf0.01"
log "selfcheck sf0.1"
python3 tools/selfcheck.py /root/testdata/sf0.1 "$OUT/v1a" > "$OUT/sc_1.log" 2>&1
rc=$?; log "selfcheck sf0.1 exit $rc : $(tail -1 "$OUT/sc_1.log")"
check $rc "selfcheck sf0.1"

log "determinism spark sf0.01 (32 vs 17)"
python3 tools/determinism.py spark "$OUT/v01a" "$OUT/v01b" > "$OUT/det_spark_01.log" 2>&1
rc=$?; log "det spark sf0.01 exit $rc : $(tail -1 "$OUT/det_spark_01.log")"
check $rc "determinism spark sf0.01"
log "determinism spark sf0.1 (32 vs 17)"
python3 tools/determinism.py spark "$OUT/v1a" "$OUT/v1b" > "$OUT/det_spark_1.log" 2>&1
rc=$?; log "det spark sf0.1 exit $rc : $(tail -1 "$OUT/det_spark_1.log")"
check $rc "determinism spark sf0.1"
log "determinism oracle sf0.01 (duckdb 8 vs 2)"
python3 tools/determinism.py oracle /root/testdata/sf0.01 "$OUT/v01a/oracle_sql.json" > "$OUT/det_oracle_01.log" 2>&1
rc=$?; log "det oracle sf0.01 exit $rc : $(tail -1 "$OUT/det_oracle_01.log")"
check $rc "determinism oracle sf0.01"
log "determinism oracle sf0.1 (duckdb 8 vs 2)"
python3 tools/determinism.py oracle /root/testdata/sf0.1 "$OUT/v1a/oracle_sql.json" > "$OUT/det_oracle_1.log" 2>&1
rc=$?; log "det oracle sf0.1 exit $rc : $(tail -1 "$OUT/det_oracle_1.log")"
check $rc "determinism oracle sf0.1"

log "driver-artifact diff (gate of record)"
python3 tools/driver_diff.py > "$OUT/driver_diff.log" 2>&1
rc=$?; log "driver diff exit $rc : $(tail -1 "$OUT/driver_diff.log")"
check $rc "driver-artifact diff"

if [ "$fail" -ne 0 ]; then
  log "GATES FAILED — see GATE RED lines above"
  exit 1
fi
log "ALL GATES DONE"
