#!/bin/bash
# Standing per-round gate marathon — sequential, ONE Spark job at a time
# (concurrent local Spark sessions flake with "Python worker failed to
# connect back"). Logs and sweep JSON land in $GATES_DIR; progress in
# $GATES_DIR/progress.txt; afterwards run
#   python tools/assemble_round_artifacts.py <round> [gates_dir]
# to build the per-round JSON artifacts from them, then run bench.py
# separately on a quiesced host (>= 5 min idle after this finishes).
#
# Usage: bash tools/run_round_gates.sh <round-number> [gates_dir]
set -u
N=${1:?round number, e.g. 13}
G=${2:-/tmp/gates_r$N}
mkdir -p "$G"
cd /root/repo
step() { echo "[$(date +%H:%M:%S)] START $1" >> "$G/progress.txt"; }
fin() { echo "[$(date +%H:%M:%S)] DONE  $1 (rc=$2)" >> "$G/progress.txt"; }
# the testdata dir sits next to the repo
TD="$(dirname "$PWD")/testdata"
# sweep TAG MODE SF: one tools/sweep.py mode, its JSON in $G/TAG.json
sweep() {
  step "$1"
  python tools/sweep.py "$2" "$TD/$3" --out "$G/$1.json" > "$G/$1.log" 2>&1
  fin "$1" $?
}

sweep oracle_sf0001 oracle sf0.001
sweep oracle_sf001 oracle sf0.01
sweep oracle_sf01 oracle sf0.1
# plan signatures drift-checked against the committed baselines (renamed
# only when a change moves plans on purpose and regenerates them)
step plan_sf001
python tools/plan_sweep.py "$TD/sf0.01" PLAN_SWEEP_r$N.json \
  PLAN_SWEEP_r15.json > "$G/plan_sf001.log" 2>&1; fin plan_sf001 $?
step plan_sf01
python tools/plan_sweep.py "$TD/sf0.1" PLAN_SWEEP_r${N}_sf01.json \
  PLAN_SWEEP_r15_sf01.json > "$G/plan_sf01.log" 2>&1; fin plan_sf01 $?
sweep det_sf0001 determinism sf0.001
sweep det_sf001 determinism sf0.01
sweep det_sf01 determinism sf0.1
sweep order order sf0.01
step config_parity
python tools/sweep.py config "$TD/sf0.01" --out CONFIG_PARITY_r$N.json > "$G/config.log" 2>&1; fin config_parity $?
step checkpoint_sweep
python tools/checkpoint_sweep.py "$TD/sf0.001" CHECKPOINT_SWEEP_r$N.json > "$G/checkpoint.log" 2>&1; fin checkpoint_sweep $?
# build_once under reliable checkpoints: block loss survived, registry
# against its oracles at sf0.001, the queries that wrote checkpoints
step build_once_reliable
python -m pytest -m degenerate tests/test_build_once.py -q -s > "$G/build_once.log" 2>&1; fin build_once_reliable $?
sweep degen_empty empty sf0.001
sweep degen_one_row one_row sf0.001
sweep degen_nulls nulls sf0.001
sweep degen_skew skew sf0.01
sweep degen_skew90 skew90 sf0.1
sweep scale scale sf0.1
step pytest
python -m pytest tests/ -q > "$G/pytest.log" 2>&1; fin pytest $?
echo MARATHON_DONE >> "$G/progress.txt"
