#!/bin/bash
# Probe-gated cluster-mode scaling campaign (round-5 continuation of the
# round-4 /tmp/cluster_loop.sh pattern, now checked in).
#
# Loop: 1-minute host probe (pure-CPU + memory-bandwidth retention at the
# wide level) -> only when the window is clean (host_retention in
# [MIN_HOST, MAX_HOST] and mem_retention >= MIN_MEM) spend a full
# spark-submit local-cluster sample (REPS=1, ~4 min, cores shape by
# default). Samples append to BENCH/cluster_history.jsonl via graft.Bench,
# which gates them again per shape for the `headline` field of its JSON
# line (policy: BENCH/BASELINE.md).
#
#   sbt -batch package && nohup tools/cluster_campaign.sh &
#
# A lockfile (/tmp/graft_sample_running, holding this script's pid) marks
# a sample in flight so the operator can hold off compiles/tests that would
# poison the measurement; graft.Bench waits on it, except in the sample this
# script itself launches. The EXIT trap removes it however the script ends;
# Bench also ignores a lock whose pid is dead or no longer this script.
# Stop with: touch /tmp/graft_campaign_stop
set -uo pipefail
cd "$(dirname "$0")/.."
CLASSES="${CLASSES:-/tmp/bench_classes}"
MIN_HOST="${MIN_HOST:-0.90}"
MAX_HOST="${MAX_HOST:-1.05}"
MIN_MEM="${MIN_MEM:-0.55}"
SLEEP="${SLEEP:-90}"
SHAPE="${SHAPE:-cores}"
LOCK=/tmp/graft_sample_running
STOP=/tmp/graft_campaign_stop
LOG="${LOG:-/tmp/cluster_campaign.log}"
rm -f "$STOP"
# the lock must not outlive the script, however it ends
trap 'rm -f "$LOCK"' EXIT
trap 'exit 130' INT
trap 'exit 143' TERM
trap 'exit 129' HUP
echo "[campaign] start $(date -u +%H:%M:%S) shape=$SHAPE gates host=[$MIN_HOST,$MAX_HOST] mem>=$MIN_MEM" >> "$LOG"
while [ ! -f "$STOP" ]; do
  probe=$(SPARK_GRAFT_PROBE_ONLY=1 tools/run_bench.sh "$CLASSES" graft.Bench 2>/dev/null | tail -1)
  host=$(echo "$probe" | sed -n 's/.*"host_retention":\([0-9.]*\).*/\1/p')
  mem=$(echo "$probe" | sed -n 's/.*"mem_retention":\([0-9.]*\).*/\1/p')
  if [ -z "$host" ] || [ -z "$mem" ]; then
    echo "[campaign] $(date -u +%H:%M:%S) probe failed: $probe" >> "$LOG"
    sleep "$SLEEP"; continue
  fi
  ok=$(python3 -c "print(1 if $MIN_HOST<=$host<=$MAX_HOST and $mem>=$MIN_MEM else 0)")
  if [ "$ok" = "1" ]; then
    echo "[campaign] $(date -u +%H:%M:%S) CLEAN host=$host mem=$mem -> sampling ($SHAPE)" >> "$LOG"
    echo $$ > "$LOCK"
    SPARK_GRAFT_BENCH_REPS="${REPS:-1}" SPARK_GRAFT_CLUSTER_SHAPE="$SHAPE" \
      tools/run_cluster_bench.sh >> "$LOG" 2>&1
    rm -f "$LOCK"
    tail -1 BENCH/cluster_history.jsonl >> "$LOG"
  else
    echo "[campaign] $(date -u +%H:%M:%S) dirty host=$host mem=$mem" >> "$LOG"
  fi
  sleep "$SLEEP"
done
echo "[campaign] stopped $(date -u +%H:%M:%S)" >> "$LOG"
