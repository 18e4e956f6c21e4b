#!/bin/bash
# Streaming soak battery over graft.StreamSoak; every completed run and
# check prints one STREAMSOAK JSON line.
#   rate           one run per shape: rows/s, per-batch p50/p95/max, the
#                  state trajectory; fails if state is unbounded
#   driver-crash   per shape: control run; crash run (the driver halts
#                  with 137 after <killAfter> progress events); resume
#                  (the same command, from the durable checkpoint);
#                  EXCEPT ALL check of control vs crash+resume output
#   executor-kill  per shape: local control run; a run on a 2-worker
#                  standalone cluster whose youngest executor is
#                  SIGKILLed once the B<killAfter> marker lands; the
#                  same check. The per-batch latencies show the
#                  recovery cost (kill-batch latency vs p50).
#
# Usage: tools/streamsoak.sh <mode> [rowsPerBatch] [batches] [shapes] [changelog] [killAfter]
#   defaults: 10000 10 "dedup session tws join leftjoin" 0 4
#   changelog: RocksDB changelog checkpointing settings to run, e.g. "0 1"
# SPARK_GRAFT_CPUS (default 4) sets local[N] and N/2 GB of driver and
# executor memory; executor-kill workers get N/2 cores each.
# Output: /tmp/graft_streamsoak/<mode>/<shape>_cl<N>/ plus one log per run.
set -e
cd "$(dirname "$0")/.."
. tools/cluster_lib.sh
MODE="$1"; RPB="${2:-10000}"; BATCHES="${3:-10}"
SHAPES="${4:-dedup session tws join leftjoin}"; CLS="${5:-0}"; KB="${6:-4}"
case "$MODE" in
  rate|driver-crash|executor-kill) ;;
  *) echo "usage: tools/streamsoak.sh rate|driver-crash|executor-kill" \
       "[rowsPerBatch] [batches] [shapes] [changelog] [killAfter]"; exit 2 ;;
esac
CPUS="${SPARK_GRAFT_CPUS:-4}"
HALF=$(( CPUS / 2 > 1 ? CPUS / 2 : 1 ))
LOCAL="local[$CPUS]"
BASE="/tmp/graft_streamsoak/$MODE"
rm -rf "$BASE"; mkdir -p "$BASE"
JAR=$(package_jar "$BASE/package.log")

# soak <log> <master> [VAR=value...] -- <StreamSoak args...>
soak() {
  local log="$1" master="$2" rc=0 envs=()
  shift 2
  while [ "$1" != "--" ]; do envs+=("$1"); shift; done
  shift
  env "${envs[@]}" SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_MASTER="$master" \
    /opt/spark/bin/spark-submit --master "$master" --class graft.StreamSoak \
    --driver-memory "${HALF}g" --conf spark.executor.memory="${HALF}g" \
    "$JAR" "$@" > "$log" 2>&1 || rc=$?
  grep STREAMSOAK "$log" || true
  return "$rc"
}

if [ "$MODE" = executor-kill ]; then cluster_start "$BASE" "$HALF" "${HALF}g"; fi
overall=0
for SHAPE in $SHAPES; do
  for CL in $CLS; do
    D="$BASE/${SHAPE}_cl$CL"; CLENV="SPARK_GRAFT_SR_CHANGELOG=$CL"
    echo "=== $MODE $SHAPE changelog=$CL ==="
    if [ "$MODE" = rate ]; then
      soak "$D.log" "$LOCAL" "$CLENV" -- run "$SHAPE" "$RPB" "$BATCHES" "$D" \
        || { echo "rate run failed"; overall=1; }
      continue
    fi
    soak "$D.ctl.log" "$LOCAL" "$CLENV" -- run "$SHAPE" "$RPB" "$BATCHES" "$D/ctl" \
      || { echo "control run failed"; overall=1; continue; }
    if [ "$MODE" = driver-crash ]; then
      rc=0
      soak "$D.crash.log" "$LOCAL" "$CLENV" SPARK_GRAFT_CRASH_AFTER="$KB" -- \
        run "$SHAPE" "$RPB" "$BATCHES" "$D/crash" || rc=$?
      echo "crash rc=$rc (137 = halted as intended)"
      [ "$rc" -eq 137 ] || { echo "UNEXPECTED crash rc"; overall=1; continue; }
      soak "$D.resume.log" "$LOCAL" "$CLENV" -- \
        run "$SHAPE" "$RPB" "$BATCHES" "$D/crash" \
        || { echo "resume run failed"; overall=1; continue; }
    else
      # the killer waits for this run's own marker: the run clears its
      # markers dir at start, so no earlier B<k> can aim it
      ( while [ ! -f "$D/crash/markers/B$KB" ]; do sleep 1; done
        kill_youngest_executor "$D.killer.log" ) &
      KPID=$!
      rc=0
      soak "$D.crash.log" "$CLUSTER_MASTER" "$CLENV" -- \
        run "$SHAPE" "$RPB" "$BATCHES" "$D/crash" || rc=$?
      kill "$KPID" 2>/dev/null || true
      wait "$KPID" 2>/dev/null || true
      cat "$D.killer.log" 2>/dev/null || echo "killer never fired (no B$KB marker)"
      echo "Lost-executor lines: $(grep -c 'Lost executor' "$D.crash.log" || true)"
      [ "$rc" -eq 0 ] || { echo "killed run failed rc=$rc"; overall=1; continue; }
    fi
    soak "$D.check.log" "$LOCAL" -- check "$D/ctl" "$D/crash" \
      || { echo "EXACTLY-ONCE CHECK FAILED"; overall=1; }
  done
done
exit "$overall"
