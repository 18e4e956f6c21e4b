#!/bin/bash
# Multi-JVM parity (and optional kill) probe — the r12 cluster recipe
# promoted from tmp/: package the jar, stand up a 2-worker standalone
# cluster (split scratch/work dirs), spark-submit graft.Verify scoped
# to <keys>, optionally SIGKILL the youngest executor mid-job, run the
# same keys on a local[32] twin, and row-diff the two outputs with
# tools/parity.py (EXCEPT ALL both directions).
#
# Usage: tools/cluster_verify.sh <keys> [wdDir|-] [--kill [delaySec]]
#   keys:  comma list of SparkEntry.queries keys
#   wdDir: GenWd fixture dir for the wd dump override ('-' = none)
#   --kill: SIGKILL the youngest CoarseGrainedExecutorBackend after
#           delaySec (default 25) — driver log must show "Lost
#           executor" or the kill missed (check, don't assume).
# Outputs: /tmp/graft_cluster/{submit.log,out,out_local}; exit 0 iff
# parity holds. Never filter spark-submit output through head (SIGPIPE
# kills the job). The cluster and the killer come from tools/cluster_lib.sh.
set -e
cd "$(dirname "$0")/.."
. tools/cluster_lib.sh
KEYS="$1"; WDDIR="${2:--}"; KILL="${3:-}"; DELAY="${4:-25}"
if [ -z "$KEYS" ]; then
  echo "usage: tools/cluster_verify.sh <keys> [wdDir|-] [--kill [delaySec]]"; exit 2
fi
BASE=/tmp/graft_cluster
rm -rf "$BASE"; mkdir -p "$BASE"
JAR=$(package_jar "$BASE/package.log")
# the wd dump override confs: --conf on the spark-submit leg,
# SPARK_GRAFT_EXTRA_OPTS (-D system properties) on the local sbt leg
WDCONF=(); WDOPTS="${SPARK_GRAFT_EXTRA_OPTS:-}"
if [ "$WDDIR" != "-" ]; then
  P="$WDDIR/plain"; [ -d "$P" ] || P="$WDDIR/bz2"
  for kv in "spark.graft.wd.path=$(readlink -f "$P")" \
            "spark.graft.wd.bz2=$(readlink -f "$WDDIR/bz2")"; do
    WDCONF+=(--conf "$kv"); WDOPTS="${WDOPTS:+$WDOPTS }-D$kv"
  done
fi

cluster_start "$BASE" 16 12g
if [ "$KILL" = "--kill" ]; then
  ( sleep "$DELAY"; kill_youngest_executor "$BASE/killer.log" ) &
fi

# capture rc explicitly: under set -e a nonzero spark-submit would
# abort before the diagnostics print (and leave the killer un-reaped)
rc=0
env SPARK_GRAFT_ONLY="$KEYS" SPARK_GRAFT_MASTER="$CLUSTER_MASTER" \
  /opt/spark/bin/spark-submit --master "$CLUSTER_MASTER" \
  --class graft.Verify --driver-memory 8g \
  --conf spark.executor.memory=10g "${WDCONF[@]}" \
  "$JAR" /root/testdata/sf0.01 "$BASE/out" > "$BASE/submit.log" 2>&1 || rc=$?
echo "submit rc=$rc"
grep "\[verify\]" "$BASE/submit.log" | tail -3 || true
if [ "$KILL" = "--kill" ]; then
  wait
  cat "$BASE/killer.log" 2>/dev/null || true
  echo "Lost-executor lines: $(grep -c 'Lost executor' "$BASE/submit.log" || true)"
fi
[ "$rc" -eq 0 ] || { echo "cluster_verify: spark-submit failed rc=$rc"; exit "$rc"; }
cluster_stop
trap - EXIT

env SPARK_GRAFT_ONLY="$KEYS" SPARK_GRAFT_CPUS=32 SPARK_GRAFT_EXTRA_OPTS="$WDOPTS" \
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $BASE/out_local" \
  2>&1 | grep "\[verify\]" | tail -3
python3 tools/parity.py "$BASE/out" "$BASE/out_local" ${KEYS//,/ }
