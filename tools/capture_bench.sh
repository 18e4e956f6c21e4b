#!/bin/bash
# Full-surface bench capture (the README's "Performance regression
# workflow"): N un-scoped graft.Bench runs at the DRIVER config
# (local[32], shuffle=32, sf0.1), each writing a full bench_detail
# capture to tmp/bd_<tag>_<i>.json. Feed them to tools/rebaseline.py,
# which writes bench_bands.json, then commit the last capture as
# bench_detail.json.
#
# Usage: tools/capture_bench.sh [tag] [passes]     (default: close, 3)
#        tools/capture_bench.sh --dry-run          (print, don't run)
# Writes progress to tmp/capture_<tag>.status (one line per pass).
# NEVER run while another sbt command is active in this repo (a
# concurrent compile kills a loading runMain battery with opaque exits).
set -e
cd "$(dirname "$0")/.."
TAG="${1:-close}"; PASSES="${2:-3}"
if [ "$1" = "--dry-run" ]; then
  echo "would run $PASSES x: SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SHUFFLE=32 \\"
  echo "  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_DETAIL_OUT=tmp/bd_${TAG}_\$i.json \\"
  echo "  sbt -batch 'runMain graft.Bench' > tmp/bench_${TAG}_run\$i.log"
  exit 0
fi
mkdir -p tmp
: > "tmp/capture_${TAG}.status"
for i in $(seq 1 "$PASSES"); do
  SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SHUFFLE=32 \
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    SPARK_GRAFT_DETAIL_OUT="tmp/bd_${TAG}_$i.json" \
    sbt -batch "runMain graft.Bench" > "tmp/bench_${TAG}_run$i.log" 2>&1
  echo "pass $i rc=$? $(date -u +%H:%M:%S)" >> "tmp/capture_${TAG}.status"
done
echo DONE >> "tmp/capture_${TAG}.status"
