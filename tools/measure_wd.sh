#!/bin/bash
# Scoped wd-family bench at a GenWd fixture (the r12 scale-table
# recipe): runs graft.Bench over the wd keys with the dump override
# confs (spark.graft.wd.path / spark.graft.wd.bz2, passed through
# SPARK_GRAFT_EXTRA_OPTS) pointed at <wdDir>, writing the scoped detail to tmp/bd_<tag>.json
# and BENCHQ cold/warm lines to stdout.
#
# Usage: tools/measure_wd.sh <wdDir> <tag> [keys] [--bz2-as-plain]
#   wdDir: a GenWd output dir (expects plain/ and bz2/ subdirs;
#          with --bz2-as-plain, bz2/ serves both paths — Spark's text
#          reader decompresses .bz2 transparently, the recipe for
#          bz2only fixtures like the 10M point)
#   keys:  comma list (default: the 6-key wd measurement set)
# Remember (playbook): keys sharing a pass with a multi-GB key read
# 2-3x slow from page-cache churn — WARM > COLD is the tell;
# re-measure SOLO (pass a single key) before believing an exponent.
set -e
cd "$(dirname "$0")/.."
WDDIR="$1"; TAG="$2"
KEYS="${3:-scan_ndjson_entities,wd_entity_flatten,wd_claims_flatten,wd_statements_truthy,wd_property_stats,etl_wikidata_pg}"
if [ -z "$WDDIR" ] || [ -z "$TAG" ]; then
  echo "usage: tools/measure_wd.sh <wdDir> <tag> [keys] [--bz2-as-plain]"; exit 2
fi
PLAIN="$WDDIR/plain"
if [ "$4" = "--bz2-as-plain" ] || [ ! -d "$PLAIN" ]; then PLAIN="$WDDIR/bz2"; fi
SPARK_GRAFT_ONLY="$KEYS" SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SHUFFLE=32 \
  SPARK_GRAFT_EXTRA_OPTS="${SPARK_GRAFT_EXTRA_OPTS:+$SPARK_GRAFT_EXTRA_OPTS }-Dspark.graft.wd.path=$(readlink -f "$PLAIN") -Dspark.graft.wd.bz2=$(readlink -f "$WDDIR/bz2")" \
  SPARK_GRAFT_DETAIL_OUT="tmp/bd_${TAG}.json" \
  sbt -batch "runMain graft.Bench" 2>&1 | grep -E "BENCHQ|BENCHFAIL|\"metric\"" | sort -u
