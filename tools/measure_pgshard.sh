#!/bin/bash
# Sharded-COPY fan-out sweep (r12 verdict task 1): PgShardProbe over a
# GenWd dump at shard counts 1/2/4, printing one PGSHARD JSON line per
# point — statements/s vs shard count isolates the single-table writer
# ceiling from the COPY protocol (the Spark side is identical at every
# N). Watch /tmp/graft_pgdata afterwards; big sweeps grow the WAL.
#
# Usage: tools/measure_pgshard.sh <wdBz2Dir> [shardList] [numPartitions] [promote]
#   defaults: shardList "0 1 2 4" (0 = no-sink Spark floor),
#   numPartitions 16, promote rewrite|attach (default rewrite)
set -e
cd "$(dirname "$0")/.."
BZ2="$1"; SHARDS="${2:-0 1 2 4}"; PARTS="${3:-16}"; PROMOTE="${4:-rewrite}"
if [ -z "$BZ2" ]; then
  echo "usage: tools/measure_pgshard.sh <wdBz2Dir> [shardList] [numPartitions] [promote]"; exit 2
fi
for N in $SHARDS; do
  SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_EXTRA_OPTS="${SPARK_GRAFT_EXTRA_OPTS:+$SPARK_GRAFT_EXTRA_OPTS }-Dspark.graft.wd.bz2=$(readlink -f "$BZ2")" \
    sbt -batch "runMain graft.wikidata.PgShardProbe $N $PARTS $PROMOTE" 2>&1 \
    | grep -E "PGSHARD|Exception"
done
