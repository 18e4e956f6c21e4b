#!/bin/bash
# Shared shell helpers, sourced (not run) by tools/cluster_verify.sh and
# tools/streamsoak.sh:
#   package_jar <log>        sbt package; prints the engine jar's path
#   cluster_start <base> <coresPerWorker> <memPerWorker>
#                            a master and 2 workers on this host (split
#                            scratch/work dirs under <base>); stops them
#                            on exit
#   cluster_stop             stop the workers and the master
#   kill_youngest_executor <log>
#                            SIGKILL the most recently started executor
#                            JVM and log its pid; the driver log must
#                            then show "Lost executor" or the kill missed
# ps patterns bracket a letter ("[C]oarse...") so they never match the
# grep itself.
CLUSTER_MASTER=spark://127.0.0.1:7077
export SPARK_HOME=/opt/spark

package_jar() {
  sbt -batch package > "$1" 2>&1
  ls target/scala-2.13/*.jar | head -1
}

cluster_start() {
  local base="$1" cores="$2" mem="$3" w
  mkdir -p "$base/logs"
  SPARK_IDENT_STRING=graftm SPARK_LOG_DIR="$base/logs" \
    /opt/spark/sbin/start-master.sh -p 7077 --webui-port 8090
  sleep 5
  for w in 1 2; do
    SPARK_IDENT_STRING=graftw$w SPARK_LOG_DIR="$base/logs" \
      SPARK_LOCAL_DIRS="$base/scratch$w" SPARK_WORKER_DIR="$base/work$w" \
      /opt/spark/sbin/start-worker.sh "$CLUSTER_MASTER" \
      -c "$cores" -m "$mem" --webui-port 809$w
  done
  sleep 8
  trap cluster_stop EXIT
}

cluster_stop() {
  SPARK_IDENT_STRING=graftw1 /opt/spark/sbin/stop-worker.sh || true
  SPARK_IDENT_STRING=graftw2 /opt/spark/sbin/stop-worker.sh || true
  SPARK_IDENT_STRING=graftm /opt/spark/sbin/stop-master.sh || true
}

kill_youngest_executor() {
  local pid
  pid=$(ps -eo pid,etimes,cmd | grep "[C]oarseGrainedExecutorBackend" \
        | sort -k2 -n | head -1 | awk '{print $1}')
  echo "KILLER: killing executor pid=$pid at $(date -u +%H:%M:%S)" >> "$1"
  [ -n "$pid" ] && kill -9 "$pid"
}
