#!/usr/bin/env bash
# Interleaved old/new A/B of Bench's per-key step (graft.Bench.timeKey via
# tools/timekeys.scala): each pair runs the keys once in a fresh JVM per
# jar, alternating which jar goes first, and records the load average at
# the start of each pair. Prints the format of logs/ab_r23_warm_protocol.log
# ("=== pair N HH:MM:SS load=L", then "<label> TIMEKEY <key> med=... runs=...").
#
#   SPARK_GRAFT_SF_DIR=<fixtures>/sf0.1 tools/abkeys.sh \
#     <parent.jar> <change.jar> <pairs> key1,key2,... > logs/ab_<name>.log
#
# Run from the root of a checkout with SPARK_HOME set; both jars are built
# with `sbt package`.
set -u
[ $# -eq 4 ] || { sed -n '2,12p' "$0"; exit 2; }
parent=$1 change=$2 pairs=$3 keys=$4
: "${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to the timed fixture directory}"
: "${SPARK_HOME:?set SPARK_HOME to the Spark install the jars were built against}"
n=$(nproc)

run() { # <label> <jar>
  SPARK_GRAFT_KEYS=$keys "$SPARK_HOME/bin/spark-shell" --master "local[$n]" \
    --conf spark.sql.shuffle.partitions="$n" --conf spark.ui.enabled=false \
    --conf spark.ui.showConsoleProgress=false \
    --conf spark.sql.session.timeZone=UTC \
    --jars "$2" -I tools/timekeys.scala < /dev/null 2> /dev/null \
    | grep '^TIMEKEY' | sed "s/^/$1 /"
}

for i in $(seq 1 "$pairs"); do
  echo "=== pair $i $(date +%T) load=$(cut -d' ' -f1 /proc/loadavg)"
  if [ $((i % 2)) -eq 1 ]; then run parent "$parent"; run change "$change"
  else run change "$change"; run parent "$parent"; fi
done
echo "=== done $(date +%T)"
