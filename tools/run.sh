#!/bin/bash
# Run a graft main against the already-compiled classes (`sbt compile`
# first), bypassing sbt so its JVM adds no CPU noise to a timed run.
#   tools/run.sh <MainClass> [-Dspark.k=v ...] [args ...]
# e.g.  tools/run.sh graft.Bench <sfDir>
#       SPARK_GRAFT_CPUS=1 tools/run.sh graft.ScalingBench 20 8 lp_shuffle
# Cores and shuffle partitions come from SPARK_GRAFT_CPUS and
# SPARK_GRAFT_PARTS (graft.Conf); leading -D arguments go to java, where
# SparkConf reads the spark.* ones. Heap: SPARK_DRIVER_MEM, else half of
# MemTotal clamped to 2..8g. Spark's jars: $SPARK_HOME/jars, else next to
# the spark-submit on PATH.
set -eu
[ $# -ge 1 ] || { sed -n '3p' "$0" >&2; exit 2; }
MAIN=$1; shift
JOPTS=()
while [ $# -gt 0 ] && [[ $1 == -D* ]]; do JOPTS+=("$1"); shift; done
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}
ROOT=$(cd "$(dirname "$0")/.." && pwd)
SPARK=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}
CP="$ROOT/target/scala-2.13/classes:$(ls "$SPARK"/jars/*.jar | tr '\n' ':')"
# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt).
OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
exec java -Xmx"$HEAP" "${OPENS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC "${JOPTS[@]}" \
  -cp "$CP" "$MAIN" "$@"
