#!/bin/bash
# Run graft.Bench against the ALREADY-COMPILED classes, bypassing sbt so
# the parent JVM cannot contribute external-CPU noise to the sentinel.
#   tools/bench.sh [sfdir] [cpus] [heap]
# heap defaults to SPARK_DRIVER_MEM, else half of MemTotal clamped to 2..8g.
# Prints the single JSON result line to stdout.
set -u
SFDIR=${1:-/root/testdata/sf0.1}
CPUS=${2:-32}
HEAP=${3:-${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}}
CP="/root/repo/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
java.base/sun.util.calendar"
ADDOPENS=""
for p in $OPENS; do ADDOPENS="$ADDOPENS --add-opens $p=ALL-UNNAMED"; done
SPARK_GRAFT_SF_DIR=$SFDIR SPARK_GRAFT_CPUS=$CPUS java -Xmx$HEAP $ADDOPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Bench 2>/dev/null | grep '^{'
