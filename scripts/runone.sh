#!/bin/bash
# Direct-JVM RunOne (no sbt lock contention): scripts/runone.sh <query> <sfDir> <reps> [explain]
# Runs the compiled classes (`sbt compile` first) with build.sbt's forked-run
# JVM options: the JDK-17 add-opens and a heap of SPARK_DRIVER_MEM, or half
# of RAM clamped to 2g-8g when that is unset. Cores: SPARK_GRAFT_CPUS (see
# graft.GraftSession).
set -e
REPO="$(cd "$(dirname "$0")/.." && pwd)"
# Spark's jars: $SPARK_HOME/jars, else the installation of the spark-submit on PATH
SPARK="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
CP="$REPO/target/scala-2.13/classes:$SPARK/jars/*"
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx$MEM \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.RunOne "$@"
