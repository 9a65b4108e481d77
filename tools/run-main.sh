#!/bin/bash
# Run a graft main class with plain java (avoids the sbt project lock).
# Usage: run-main.sh <MainClass> [args...]   (env: SPARK_DRIVER_MEM, SPARK_GRAFT_*)
set -e
# local-cluster masters: the in-process Worker builds executor commands
# via the Spark launcher, which needs these two to find the distro
export SPARK_HOME="${SPARK_HOME:-/opt/spark}"
export SPARK_SCALA_VERSION="${SPARK_SCALA_VERSION:-2.13}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | paste -sd:)"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# SPARK_GRAFT_JVM_OPTS: extra -D flags (e.g. spark confs — Spark reads
# system properties), used by scratch-constrained drills to set
# -Dspark.io.compression.codec=zstd for denser shuffle spill
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  ${SPARK_GRAFT_JVM_OPTS:-} \
  -Xmx${SPARK_DRIVER_MEM:-8g} -cp "$CP" "$@"
