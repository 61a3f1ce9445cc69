#!/bin/bash
# Run a graft main class with plain java (no sbt lock), mirroring
# build.sbt's javaOptions. Usage:
#   SPARK_DRIVER_MEM=24g tools/run_graft.sh graft.GenData 10.0 target/gen/sf10
set -euo pipefail
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# GRAFT_JAVA_OPTS: extra -D flags for rung runs (e.g. a longer
# spark.network.timeout so a multi-minute host steal storm doesn't get
# the local executor declared dead mid-suite).
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  ${GRAFT_JAVA_OPTS:-} \
  -cp "src/main/resources:target/scala-2.13/classes:/opt/spark/jars/*" \
  "$@"
