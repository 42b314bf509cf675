#!/usr/bin/env bash
# Run a graft main class directly against the sbt-compiled classes, without
# sbt (so measurement runs can proceed while sbt itself is busy, and without
# sbt's launcher overhead). Mirrors build.sbt's forked-run JVM flags.
#   scripts/run_main.sh graft.tools.Probe time q_cms q_hll
set -euo pipefail
CLASSES=/root/repo/target/scala-2.13/classes
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
MAIN=$1; shift
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" -XX:ReservedCodeCacheSize=512m \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  ${SPARK_GRAFT_EXTRA_JAVA_OPTS:-} \
  -cp "$CLASSES:/opt/spark/jars/*" "$MAIN" "$@"
