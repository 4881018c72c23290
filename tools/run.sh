#!/bin/bash
# Direct-JVM runner for graft mains (skips sbt startup). Usage:
#   tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/vout
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 tools/run.sh graft.Bench
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# session confs are set by graft.Session, not here
exec java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-28g}" \
  -Dlog4j2.level=warn \
  -cp "$CP" "$@"
