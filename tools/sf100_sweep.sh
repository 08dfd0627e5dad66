#!/bin/bash
# sf100skew heavy-tier sweep (round-9 task 1): runs each named query
# through graft.ops.ShuffleBytes (wall-clock + aggregate shuffle WRITE
# bytes to a noop sink) on a 100x skewed ScaleGen replica. Invoked via
# plain `java` over the sbt-compiled classes so a dev sbt session can
# keep working while the sweep runs; flags mirror build.sbt javaOptions.
#
# usage: SPARK_GRAFT_SF_DIR=/tmp/sf100skew tools/sf100_sweep.sh q59 q22 ...
set -uo pipefail
DIR="${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR}"
MEM="${SPARK_DRIVER_MEM:-48g}"
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$ROOT/target/scala-2.13/test-classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for q in "$@"; do
  echo "== $q =="
  SPARK_GRAFT_SF_DIR="$DIR" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
    java $ADD_OPENS -Xmx"$MEM" \
      -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -cp "$CP" graft.ops.ShuffleBytes "$q" 2>/dev/null | grep '"probe"'
  echo "[disk] $(df -h / | tail -1 | awk '{print $4" free"}')"
done
