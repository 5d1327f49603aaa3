#!/bin/bash
# Launch a graft main directly on the sbt-compiled classes (no sbt lock).
# Usage: runmain.sh [-Xmx<size>] graft.Probe <time|stages|explain|ab> <sfDir> <reps> <q1,q2,..> [k=v ...]
#        (or any other graft main: runmain.sh graft.Verify <sfDir> <outDir>)
MEM="-Xmx${SPARK_DRIVER_MEM:-8g}"
if [[ "$1" == -Xmx* ]]; then MEM="$1"; shift; fi
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $MEM $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
