#!/bin/bash
# Run a graft main class directly on compiled classes (fast iteration; no sbt
# startup). Usage: tools/run-main.sh graft.Verify /root/testdata/sf0.01 /tmp/out
set -e
CLASS="$1"; shift
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLASS" "$@"
