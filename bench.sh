#!/bin/bash
# Standalone bench launcher: same JVM flags as build.sbt, but runs from
# the packaged jar so sbt stays free. Usage: ./bench.sh [out.json]
# (with out.json given, the bench's stdout JSON line is redirected there)
set -e
JAR=target/scala-2.13/cerebrospark_2.13-0.1.0.jar
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
if [ -n "$1" ]; then exec > "$1"; fi
exec java $ADD_OPENS $EXTRA_JAVA_OPTS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-32g} -Xms${SPARK_DRIVER_MEM:-32g} \
  -XX:ReservedCodeCacheSize=1g -XX:SoftRefLRUPolicyMSPerMB=50000 \
  -cp "/opt/spark/jars/*:$JAR" graft.Bench
