#!/bin/bash
# Run a graft main with the Spark-on-JDK17 module opens (matches
# build.sbt's jdk17AddOpens: Spark and its serializers reflect into
# these JDK internals, and a bare `java -cp` without them fails at
# run time).
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
# the classes of the checkout this script sits in
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$(ls /opt/spark/jars/*.jar | tr '\n' ':')$ROOT/target/scala-2.13/classes"
# MEM may hold several JVM flags ("-Xmx4g -XX:+UseG1GC") — word-split it
# into an array so each flag reaches the JVM as its own argument
read -ra MEM_FLAGS <<< "${MEM:--Xmx12g}"
exec java $OPENS -cp "$CP" "${MEM_FLAGS[@]}" "$@"
