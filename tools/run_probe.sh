#!/bin/bash
# Direct-JVM probe launcher (replicates build.sbt's forked javaOptions so
# long rung phases can run outside the sbt build lock). Runs the classes
# `sbt compile` left in this checkout's target/. Usage:
#   tools/run_probe.sh <Xmx> <mainClass> [args...]
# The --add-opens list must equal build.sbt's jdk17AddOpens (DisciplineSpec
# checks it).
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
XMX="$1"; shift
AO=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  AO="$AO --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $AO -Xmx"$XMX" -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
