#!/bin/bash
# Detached main launcher (plain java: keeps sbt free for spec work
# while a long measurement run owns the cores). Mirrors build.sbt's
# fork javaOptions. Usage: run_tool.sh <mainClass> [args...]
cd /root/repo
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADDOPENS=$(for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do printf -- "--add-opens java.base/%s=ALL-UNNAMED " $p; done)
java $ADDOPENS -Xmx${SPARK_DRIVER_MEM:-8g} -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC -XX:+UnlockDiagnosticVMOptions \
  -XX:GCLockerRetryAllocationCount=100 \
  -cp "$CP" "$@"
rc=$?
echo "EXITCODE=$rc"
exit $rc
