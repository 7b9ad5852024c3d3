#!/bin/bash
# THE direct JVM runner for graft mains against the compiled classes —
# avoids the sbt lock so benches/profiles can run while sbt test is
# active. Single source of truth for classpath + JVM flags + spark
# properties: run_bench.sh / run_prof.sh / run_verify.sh all exec this,
# so the launch environments cannot drift (r10 ADVICE: run.sh and
# run_bench.sh had already diverged on --add-opens and spark.* props).
# Usage: tools/run.sh <mainClass> [args...]
# Runs the classes of the checkout this script lives in.
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS="--add-exports java.base/sun.nio.ch=ALL-UNNAMED"
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         jdk.internal.ref sun.nio.ch sun.nio.cs sun.security.action \
         sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} -cp "$CP" "$@"
