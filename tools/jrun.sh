#!/bin/bash
# Run a graft main class via plain java (keeps the sbt target lock free).
# Usage: tools/jrun.sh <MainClass> [args...]   (env: SPARK_DRIVER_MEM, SPARK_GRAFT_CPUS)
#   MainClass: graft.Bench, graft.Verify or graft.tools.Run <cmd> (no args: its usage)
MAIN=$1; shift
REPO=$(cd "$(dirname "$0")/.." && pwd)
exec java -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} "$MAIN" "$@"
