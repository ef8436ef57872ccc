#!/bin/bash
# Run a graft main directly on the compiled classes (bypasses the sbt
# lock; requires the classes to be current). GRAFT_CLASSES names the
# classes directory; it defaults to this tree's target/scala-2.13/classes.
# Usage: [GRAFT_CLASSES=<dir>] tools/run_main.sh graft.Bench [args...]
MAIN="$1"; shift
CLASSES="${GRAFT_CLASSES:-$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes}"
exec java \
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
  -Dderby.system.home=/tmp/derby \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$MAIN" "$@"
