#!/bin/bash
# Run a graft main class directly against compiled classes + Spark jars.
# Usage: scripts/run.sh graft.Verify <sfDir> <outDir>
# The classes come from this checkout's target/; the Spark jars from
# $SPARK_HOME/jars, or from the installation of the spark-submit on PATH.
set -euo pipefail
CLS="$1"; shift
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
if [ -z "${SPARK_HOME:-}" ] && command -v spark-submit >/dev/null; then
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")"
fi
if [ -z "${SPARK_HOME:-}" ]; then
  echo "no Spark installation found; set SPARK_HOME" >&2
  exit 2
fi
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS ${SPARK_EXTRA_JVM:-} \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO/target/scala-2.13/classes:$SPARK_HOME/jars/*" \
  "$CLS" "$@"
