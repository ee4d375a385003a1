#!/bin/bash
# Run a graft main class directly against the compiled classes + Spark
# jars (no sbt in the loop). Usage: tools/run.sh <MainClass> [args...]
# The -D flags are build.sbt's javaOptions, so plans print the same
# session time zone under both launchers.
set -e
CLS="$1"; shift
. "$(dirname "$0")/jvm-opens.sh"
exec java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/root/repo/target/scala-2.13/test-classes:/opt/spark/jars/*" \
  "$CLS" "$@"
