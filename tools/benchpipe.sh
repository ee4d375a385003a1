#!/bin/bash
# Run BenchPipeline in a fresh JVM with the Bench launcher's flags.
# Usage: tools/benchpipe.sh <threads> <pages> [corpusDir|SYNTH:dir] [extraJvmFlags...]
T="$1"; P="$2"; shift 2
C=""
case "${1:-}" in
  SYNTH:*|/*) C="$1"; shift ;;
esac
. "$(dirname "$0")/jvm-opens.sh"
# GC workers scale with the executor thread count: a fixed 8 starves
# collections under a 32-thread allocation rate (longer pauses, 32
# mutators stopped), eroding exactly the 4N leg of the scaling curve.
PGC=$(( T / 2 < 8 ? 8 : T / 2 ))
CGC=$(( PGC / 4 < 2 ? 2 : PGC / 4 ))
exec java $ADD_OPENS -Xms8g -Xmx8g -XX:+AlwaysPreTouch \
  -XX:ParallelGCThreads=$PGC -XX:ConcGCThreads=$CGC -Dspark.ui.enabled=false "$@" \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.BenchPipeline "$T" "$P" $C
