#!/bin/bash
# Targeted verify runner (plain java, no sbt contention).
# Usage: tools/run_verify.sh <sfdir> <outdir> [query1,query2,...]
# JVM/classpath/spark-prop setup lives in tools/run.sh (shared).
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
[ -n "$3" ] && export SPARK_GRAFT_VERIFY_ONLY="$3"
exec "$(dirname "$0")/run.sh" graft.Verify "$1" "$2"
