#!/bin/bash
# Query profiler runner. Usage: tools/run_prof.sh run:<query>[,<query>...]
# JVM/classpath/spark-prop setup lives in tools/run.sh (shared).
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
export SPARK_GRAFT_PROF_Q="$1"
exec "$(dirname "$0")/run.sh" graft.operators.Prof
