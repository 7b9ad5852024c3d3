#!/bin/bash
# Targeted bench runner: replicates sbt's forked `runMain graft.Bench`
# with plain java so timing runs don't contend with a live sbt server.
# Usage: tools/run_bench.sh [query1,query2,...] [report_path]
# JVM/classpath/spark-prop setup lives in tools/run.sh (shared).
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
export SPARK_GRAFT_BENCH_ITERS="${SPARK_GRAFT_BENCH_ITERS:-3}"
[ -n "$1" ] && export SPARK_GRAFT_BENCH_ONLY="$1"
export SPARK_GRAFT_BENCH_REPORT="${2:-/tmp/bench_targeted.json}"
exec "$(dirname "$0")/run.sh" graft.Bench
