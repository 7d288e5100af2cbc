#!/usr/bin/env bash
# Multi-JVM bench (VERDICT r12 item 3): run graft.Bench under a
# local-cluster topology of EQUAL TOTAL CORES to the local[32] record,
# so the delta prices exactly what a real cluster pays that a single
# JVM hides — task/closure/broadcast serialization, per-executor codegen
# compilation, cross-process (Netty) shuffle fetch — with the data and
# per-query methodology (3-pass min) held fixed.
# Driver-side tooling only — NOT part of the Spark library.
#
# Usage: tools/distbench.sh [sfdir] [executors] [cores] [memMB] [outjson]
set -uo pipefail
cd "$(dirname "$0")/.."

SF=${1:-/root/testdata/sf0.1}
N=${2:-4}
C=${3:-8}
M=${4:-12288}
OUTJSON=${5:-bench/results/distbench-$(date -u +%Y%m%d-%H%M%S).json}
TMPOUT=$(mktemp -d /tmp/distbench-out-XXXX)
CKPT=$(mktemp -d /tmp/distbench-ckpt-XXXX)
IDX=$(mktemp -d /tmp/distbench-idx-XXXX)
# script-created scratch only — an env-provided SPARK_GRAFT_CKPT_DIR is
# deliberately never swept by Materialize, so the sweep lives here
# (ADVICE r13: 40+ chaos/bench rotations were accumulating /tmp trees)
trap 'rm -rf "$TMPOUT" "$CKPT" "$IDX"' EXIT

# same --add-opens set as ftchaos.sh/ClusterFork: Spark needs them on
# JDK 16+ and this bare `java` launch has no spark-submit to add them
ADD_OPENS=$(for p in java.lang java.lang.invoke java.lang.reflect java.io \
    java.net java.nio java.util java.util.concurrent \
    java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action \
    sun.util.calendar; do echo --add-opens java.base/$p=ALL-UNNAMED; done)

SPARK_GRAFT_MASTER="local-cluster[$N,$C,$M]" \
SPARK_GRAFT_CPUS=$((N * C)) \
SPARK_GRAFT_SF_DIR="$SF" \
SPARK_GRAFT_BENCH_OUT="$TMPOUT" \
SPARK_GRAFT_CKPT_DIR="$CKPT" \
SPARK_GRAFT_INDEX_DIR="$IDX" \
SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
java -Xmx16g $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Dspark.executor.extraClassPath=$PWD/target/scala-2.13/classes" \
  -cp "$PWD/target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Bench
RC=$?
if [ -f "$TMPOUT/bench-latest.json" ]; then
  cp "$TMPOUT/bench-latest.json" "$OUTJSON"
  echo "distbench record: $OUTJSON"
fi
exit $RC
