#!/usr/bin/env bash
# Once-per-round full-surface chaos gate (VERDICT r11 #5): every registered
# query fault-free vs under ChaosPlugin whole-run crash/stall injection on
# local-cluster[2,2,2048]; byte-equality per query. With a round N, writes
# CHAOS_r{N}.json and CHAOS_STREAM_r{N}.json at the repo root; with no round,
# writes both into a fresh temp directory (printed), so a bare run never
# overwrites a committed record.
# Usage: tools/chaos.sh [round] [sfDir] [seed]
set -euo pipefail
cd "$(dirname "$0")/.."
if [ -n "${1:-}" ]; then
  OUT="CHAOS_r$1.json"
  OUT_STREAM="CHAOS_STREAM_r$1.json"
else
  DIR=$(mktemp -d /tmp/chaos.XXXXXX)
  OUT="$DIR/CHAOS.json"
  OUT_STREAM="$DIR/CHAOS_STREAM.json"
fi
SF=${2:-/root/testdata/sf0.001}
SEED=${3:-12}
sbt -batch compile > /dev/null
CS_CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
CS_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  CS_OPENS="$CS_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  java $CS_OPENS -Xmx6g -cp "$CS_CP" graft.tools.ChaosSweep "$SF" "$SEED" \
    "$OUT" 2>/dev/null | grep -E '\[chaossweep\] (FAIL|total|injected)'
echo "[chaos] wrote $OUT"
# streaming twins under the same injection recipe (VERDICT r12 #5)
SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  java $CS_OPENS -Xmx6g -cp "$CS_CP" graft.tools.ChaosStreamSweep "$SF" "$SEED" \
    "$OUT_STREAM" 2>/dev/null | grep -E '\[chstream\] (FAIL|total|injected)'
echo "[chaos] wrote $OUT_STREAM"
