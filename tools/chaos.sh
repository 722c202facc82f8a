#!/usr/bin/env bash
# Once-per-round full-surface chaos gate (VERDICT r11 #5): every registered
# query, then the five streaming twins, fault-free vs under ChaosPlugin
# whole-run crash/stall injection on local-cluster[2,2,2048]; byte-equality
# per query. With a round N, writes
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
# both sweeps (the registry, then the streaming twins) in one JVM, each on
# its own fresh clean and chaos sessions
SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  SPARK_DRIVER_MEM=6g sbt -batch "runMain graft.tools.ChaosSweep $SF $SEED $OUT $OUT_STREAM" 2>&1 \
  | grep -E '\[(chaossweep|chstream)\] (FAIL|total|injected)'
echo "[chaos] wrote $OUT"
echo "[chaos] wrote $OUT_STREAM"
