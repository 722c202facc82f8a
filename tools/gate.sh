#!/usr/bin/env bash
# The un-skippable end-of-session gate (round 2 shipped a non-compiling HEAD
# and lost 40 green rows to one import): compile, full tests, Verify dump at
# sf0.01, DuckDB oracle compare. Exit nonzero on ANY failure.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch compile
sbt -batch test
OUT=$(mktemp -d /tmp/gate_verify.XXXXXX)
LOG=$(mktemp /tmp/gate_verify_log.XXXXXX)
trap 'rm -rf "$OUT" "$LOG"' EXIT
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $OUT" > "$LOG" 2>&1
python3 tools/check.py /root/testdata/sf0.01 "$OUT"
# Leak check: Verify names every query that still holds a persisted RDD
# after the between-queries checkpoint drain (see graft.Checkpoints).
if grep -E '\[verify\] .* left [0-9]+ persisted RDDs' "$LOG"; then
  echo "[gate] leak check failed: a query left persisted RDDs behind" >&2
  exit 1
fi
echo "[gate] leak check ok"
# Full-set local-cluster smoke: every registered query once across REAL
# executor child JVMs (local-cluster[2,2,2048]), each full result written to
# the noop sink — catches closure-capture / classpath / codegen-visibility
# bugs that local[n] structurally cannot (round 8 found a relative-classpath
# bug this way on its first run). ClusterSmoke exits nonzero on any query
# failure; pipefail propagates it.
SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  SPARK_DRIVER_MEM=4g sbt -batch "runMain graft.tools.ClusterSmoke /root/testdata/sf0.001" 2>&1 \
  | grep '\[clustersmoke\] total'
echo "[gate] local-cluster smoke ok"
# Benchmark smokes: one short perfbench run per workload (the full-result
# timing path, see BENCHMARK.json) must time every workload query with no
# failure and match each query's committed digest. The serial run is one
# client's latency path; the concurrent one runs a client per core, each on
# its own session, over the shared checkpoint drain and per-client
# broadcasts. The result line is the last line of stdout; a crash or a
# missing result line exits nonzero.
for W in mixed_serial mixed_concurrent; do
  python3 perfbench/run.py --workload "$W" --seed 1 --seconds 10 --trace 0 \
    | tail -n 1 | python3 -c '
import json, sys
w = sys.argv[1]
r = json.loads(sys.stdin.read())
assert r["correct"] is True and r["failed"] == 0, f"perfbench {w} smoke failed: {r}"
print(f"[gate] perfbench {w} smoke ok")' "$W"
done
echo "[gate] all green"
