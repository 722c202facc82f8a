#!/usr/bin/env bash
# The un-skippable end-of-session gate (round 2 shipped a non-compiling HEAD
# and lost 40 green rows to one import): compile, full tests, Verify dump at
# sf0.01, DuckDB oracle compare. Exit nonzero on ANY failure.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch compile
sbt -batch test
OUT=$(mktemp -d /tmp/gate_verify.XXXXXX)
trap 'rm -rf "$OUT"' EXIT
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $OUT" > /dev/null
python3 tools/check.py /root/testdata/sf0.01 "$OUT"
# Full-set local-cluster smoke: every registered query once across REAL
# executor child JVMs (local-cluster[2,2,2048]) — catches closure-capture /
# classpath / codegen-visibility bugs that local[32] structurally cannot
# (round 8 found a relative-classpath bug this way on its first run).
# ClusterSmoke exits nonzero on any query failure; pipefail propagates it.
CS_CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
CS_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  CS_OPENS="$CS_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  java $CS_OPENS -Xmx4g -cp "$CS_CP" graft.tools.ClusterSmoke /root/testdata/sf0.001 2>/dev/null \
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
