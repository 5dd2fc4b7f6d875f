#!/bin/bash
# Full correctness verify: dump every SparkEntry query at sf0.001 and
# then at sf0.01, and compare each scale against the DuckDB oracle
# (mimics the driver's t2 gate). Oracle parity must hold at both scales.
#
#   tools/run_verify.sh [outDir] [querySubset]
#
# Each scale dumps into <outDir>/<sf>. querySubset is an optional
# comma-separated list of query names. TESTDATA names the directory that
# holds sf0.001/ and sf0.01/ (default $HOME/testdata).
#
# Fast path: compiles once via sbt, then runs graft.Verify with plain
# java -cp (avoids sbt's project lock + startup). Requires the Java-17
# --add-opens set for Spark 4. Exits non-zero if either scale fails.
set -e
cd "$(dirname "$0")/.."
OUT="${1:-/tmp/verify_out}"
SUBSET="$2"
DATA="${TESTDATA:-$HOME/testdata}"
JARS="${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars"
sbt -batch compile 2>&1 | tail -2
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
status=0
for sf in sf0.001 sf0.01; do
  echo "== $sf"
  # a reused dir would serve a stale dump for a query that now fails
  rm -rf "$OUT/$sf"
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" java $OPENS \
    -cp "target/scala-2.13/classes:$JARS/*" \
    graft.Verify "$DATA/$sf" "$OUT/$sf" $SUBSET 2>&1 \
    | { grep -E '\[verify\]' || true; } | tail -20
  python3 tools/selfcheck.py "$DATA/$sf" "$OUT/$sf" > "$OUT/$sf.selfcheck" \
    || status=1
  tail -5 "$OUT/$sf.selfcheck"
done
exit $status
