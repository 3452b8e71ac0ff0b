#!/bin/bash
# Interleaved paired bench: runs graft.Bench from two class paths in
# alternating legs (old, new, old, new, ...) on the same box, one stdout
# file per leg, then folds the per-side minimums with paired_fold.py.
#
#   tools/paired_bench.sh OLD_CLASSES NEW_CLASSES LEGS OUT_DIR [QUERIES]
#
# OLD_CLASSES/NEW_CLASSES: each build's compiled classes directory
#   (target/scala-2.13/classes of its checkout); $SPARK_HOME/jars is added.
# QUERIES: optional comma-separated query filter (SPARK_GRAFT_BENCH_ONLY).
# Environment passed through to Bench: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
# SPARK_GRAFT_BENCH_REPS, SPARK_GRAFT_BENCH_CORE_REPS; heap from
# SPARK_DRIVER_MEM (default 8g).
set -euo pipefail
if [ $# -lt 4 ]; then
  sed -n '2,13p' "$0" >&2
  exit 2
fi
OLD=$1 NEW=$2 LEGS=$3 OUT=$4 QUERIES=${5:-}
JARS=${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars
# the module opens Spark 4 needs outside spark-submit (as in build.sbt)
ADDOPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
    java.nio java.util java.util.concurrent java.util.concurrent.atomic \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS+=("--add-opens=java.base/$p=ALL-UNNAMED")
done
if [ -n "$QUERIES" ]; then export SPARK_GRAFT_BENCH_ONLY=$QUERIES; fi
mkdir -p "$OUT"
for leg in $(seq 1 "$LEGS"); do
  for side in old new; do
    if [ $side = old ]; then CLASSES=$OLD; else CLASSES=$NEW; fi
    echo "=== leg $leg side $side $(date -u +%FT%TZ)" >&2
    java "${ADDOPENS[@]}" "-Xmx${SPARK_DRIVER_MEM:-8g}" \
      -cp "$CLASSES:$JARS/*" graft.Bench \
      > "$OUT/${side}_leg$leg.json" 2> "$OUT/${side}_leg$leg.err"
  done
done
python3 "$(dirname "$0")/paired_fold.py" "$OUT"
