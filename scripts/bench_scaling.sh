#!/usr/bin/env bash
# Scaling-efficiency evidence for the north rule: the same pipeline job via
# spark-submit --py-files at two parallelism levels (local[8] ~ N executors,
# local[32] ~ 4N executors) on the same synthesized input.
#
#   efficiency = (throughput_32 / throughput_8) / 4
#
# Results are reported in BENCH/BASELINE.md, and the pair is written to
# scaling_controlled.json at the repo root so bench.py can attach the latest
# controlled measurement to its per-round scaling block. Run on an
# otherwise-idle box — concurrent load invalidates the comparison.
#
# Usage: scripts/bench_scaling.sh [n_docs]
set -euo pipefail
cd "$(dirname "$0")/.."

N_DOCS="${1:-240000}"
WORK="${SCALE_WORK:-/dev/shm/b2g_scale}"
OUT="${SCALE_OUT:-scaling_controlled.json}"

rm -f bufr2geojson_spark.zip
zip -qr bufr2geojson_spark.zip bufr2geojson_spark

LINES=""
for C in ${SCALE_CORES:-2 8 32}; do
  rm -rf "$WORK/n$C"
  LINE=$(spark-submit --master "local[$C]" --driver-memory 40g \
    --conf spark.sql.shuffle.partitions=$((C * 2)) \
    --conf spark.default.parallelism=$C \
    --conf spark.sql.adaptive.enabled=true \
    --conf spark.ui.enabled=false \
    --conf spark.sql.execution.arrow.pyspark.enabled=true \
    --conf spark.sql.parquet.compression.codec=zstd \
    --conf spark.local.dir="$WORK/spark-local-$C" \
    --py-files bufr2geojson_spark.zip jobs/pipeline.py \
    --synth "$N_DOCS" --work "$WORK/n$C" --run-id "scale$C" \
    --partitions $((C * 4)) 2>/dev/null | tail -1)
  echo "$LINE"
  LINES="$LINES$C $LINE"$'\n'
done

# summarize the pair(s) into $OUT for bench.py's scaling block (legs travel
# via env). Logic lives in scripts/scaling_summarize.py (unit-tested in
# tests/test_scaling_summarize.py): legs ACCUMULATE into SESSION-GROUPED
# records (schema 2) — a session is one host window (<3 h) AND one engine
# commit; the north-rule criterion is the best SAME-SESSION pair, the
# cross-session merged best-of is reported alongside for transparency,
# and every try of every session is retained. See the module docstring
# for the measured rationale (BENCH.md 5j: this host flips fast/slow
# PER RESOURCE across windows, so cross-window best-of pairs fabricate
# a pair no single window ran).
ENGINE_COMMIT=$(git rev-parse --short HEAD 2>/dev/null || echo unknown)
LINES="$LINES" N_DOCS="$N_DOCS" OUT="$OUT" ENGINE_COMMIT="$ENGINE_COMMIT" \
  python3 scripts/scaling_summarize.py
