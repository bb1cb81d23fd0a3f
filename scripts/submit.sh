#!/usr/bin/env bash
# Cluster submission wrapper (north rule: `spark-submit --py-files` at
# N and 4N executors). Packages the engine as a zip and submits the
# materialized pipeline entry point.
#
#   scripts/submit.sh <master> <num_executors> <transcripts_path> <out_dir>
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
MASTER="${1:?master url}"; EXECUTORS="${2:?num executors}"
INPUT="${3:?transcripts path}"; OUT="${4:?output dir}"

ZIP="$(mktemp -d)/stanford_relation_extractor_spark.zip"
(cd "$REPO" && zip -qr "$ZIP" stanford_relation_extractor_spark)

exec spark-submit \
  --master "$MASTER" \
  --num-executors "$EXECUTORS" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.coalescePartitions.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.sql.execution.arrow.maxRecordsPerBatch=50000 \
  --py-files "$ZIP" \
  "$REPO/scripts/run_job.py" "$INPUT" "$OUT"
