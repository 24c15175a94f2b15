#!/usr/bin/env bash
# Package the engine and submit the checkpointed extraction job to a
# cluster — the north rule's ship path (spark-submit --py-files).
#
# Usage:
#   tools/submit.sh <master-url> <transcripts-path> <out-dir> <ckpt-dir> [run-id]
#
# Without a multi-node master, the same command with --master local[N]
# runs the identical artifact locally.
set -euo pipefail

MASTER="${1:?master url}"
INPUT="${2:?transcripts parquet path}"
OUT="${3:?output dir}"
CKPT="${4:?checkpoint dir}"
RUN_ID="${5:-run-$(date +%Y%m%d_%H%M%S)}"

REPO="$(cd "$(dirname "$0")/.." && pwd)"
ZIP="$REPO/dist/docling_translate_spark.zip"
mkdir -p "$REPO/dist"
(cd "$REPO" && zip -qr "$ZIP" docling_translate_spark -x '*__pycache__*')

exec spark-submit \
  --master "$MASTER" \
  --py-files "$ZIP" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.sql.execution.arrow.maxRecordsPerBatch=10000 \
  --conf spark.sql.shuffle.partitions="${SHUFFLE_PARTITIONS:-256}" \
  "$REPO/tools/run_job.py" \
  --input "$INPUT" --out "$OUT" --ckpt "$CKPT" --run-id "$RUN_ID"
