#!/usr/bin/env bash
# Cluster submission (north_rule: spark-submit --py-files on a
# multi-executor cluster at N and 4N executors).
#
# Usage:
#   scripts/submit_job.sh <input_table_or_path> <output_path> \
#       [spark-submit args...] [-- job args: n_buckets batch_buckets]
#
# Locally this runs against local[*]; on a real cluster pass e.g.
#   --master yarn --deploy-mode cluster --num-executors 200 \
#   --executor-cores 5 --executor-memory 16g \
#   --conf spark.checkpoint.dir=hdfs:///tmp/vlite-checkpoints
# spark.checkpoint.dir (a shared-FS path) makes the iterative operators'
# per-round checkpoints (dedup groups, PageRank) reliable; without it
# they checkpoint into executor storage, which an executor loss drops.
set -euo pipefail
REPO_DIR="$(cd "$(dirname "$0")/.." && pwd)"
INPUT="${1:?input path}"; OUTPUT="${2:?output path}"; shift 2 || true

# args before `--` go to spark-submit, after it to filter_job.py
SUBMIT_ARGS=(); JOB_ARGS=()
while [[ $# -gt 0 ]]; do
  if [[ "$1" == "--" ]]; then shift; JOB_ARGS=("$@"); break; fi
  SUBMIT_ARGS+=("$1"); shift
done

ZIP="$(mktemp -d)/validatelite_spark.zip"
(cd "$REPO_DIR" && zip -qr "$ZIP" validatelite_spark)

exec spark-submit \
  --py-files "$ZIP" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.executorEnv.MALLOC_MMAP_MAX_=0 \
  --conf spark.executorEnv.MALLOC_TRIM_THRESHOLD_=-1 \
  --conf spark.executorEnv.OMP_NUM_THREADS=1 \
  --conf spark.executorEnv.OPENBLAS_NUM_THREADS=1 \
  ${SUBMIT_ARGS+"${SUBMIT_ARGS[@]}"} \
  "$REPO_DIR/jobs/filter_job.py" "$INPUT" "$OUTPUT" \
  ${JOB_ARGS+"${JOB_ARGS[@]}"}
