#!/usr/bin/env bash
# Launch the index build via spark-submit --py-files (north_rule launch mode).
# On a real cluster, replace --master with the cluster manager URL.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
ZIP="/tmp/information_retrieval_project_spark.zip"
(cd "$REPO" && zip -qr "$ZIP" information_retrieval_project_spark -x '*__pycache__*')
CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"  # default: this process's CPUs
exec spark-submit \
  --master "local[$CPUS]" \
  --conf spark.sql.shuffle.partitions="$CPUS" \
  --conf spark.sql.adaptive.enabled=true \
  --py-files "$ZIP" \
  "$REPO/tools/submit_build.py" "$@"
