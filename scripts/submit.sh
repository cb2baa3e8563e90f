#!/usr/bin/env bash
# Package the engine and run a job via spark-submit --py-files — the
# production invocation shape (north rule). Works against any Spark master;
# in this sandbox it runs on local[32]. The job runs in the caller's working
# directory, so relative paths resolve there and the Python workers import
# the engine from the shipped zip.
#
# Usage: scripts/submit.sh [--master local[32]] -- <run_job.py args...>
set -euo pipefail
ROOT="$(cd "$(dirname "$0")/.." && pwd)"

MASTER="local[${SPARK_GRAFT_CPUS:-32}]"
if [[ "${1:-}" == "--master" ]]; then MASTER="$2"; shift 2; fi
[[ "${1:-}" == "--" ]] && shift

ZIP=$(mktemp -d)/engine.zip
(cd "$ROOT" && zip -qr "$ZIP" haskellpagerank_spark -x '*__pycache__*')

exec spark-submit \
    --master "$MASTER" \
    --conf spark.sql.adaptive.enabled=true \
    --conf spark.sql.adaptive.skewJoin.enabled=true \
    --conf "spark.sql.shuffle.partitions=${SPARK_GRAFT_CPUS:-32}" \
    --py-files "$ZIP" \
    "$ROOT/scripts/run_job.py" "$@"
