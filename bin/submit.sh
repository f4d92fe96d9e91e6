#!/usr/bin/env bash
# spark-submit wrapper for the graft engine mains.
#
#   bin/submit.sh <class> <master> <num-executors> [executor-cores] [executor-mem]
#
# Examples:
#   bin/submit.sh graft.Bench spark://master:7077 256 4 16g
#   bin/submit.sh graft.Verify yarn 64                 # + program args via EXTRA_ARGS
#
# The north-rule two-cluster-size measurement is this same submit run at
# --num-executors N and 4N on the same input; nothing in the engine keys
# off local mode.
set -euo pipefail

CLASS="${1:?class (e.g. graft.Bench)}"
MASTER="${2:?master url}"
EXECUTORS="${3:?num executors}"
CORES="${4:-4}"
MEM="${5:-16g}"

JAR=$(ls target/scala-2.13/pfaedlespark_2.13-*.jar 2>/dev/null | head -1)
if [ -z "${JAR}" ]; then
  echo "jar not found — run: sbt package" >&2
  exit 1
fi

# shuffle partitions ~ 2x total cores: large enough to bound per-partition
# state, small enough that AQE can coalesce without driver pressure
PARTS=$((EXECUTORS * CORES * 2))

# codegen cache: one match_city op of the benchmark (a pipeline rep and
# its checks) compiles ~210 classes (whole-stage classes count twice: the
# driver and the executor task threads compile them under different class
# loaders, and the cache key includes the loader). Spark's default of 100
# entries evicts every class before the next rep needs it again, so each
# rep recompiles everything; 4000 entries hold a rep's classes with room
# for the catalog queries. A static conf: it must be set at submit time.
CODEGEN_CACHE=4000

exec spark-submit \
  --class "${CLASS}" \
  --master "${MASTER}" \
  --num-executors "${EXECUTORS}" \
  --executor-cores "${CORES}" \
  --executor-memory "${MEM}" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.shuffle.partitions="${PARTS}" \
  --conf spark.sql.maxPlanStringLength=262144 \
  --conf spark.sql.codegen.cache.maxEntries="${CODEGEN_CACHE}" \
  --conf spark.serializer=org.apache.spark.serializer.KryoSerializer \
  "${JAR}" ${EXTRA_ARGS:-}
