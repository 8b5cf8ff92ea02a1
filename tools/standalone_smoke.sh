#!/usr/bin/env bash
# Multi-executor deployability smoke: packages the engine as a plain jar
# (its only runtime dependency is Spark itself, so no fat-jar assembly is
# needed), boots an in-container standalone master + 2 workers (separate
# executor JVMs), and drives three probes a single-JVM local[n] run
# structurally cannot exercise:
#   1. graft.Verify on a representative query subset + tools/check.py —
#      catches closure/Encoder/custom-Expression serialization and
#      classpath bugs (typed Aggregators, NearestCentroid broadcast
#      matrices, Hive catalog writes, IVF partitioned index, CELF driver
#      loop, multimodal mapPartitions).
#   2. graft.Stress cc section with spark.graft.reliableMaterialize=true —
#      fault-tolerant DataFrame.checkpoint across executors, into
#      spark.checkpoint.dir ($SMOKE_HOME/ckpt, removed at exit).
#   3. graft.StreamSmoke — streaming state-store checkpoint restart across
#      executor JVMs.
# Usage: tools/standalone_smoke.sh [outDir] [sfDir]
set -uo pipefail
SPARK_HOME=/opt/spark
REPO=$(cd "$(dirname "$0")/.." && pwd)
JAR=$REPO/target/scala-2.13/cascadinghivespark_2.13-0.1.0.jar
MASTER_URL=spark://127.0.0.1:7077
OUT=${1:-/tmp/graft_standalone_verify}
SF=${2:-/root/testdata/sf0.01}
SMOKE_HOME=${GRAFT_SMOKE_HOME:-/tmp/graft-standalone}
export SPARK_LOG_DIR=$SMOKE_HOME/logs
export SPARK_WORKER_DIR=$SMOKE_HOME/work
export SPARK_PID_DIR=$SMOKE_HOME/pids
mkdir -p "$SPARK_LOG_DIR" "$SPARK_WORKER_DIR" "$SPARK_PID_DIR"

SUBSET=${SPARK_GRAFT_ONLY:-q01_pricing_summary,q05_join5_agg,q08_window_topk,\
q23_minhash_pairs,q26_embedding_dups,q28_knn_lsh,q29_events_window,\
q30_sessionize,q31_multimodal_stats,q36_stream_windowed,q42_sql_cosine,\
q65_dup_clusters,q68_rcfile_roundtrip,q69_dynpart_insert,\
q70_relocate_readback,q72_knn_ivf,q76_semantic_dedup,q84_heavy_hitters,\
q94_bm25_search,q107_countmin,q116_bm25_index,q126_bpe_train,\
q139_coverage_select}

echo "[smoke] packaging..."
(cd "$REPO" && sbt -batch package) || exit 1

cleanup() {
  SPARK_WORKER_INSTANCES=2 "$SPARK_HOME/sbin/stop-worker.sh" >/dev/null 2>&1
  "$SPARK_HOME/sbin/stop-master.sh" >/dev/null 2>&1
  rm -rf "$SMOKE_HOME/ckpt"
}
trap cleanup EXIT
cleanup   # clear any stale daemons from a previous run

echo "[smoke] starting standalone master + 2 workers..."
"$SPARK_HOME/sbin/start-master.sh" --host 127.0.0.1 --port 7077 \
  --webui-port 8090 || exit 1
SPARK_WORKER_INSTANCES=2 "$SPARK_HOME/sbin/start-worker.sh" "$MASTER_URL" \
  --cores 8 --memory 10g --webui-port 8190 || exit 1
sleep 5

SUBMIT=("$SPARK_HOME/bin/spark-submit" --master "$MASTER_URL"
  --driver-memory 6g
  --conf spark.executor.cores=8 --conf spark.executor.memory=8g
  --conf spark.ui.enabled=false
  --conf spark.sql.shuffle.partitions=16)

echo "[smoke] 1/3 Verify subset (${SUBSET//,/ })"
SPARK_GRAFT_ONLY=$SUBSET "${SUBMIT[@]}" --class graft.Verify "$JAR" \
  "$SF" "$OUT" || { echo "[smoke] Verify FAILED"; exit 1; }
python3 "$REPO/tools/check.py" "$SF" "$OUT" || \
  { echo "[smoke] check.py FAILED"; exit 1; }

echo "[smoke] 2/3 connected components with reliable checkpoints"
"${SUBMIT[@]}" \
  --conf spark.graft.reliableMaterialize=true \
  --conf spark.checkpoint.dir="$SMOKE_HOME/ckpt" \
  --class graft.Stress "$JAR" "$SF" 2 cc || \
  { echo "[smoke] Stress cc FAILED"; exit 1; }

echo "[smoke] 3/3 streaming checkpoint restart"
rm -rf "$SMOKE_HOME/stream"   # the probe appends; a stale dir doubles totals
"${SUBMIT[@]}" --class graft.StreamSmoke "$JAR" \
  "$SMOKE_HOME/stream" || { echo "[smoke] StreamSmoke FAILED"; exit 1; }

echo "[smoke] ALL GREEN: multi-executor verify subset + reliable-checkpoint CC + streaming restart"
