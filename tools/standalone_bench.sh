#!/usr/bin/env bash
# Timed multi-executor bench: runs SparkEntry queries at sf0.1 through
# graft.Bench on an in-container standalone master with 2 separate executor
# JVMs (16 cores total, matching half the local[32] parallelism but with
# REAL serialized exchanges between JVMs), so shuffle-heavy families
# (connected components, triangles, BM25, BPE) are costed under genuine
# network-path exchange instead of local[n]'s in-process shortcut.
# Compare the emitted JSON against a same-subset local[16] run; adjudicate
# shape (not raw wall) — the box is the same, only the exchange path differs.
#
# Usage: tools/standalone_bench.sh [sfDir] [repeat] [subset]
#   subset: "all" (default — the full 600-query cross-JVM baseline,
#           round-7 protocol: one pass, re-run suspects min-of-2),
#           "slowest25" (the r6 deep-dive list), or an explicit CSV.
# Output: the full JSON lands at $SPARK_GRAFT_BENCH_JSON
# (default /tmp/graft_standalone_bench.json).
set -uo pipefail
SPARK_HOME=/opt/spark
REPO=$(cd "$(dirname "$0")/.." && pwd)
JAR=$REPO/target/scala-2.13/cascadinghivespark_2.13-0.1.0.jar
MASTER_URL=spark://127.0.0.1:7077
SF=${1:-/root/testdata/sf0.1}
REPEAT=${2:-2}
SUBSET=${3:-all}
SMOKE_HOME=${GRAFT_SMOKE_HOME:-/tmp/graft-standalone-bench}
export SPARK_LOG_DIR=$SMOKE_HOME/logs
export SPARK_WORKER_DIR=$SMOKE_HOME/work
export SPARK_PID_DIR=$SMOKE_HOME/pids
mkdir -p "$SPARK_LOG_DIR" "$SPARK_WORKER_DIR" "$SPARK_PID_DIR"

SLOWEST25=q139_coverage_select,q127_bpe_encode,\
q126_bpe_train,q148_assoc_rules,q122_leakage_safe_split,q120_cluster_longest,\
q65_dup_clusters,q142_label_prop,q132_ivfpq_ann,q131_pq_ann,q403_chrf,\
q134_pagerank,q159_hits,q153_triangles,q425_dbscan_grid,q282_abc_xyz,\
q172_equidepth_hist,q225_dedup_threshold_curve,q550_er_evaluation,\
q448_mmr_rerank,q119_table_diff_pruned,q25_ngram_jaccard,q223_lsh_planner,\
q313_threshold_opt,q482_kalman_level

case "$SUBSET" in
  all)        ONLY=""; unset SPARK_GRAFT_ONLY ;;  # a stale exported ONLY
                # must not shrink the run that gets recorded as "all"
  slowest25)  ONLY=$SLOWEST25 ;;
  *)          ONLY=$SUBSET ;;
esac
export SPARK_GRAFT_BENCH_JSON=${SPARK_GRAFT_BENCH_JSON:-/tmp/graft_standalone_bench.json}

echo "[sbench] packaging..."
(cd "$REPO" && sbt -batch package) || exit 1

cleanup() {
  SPARK_WORKER_INSTANCES=2 "$SPARK_HOME/sbin/stop-worker.sh" >/dev/null 2>&1
  "$SPARK_HOME/sbin/stop-master.sh" >/dev/null 2>&1
}
trap cleanup EXIT
cleanup

echo "[sbench] starting standalone master + 2 workers (8 cores each)..."
"$SPARK_HOME/sbin/start-master.sh" --host 127.0.0.1 --port 7077 \
  --webui-port 8090 || exit 1
SPARK_WORKER_INSTANCES=2 "$SPARK_HOME/sbin/start-worker.sh" "$MASTER_URL" \
  --cores 8 --memory 12g --webui-port 8190 || exit 1
sleep 5

echo "[sbench] timing subset=$SUBSET at $SF (repeat $REPEAT) -> $SPARK_GRAFT_BENCH_JSON"
# an EMPTY SPARK_GRAFT_ONLY would select zero queries — only export it
# when a subset is actually requested
if [ -n "$ONLY" ]; then export SPARK_GRAFT_ONLY=$ONLY; fi
SPARK_GRAFT_SF_DIR=$SF \
SPARK_GRAFT_REPEAT=$REPEAT \
"$SPARK_HOME/bin/spark-submit" --master "$MASTER_URL" \
  --driver-memory 8g \
  --conf spark.executor.cores=8 --conf spark.executor.memory=10g \
  --conf spark.ui.enabled=false \
  --conf spark.sql.shuffle.partitions=32 \
  --class graft.Bench "$JAR" | grep -E '"metric"|BENCH_JSON'
