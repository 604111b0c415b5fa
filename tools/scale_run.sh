#!/bin/bash
# Scaling-evidence runner: measure the top-floor queries where data
# outweighs per-job overhead. Builds a K× replica of the sf0.1 tables
# (graft.tools.ScaleGen — disjoint per-replica vocabulary, so similarity
# self-join work scales LINEARLY by construction), then runs the same
# subset battery at all cores and at half of them through the unmodified
# bench (a subset run writes only BENCH_LOCAL_partial.json; the
# per-query map and the cpus stamp ride its stdout line).
#
#   tools/scale_run.sh [K] [outBase]
#   tools/scale_table.py "$outBase"/scale_x${K}_c*.log
set -e
cd "$(dirname "$0")/.." || exit 1
K=${1:-20}
BASE=${2:-/tmp/graft-scale}
DIR="$BASE/sfx$K"
QUERIES="q_ngram_jaccard q_banding_curve q_banding_recall q_edit_distance \
q_winnow_pairs q_langid_model q_gate_dedup_pipeline q_bloom_decontaminate \
q_curation_pipeline q_percentiles q_simhash_pairs q_score_gate"
if [ ! -d "$DIR/documents.parquet" ]; then
  GRAFT_BENCH_MAIN=graft.tools.ScaleGen tools/run_bench.sh \
    /root/testdata/sf0.1 "$DIR" "$K"
fi
NPROC=$(nproc)
for CPUS in "$NPROC" $(( NPROC > 1 ? NPROC / 2 : 1 )); do
  OUT="$BASE/scale_x${K}_c${CPUS}.log"
  echo "=== scale run x$K c$CPUS $(date -u +%H:%M:%S) ==="
  SPARK_GRAFT_SF_DIR="$DIR" SPARK_GRAFT_CPUS=$CPUS \
    tools/run_bench.sh $QUERIES > "$OUT" 2>&1 || true
  grep -a '"metric"' "$OUT" | tail -1
done
