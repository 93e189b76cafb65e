#!/bin/bash
# Time batches of inventory queries at one scale factor, one fresh JVM per
# batch (tools/jrun.sh graft.tools.TimeOne), into a log that
# tools/merge_sweep.py turns into a labelled record.
#
# Usage: tools/sweep.sh <out.log> <sfDir> <reps> <batch>...
#   Each <batch> is a comma-separated query list timed in one JVM;
#   SPARK_DRIVER_MEM sets its heap (jrun.sh default 8g).
#   Build the checkout first (`sbt compile`); corpora above sf0.1 are
#   synthesized, e.g. tools/jrun.sh graft.tools.MakeSfN /root/testdata/sf0.1 /tmp/sf10 100
#
# The sf10/sf100 slope sweep (reps 1, 16g; iterative gates one per JVM):
#   dedup_ngram_capped  dedup_clusters  dedup_clusters_star  dedup_containment
#   catalog_stats_skipping,catalog_compact_roundtrip  graph_pagerank
#   text_bpeish_tokens,layout_zorder  dedup_simhash_capped,multimodal_adpcm_decode
#   text_fuzzy_join  events_dedup_window_stream,events_dedup_stream
# gold_alerts, q28_interval_overlap, uncapped dedup_simhash and the uncapped
# cosine pair gates stay out of sf10+ sweeps by the contracts in BASELINE.md;
# their capped twins are the scale points.
set -u
if [ $# -lt 4 ]; then
  echo "usage: $0 <out.log> <sfDir> <reps> <batch>..." >&2
  exit 2
fi
OUT=$1; SF=$2; REPS=$3; shift 3
HERE="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
COMMIT=$(git -C "$HERE" describe --always --dirty 2>/dev/null || echo unknown)
echo "== sweep sf=$SF reps=$REPS commit=$COMMIT date=$(date -u +%Y-%m-%dT%H:%M:%SZ)" > "$OUT"
for b in "$@"; do
  echo "== batch: $b" >> "$OUT"
  "$HERE/jrun.sh" graft.tools.TimeOne "$b" "$SF" "$REPS" 2>&1 \
    | grep -E '\[timeone\]|OutOfMemory|Exception in thread' >> "$OUT"
  echo "== exit ${PIPESTATUS[0]}" >> "$OUT"
done
echo "== done" >> "$OUT"
