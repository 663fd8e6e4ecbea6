#!/bin/bash
# Round bench artifacts: isolated medians for the top-cost queries
# (each query alone in its own JVM, the regression signal VERDICT r7 #3
# asked for), then the full sweep. Usage: dev/bench_round.sh N
# writes BENCH_rN_isolated.json and BENCH_rN_full.json in the repo root.
set -e
cd "$(dirname "$0")/.."
N="${1:?round number}"
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
# r13: q246/q250/q258 added (VERDICT r12 #3) — the official bench's
# top-cost composed queries now have a stable isolated signal
# r14: q259 added (VERDICT r13 #1) — the bisected regression now has
# its own isolated baseline to gate against
# r14: q257 added (VERDICT r13 #4) — the stream_ingest_dedup watch
# item gets an isolated median so the 2.26x-vs-1.2x data-axis
# discrepancy resolves against a clean per-JVM number
TOP="${SPARK_GRAFT_TOP:-q53_ann_recall q134_dedup_method_recall q148_bpe_encode q111_pagerank q216_bootstrap_ci q179_bfs_reach q109_stream_interval_join q128_prefix_filter_join q86_stream_near_dedup q54_dedup_corpus q246_corpus_erasure q250_build_incremental q258_corpus_build_incremental q259_ann_nprobe_curve q257_stream_ingest_dedup}"

sbt -batch compile >/dev/null 2>&1

: > /tmp/bench_isolated_parts.txt
for q in $TOP; do
  echo "[bench_round] isolated: $q" >&2
  SPARK_GRAFT_ONLY="$q" sbt -batch "runMain graft.Bench" >/dev/null 2>&1
  python3 - "$q" <<'EOF'
import json, sys
d = json.load(open('target/bench.json'))
q = sys.argv[1]
with open('/tmp/bench_isolated_parts.txt', 'a') as f:
    f.write(json.dumps({q: d['queries'][q]}) + '\n')
EOF
done
python3 - "$N" <<'EOF'
import json, sys
merged = {}
for line in open('/tmp/bench_isolated_parts.txt'):
    merged.update(json.loads(line))
out = {
    'metric': 'isolated_total', 'unit': 'sec',
    'value': round(sum(v['median'] for v in merged.values()), 3),
    'sf': '0.1', 'reps': 3,
    'stat': 'median_of_3_each_query_alone_in_its_own_jvm',
    'queries': merged,
}
json.dump(out, open(f'BENCH_r{int(sys.argv[1]):02d}_isolated.json', 'w'), indent=2)
print('isolated artifact written', file=sys.stderr)
EOF

echo "[bench_round] full sweep" >&2
sbt -batch "runMain graft.Bench" >/dev/null 2>&1
cp target/bench.json "BENCH_r$(printf %02d "$N")_full.json"
echo "[bench_round] done" >&2
