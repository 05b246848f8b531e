#!/bin/bash
# Round-17 scaling probe (additive — Bench's contract is untouched): runs
# the heaviest SparkEntry queries at two core counts through
# graft.ops.Profile (a Bench-identical session) and writes the per-query
# low-core/high-core ratio table to plans/r17/scaling_probe.md.
#
# Rationale (round-16 verdict): at sf0.1 the full suite is fixed-overhead-
# bound (8 cores beat 32 on the TOTAL), so the bench total can no longer
# evidence per-operator parallel scaling; this probe measures it per
# query instead. A ratio near cores_hi/cores_lo means the operator's time
# is data-proportional compute (parallelizes); a ratio near 1.0 means
# fixed overhead (scheduling, micro-batch machinery, commits) dominates
# at this scale factor.
#
# Usage: tools/scaling_probe.sh [sfDir] [reps]
set -e
SF=${1:-/root/testdata/sf0.1}
REPS=${2:-3}
LO=8
HI=32
QUERIES="d11_ingest_dedup d10_canonical_corpus j4_delta_join t8_stream_dedup \
d3_minhash_lsh pipe2_select_corpus ta21_bigram_nll ta16_unigram_nll ta14_dsir \
fp2_winnowing h1_segment_revenue d8_remove_dup_spans h4_rollup h7_quantiles \
sim5_knn_ann sim6_pq_ann mix3_cluster_balance pipe1_clean_corpus d7_dup_ngrams \
dc2_fuzzy_decontam"
cd "$(dirname "$0")/.."
for c in $LO $HI; do
  SPARK_GRAFT_CPUS=$c sbt "runMain graft.ops.Profile $SF $REPS $QUERIES" 2>&1 \
    | grep "min=" > /tmp/scaling_probe_c$c.txt
done
python3 - "$LO" "$HI" <<'EOF'
import sys, re
lo, hi = sys.argv[1], sys.argv[2]
def parse(p):
    out = {}
    for line in open(p):
        m = re.match(r"(\S+)\s+.*min=\s*([0-9.]+)", line)
        if m: out[m.group(1)] = float(m.group(2))
    return out
a, b = parse(f"/tmp/scaling_probe_c{lo}.txt"), parse(f"/tmp/scaling_probe_c{hi}.txt")
rows = sorted(((k, a.get(k), b.get(k)) for k in a.keys() | b.keys()),
              key=lambda r: -(r[2] or 0))
with open("plans/r17/scaling_probe.md", "w") as f:
    f.write(f"# Scaling probe: per-query min-of-reps seconds at {lo} vs {hi} cores (sf0.1)\n\n")
    f.write("Generated by tools/scaling_probe.sh via graft.ops.Profile "
            "(Bench-identical session, per-rep cold caches).\n\n")
    f.write(f"| query | {lo} cores (s) | {hi} cores (s) | ratio {lo}c/{hi}c |\n|---|---|---|---|\n")
    for k, va, vb in rows:
        def cell(v):
            return "n/a" if v is None else f"{v:.3f}"
        r = f"{va / vb:.2f}" if va is not None and vb else "n/a"
        f.write(f"| {k} | {cell(va)} | {cell(vb)} | {r} |\n")
    f.write("\nratio > 1: the operator parallelizes (compute-bound at this SF);\n")
    f.write("ratio ~ 1: per-query fixed overhead dominates at this SF;\n")
    f.write("ratio < 1: 32-way task scheduling + GC overhead costs more than\n")
    f.write("the extra cores return on this operator's small stages at this SF\n")
    f.write("(the round-16 verdict's suite-level observation, now per-operator).\n")
print("wrote plans/r17/scaling_probe.md")
EOF
