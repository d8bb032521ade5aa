#!/bin/bash
# ×1000 bit-verification sweep (r13, verdict #2): one query per family,
# method per the ×100 playbook — full-SQL DuckDB replay (sf1_sweep) for
# small outputs, DuckDB EXCEPT-ALL set-difference (bigcompare) for
# answer-volume-bound outputs, validated numpy/union-find mirrors
# (hybrid_sweep) where the monolithic SQL replay is disk/volume-bound.
# Engine dumps come from `graft.Verify /tmp/graft_scale_x1000 /tmp/vx1000`.
# Results recorded in COVERAGE.md §×1000 + BASELINE.md (at commit eeea311).
set -u
SD=${1:-/tmp/graft_scale_x1000}
OD=${2:-/tmp/vx1000}
cd /root/repo
# Final r14 method map (COVERAGE.md §×1000). Excluded with reasons:
#  - d5_langid: vacuous at scale (0 rows — no stopword tokens in the
#    synthetic corpus); d17_token_entropy carries the family instead.
# r14 closes the two r13 oracle walls: d30big (chunked register
# max-merge + item-hash-sliced exact-distinct grounding) and d4bbig
# (chunked sig replay + numpy banding mirror), and adds st7 (the
# stream-stream join, dumped at SPARK_GRAFT_STREAM_PARTS=64) via
# set-difference.
SMALL="d1_exact_dedup d38_classifier_auc j9_salted_join
       j10_fuzzy_ed1 p3_exact_quantiles t6_bls st11_stream_hll"
BIG="d17_token_entropy e7_random_projection o9_global_index s14_fits_scan
     st2_stream_tumbling u6_scd2 st7_stream_join t3_detrend_median"
# r17 (verdict #5): d28 moved from SMALL to the chunked hybrid replay —
# its monolithic DuckDB replay exceeds the box's spill disk (r16 note).
HYB="d15big e3 st14 j11 d30big d4bfast d28big"
rc=0
for q in $SMALL; do
  timeout 7200 python3 tools/sf1_sweep.py "$SD" "$OD" "$q" || rc=1
done
for q in $BIG; do
  timeout 7200 python3 tools/bigcompare.py "$SD" "$OD" "$q" || rc=1
done
for q in $HYB; do
  timeout 10800 python3 tools/hybrid_sweep.py "$SD" "$OD" "$q" || rc=1
done
# r16 (advice #2): the disc-break corpus-scaling ratio assert is
# info-only under default `sbt test` (wall-clock ratios are
# load-sensitive); ENFORCE it here, where the box is dedicated to
# verification — so a plan-shape-preserving timing regression still
# fails a routine gate (DiscPlanSpec pins shape only).
SPARK_GRAFT_TIMING_ASSERTS=1 timeout 3600 \
  sbt -batch "testOnly graft.ScaleSweepSpec" || rc=1
exit $rc
