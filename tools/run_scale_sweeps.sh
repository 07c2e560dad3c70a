#!/usr/bin/env bash
# The standing volume-correctness recipe (SCALE.md "Correctness at scale"):
# run the full DuckDB-oracle gate at the synthetic 10x and 100x dirs.
#
#   bash tools/run_scale_sweeps.sh          # 10x (~20 min) + 100x
#   bash tools/run_scale_sweeps.sh 10x      # just the 10x tier
#   bash tools/run_scale_sweeps.sh longdocs # doc-LENGTH axis (x32 + x128)
#   bash tools/run_scale_sweeps.sh skew     # hot-key SKEW axis (30% hot)
#   bash tools/run_scale_sweeps.sh cluster  # multi-JVM axis (local-cluster)
#   bash tools/run_scale_sweeps.sh cluster10x # multi-JVM x 10x VOLUME axis
#   bash tools/run_scale_sweeps.sh skew-pairs # hot LSH bucket / graph node axis
#   bash tools/run_scale_sweeps.sh pressure  # memory-starvation axis (spill proof)
#   bash tools/run_scale_sweeps.sh pressure-longdocs   # starvation x doc-length product
#   bash tools/run_scale_sweeps.sh cluster-skew-pairs  # pairwise skew x multi-JVM product
#
# Dirs are ensured by tools/scale_probe.py --build-only, invoked
# UNCONDITIONALLY (ADVICE r6: a bare dir-exists guard skipped the LAYOUT
# marker check, so a stale pre-v2 layout would be swept as-is); the build
# itself no-ops when src/replicas/layout match the marker.
#
# Both tiers run with SPARK_GRAFT_GATE_VIA_PARQUET=1 (VERDICT r6 #4):
# query outputs go to parquet sinks and DuckDB does the comparison, so
# the gate needs no driver COLLECTS and no maxResultSize override.  The
# 100x tier still takes a 16g heap: collects are gone but streaming
# state stores + memory-sink rows live in the single local-mode JVM,
# and st6's stream-static join at 60 M facts OOMs an 8g heap (measured
# round 7 — the first 185 queries pass at 8g; the st tail does not).
# On a real cluster that state is spread over executors; the override
# compensates for local[32] putting every executor in one JVM.
set -euo pipefail
cd "$(dirname "$0")/.."

TIER="${1:-both}"
TEN=/tmp/spark_graft_scale/sf1_synth
HUNDRED=/tmp/spark_graft_scale/sf10_synth
# Oracle materialization cache (VERDICT r7 #5): the volume tiers' wall
# tail is the DuckDB oracle side (pr5's recursive CTE ~10 min at 100x);
# cache keyed by (oracle SQL hash, data fingerprint) makes warm re-runs
# skip it while the ENGINE side re-executes every time.
OCACHE=/tmp/spark_graft_oracle_cache

if [ "$TIER" = "10x" ] || [ "$TIER" = "both" ]; then
  python tools/scale_probe.py --build-only >/dev/null
  echo "[scale-sweeps] 10x tier: $TEN"
  SPARK_GRAFT_GATE_VIA_PARQUET=1 SPARK_GRAFT_ORACLE_CACHE="$OCACHE" \
    python tools/check_correctness.py "$TEN"
fi

if [ "$TIER" = "100x" ] || [ "$TIER" = "both" ]; then
  SPARK_GRAFT_SCALE_REPLICAS=100 SPARK_GRAFT_SCALE_DIR="$HUNDRED" \
    python tools/scale_probe.py --build-only >/dev/null
  echo "[scale-sweeps] 100x tier: $HUNDRED"
  SPARK_GRAFT_GATE_VIA_PARQUET=1 SPARK_GRAFT_DRIVER_MEM=16g \
    SPARK_GRAFT_ORACLE_CACHE="$OCACHE" \
    python tools/check_correctness.py "$HUNDRED"
fi

# Doc-LENGTH axis (VERDICT r6 #2): every row-count tier replicates
# documents; this one lengthens them, so super-linear-in-length costs
# (the round-7 CDC lesson) can never hide behind row-count scaling.
# Timing probe at x32 and x128 over the length-sensitive families, plus
# the value-exact oracle gate for the chunk family at the x32 tier.
if [ "$TIER" = "longdocs" ]; then
  SPARK_GRAFT_LONGDOC_MULT=32 python tools/scale_probe.py --longdocs
  SPARK_GRAFT_LONGDOC_MULT=128 python tools/scale_probe.py --longdocs
  SPARK_GRAFT_GATE_VIA_PARQUET=1 SPARK_GRAFT_ORACLE_CACHE="$OCACHE" \
    python tools/check_correctness.py /tmp/spark_graft_scale/longdocs_L32 \
      t25_content_defined_chunks x48_chunk_dedup_ratio \
      d18_containment_pairs d22_lsh_scurve_audit
  # VERDICT r8 #1's bar: the digest-hashed gram pair stages value-exact at
  # x128 doc length (the payload-cap fix verified at the tier it protects).
  SPARK_GRAFT_GATE_VIA_PARQUET=1 SPARK_GRAFT_ORACLE_CACHE="$OCACHE" \
    python tools/check_correctness.py /tmp/spark_graft_scale/longdocs_L128 \
      d18_containment_pairs d22_lsh_scurve_audit
fi

# Hot-key SKEW axis (round 7): the volume tiers are uniform; this tier
# replays the 10x volume with one hot user/customer/source owning ~30%
# of the keyed fact rows, times the keyed join/agg/window/session
# families uniform-vs-skew at EQUAL volume, then value-checks the same
# families against their DuckDB oracles on the skewed dir.
if [ "$TIER" = "skew" ]; then
  python tools/scale_probe.py --skew
  SPARK_GRAFT_GATE_VIA_PARQUET=1 \
    python tools/check_correctness.py /tmp/spark_graft_scale/skew10x_p30 \
      q3_shipping_priority j2_multiway_left_enrichment j7_asof_join \
      w1_topk_per_group w14_cohort_retention w16_activity_streaks \
      t26_chat_turns_audit a7_argmax_latest_per_key x1_salted_agg_hot_keys \
      x6_salted_join x48_chunk_dedup_ratio x16_source_mixture_resample
fi

# Pairwise-SKEW axis (VERDICT r7 #4): the hot-key tier keeps blocked
# columns uniform by design, so d14's bucket cap and the graph family's
# dense-component behavior were unprobed under the Zipfian shape they
# exist for.  This tier builds a pct%-of-corpus near-dup cluster (one hot
# LSH bucket family, one dense graph component, one hot embedding label
# block), times the pairwise families uniform-vs-skew with result-row
# counts (output grows combinatorially BY CONSTRUCTION — the bar is
# runtime tracking that output, d14 near-flat under its cap), then
# value-checks the same queries against their DuckDB oracles on the
# skewed dir.
if [ "$TIER" = "skew-pairs" ]; then
  python tools/scale_probe.py --skew-pairs
  SPARK_GRAFT_GATE_VIA_PARQUET=1 SPARK_GRAFT_ORACLE_CACHE="$OCACHE" \
    python tools/check_correctness.py /tmp/spark_graft_scale/skewpairs_p10 \
      d3_lsh_candidate_pairs d4_jaccard_verified_pairs d14_lsh_capped_pairs \
      d9_neardup_components d12_semantic_dedup pr1_pagerank_neardup \
      pr2_triangle_count pr4_cc_alternating pr5_bfs_hops \
      pr7_partition_modularity
fi

# Multi-JVM axis (round 7): every other tier runs local[32] — ONE JVM,
# where broadcast is a pointer share, shuffles never serialize across a
# socket, and pickled-by-reference UDFs trivially import.  This tier
# reruns the FULL oracle gate on `local-cluster[4,8,6144]`: 4 real
# executor JVMs + separate Python workers, real closure/broadcast
# serialization, netty shuffle — the closest a single host gets to the
# 1000-executor layout the engine is designed for.  PYTHONPATH is
# exported so executor Python workers can import the engine package
# (UDFs defined in modules pickle by REFERENCE); on a real cluster the
# same contract is met by --py-files or a shipped wheel.
if [ "$TIER" = "cluster" ]; then
  SPARK_GRAFT_MASTER='local-cluster[4,8,6144]' \
    PYTHONPATH="$PWD${PYTHONPATH:+:$PYTHONPATH}" \
    python tools/check_correctness.py /root/testdata/sf0.01
fi

# Multi-JVM x VOLUME axis (VERDICT r7 #3): the cluster tier above tops out
# at sf0.01 while the volume tiers run single-JVM — so before round 8 no
# BIG shuffle had ever crossed a real socket.  This tier reruns the FULL
# oracle gate at 10x volume (6 M facts) on 4 real executor JVMs: netty
# shuffle, real broadcast/closure serialization, separate Python workers.
if [ "$TIER" = "cluster10x" ]; then
  python tools/scale_probe.py --build-only >/dev/null
  echo "[scale-sweeps] cluster10x tier: $TEN on local-cluster[4,8,6144]"
  SPARK_GRAFT_MASTER='local-cluster[4,8,6144]' \
    PYTHONPATH="$PWD${PYTHONPATH:+:$PYTHONPATH}" \
    SPARK_GRAFT_GATE_VIA_PARQUET=1 SPARK_GRAFT_ORACLE_CACHE="$OCACHE" \
    python tools/check_correctness.py "$TEN"
fi

# Axis PRODUCTS (VERDICT r8 #4): the x43 lesson is that axis products
# catch what single axes miss — x43 was green under 10x volume AND under
# plain local-cluster, and failed only under their PRODUCT.  These two
# tiers multiply the remaining untested pairs: the hot-key skew families
# and the doc-length families, each re-gated on real executor JVMs
# (netty shuffle, real broadcast/closure serialization, separate Python
# workers).
if [ "$TIER" = "cluster-skew" ]; then
  python tools/scale_probe.py --skew --build-only
  echo "[scale-sweeps] cluster-skew tier: skew10x_p30 on local-cluster[4,8,6144]"
  SPARK_GRAFT_MASTER='local-cluster[4,8,6144]' \
    PYTHONPATH="$PWD${PYTHONPATH:+:$PYTHONPATH}" \
    SPARK_GRAFT_GATE_VIA_PARQUET=1 SPARK_GRAFT_ORACLE_CACHE="$OCACHE" \
    python tools/check_correctness.py /tmp/spark_graft_scale/skew10x_p30 \
      q3_shipping_priority j2_multiway_left_enrichment j7_asof_join \
      w1_topk_per_group w14_cohort_retention w16_activity_streaks \
      t26_chat_turns_audit a7_argmax_latest_per_key x1_salted_agg_hot_keys \
      x6_salted_join x48_chunk_dedup_ratio x16_source_mixture_resample
fi

# Remaining axis PRODUCTS (VERDICT r9 #6): pressure x longdocs and
# skew-pairs x cluster were the two untested pairs, and both the r8 (x43,
# cluster x volume) and r9 (t14, cluster x length) bugs surfaced only on
# products.
#
# pressure-longdocs: the length-sensitive heavy families at x128 doc
# length on TWO starved 2g executors (~260 MB per concurrent task) —
# content-scaled shuffles (gram digests, chunk hashes, bigram counts)
# must spill-or-stream, never OOM, and stay value-exact.  The spill
# report is informational here (no --require-spill): the content columns
# are digest-capped BY DESIGN, so the tier may legitimately not spill —
# the contract is survive-starved-and-exact, not spill-happened.
if [ "$TIER" = "pressure-longdocs" ]; then
  SPARK_GRAFT_LONGDOC_MULT=128 python tools/scale_probe.py --longdocs --build-only
  EVLOG=/tmp/spark_graft_pressure_ld_evlog
  rm -rf "$EVLOG" && mkdir -p "$EVLOG"
  echo "[scale-sweeps] pressure-longdocs tier: longdocs_L128 on local-cluster[2,4,2048]"
  PYSPARK_SUBMIT_ARGS="--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=$EVLOG --conf spark.eventLog.compress=false pyspark-shell" \
  SPARK_GRAFT_MASTER='local-cluster[2,4,2048]' SPARK_GRAFT_CPUS=8 \
  PYTHONPATH="$PWD${PYTHONPATH:+:$PYTHONPATH}" SPARK_GRAFT_GATE_VIA_PARQUET=1 \
  SPARK_GRAFT_ORACLE_CACHE="$OCACHE" \
    python tools/check_correctness.py /tmp/spark_graft_scale/longdocs_L128 \
      t8_tfidf_top_terms t14_bigram_lm_score d10_ngram_contamination \
      d17_duplicate_spans d18_containment_pairs d22_lsh_scurve_audit \
      t25_content_defined_chunks d23_chunk_contamination x48_chunk_dedup_ratio
  python tools/spill_report.py "$EVLOG" || true
fi

# cluster-skew-pairs: the pairwise hot-bucket/dense-component families
# re-gated on real executor JVMs — the skew-pairs dir's combinatorial
# output crossing a real netty shuffle with real broadcast serialization.
if [ "$TIER" = "cluster-skew-pairs" ]; then
  python tools/scale_probe.py --skew-pairs --build-only
  echo "[scale-sweeps] cluster-skew-pairs tier: skewpairs_p10 on local-cluster[4,8,6144]"
  SPARK_GRAFT_MASTER='local-cluster[4,8,6144]' \
    PYTHONPATH="$PWD${PYTHONPATH:+:$PYTHONPATH}" \
    SPARK_GRAFT_GATE_VIA_PARQUET=1 SPARK_GRAFT_ORACLE_CACHE="$OCACHE" \
    python tools/check_correctness.py /tmp/spark_graft_scale/skewpairs_p10 \
      d3_lsh_candidate_pairs d4_jaccard_verified_pairs d14_lsh_capped_pairs \
      d9_neardup_components d12_semantic_dedup pr1_pagerank_neardup \
      pr2_triangle_count pr4_cc_alternating pr5_bfs_hops \
      pr7_partition_modularity
fi

if [ "$TIER" = "cluster-longdocs" ]; then
  SPARK_GRAFT_LONGDOC_MULT=32 python tools/scale_probe.py --longdocs --build-only
  echo "[scale-sweeps] cluster-longdocs tier: longdocs_L32 on local-cluster[4,8,6144]"
  SPARK_GRAFT_MASTER='local-cluster[4,8,6144]' \
    PYTHONPATH="$PWD${PYTHONPATH:+:$PYTHONPATH}" \
    SPARK_GRAFT_GATE_VIA_PARQUET=1 SPARK_GRAFT_ORACLE_CACHE="$OCACHE" \
    python tools/check_correctness.py /tmp/spark_graft_scale/longdocs_L32 \
      t25_content_defined_chunks x48_chunk_dedup_ratio \
      d18_containment_pairs d22_lsh_scurve_audit \
      d10_ngram_contamination d17_duplicate_spans t8_tfidf_top_terms \
      t2_quality_score t14_bigram_lm_score d23_chunk_contamination \
      d25_chunk_contamination_capped
fi

# Memory-PRESSURE axis (round 7): every other tier gives Spark all the
# memory it wants; this one starves it.  Heavy sort/join/agg/window
# queries run at 100x volume (60 M facts) on TWO 2g executors (≈1 GB
# unified memory each, ~260 MB per concurrent task) — the sort-merge
# sorts are several GB per task and MUST spill.  The contract is
# "slower, not wrong": the oracle gate must stay value-exact, and
# spill_report.py walks the event log's task metrics to prove disk
# spill actually happened (a zero-spill pass proves nothing and fails
# the tier — at 10x the engine's pruned/partial-agg shuffle payloads
# totalled 0.12 GiB across twelve heavy queries and NOTHING spilled
# even on 1g executors, which is the design working, not pressure).
if [ "$TIER" = "pressure" ]; then
  SPARK_GRAFT_SCALE_REPLICAS=100 SPARK_GRAFT_SCALE_DIR="$HUNDRED" \
    python tools/scale_probe.py --build-only >/dev/null
  EVLOG=/tmp/spark_graft_pressure_evlog
  rm -rf "$EVLOG" && mkdir -p "$EVLOG"
  PYSPARK_SUBMIT_ARGS="--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=$EVLOG --conf spark.eventLog.compress=false pyspark-shell" \
  SPARK_GRAFT_MASTER='local-cluster[2,4,2048]' SPARK_GRAFT_CPUS=8 \
  PYTHONPATH="$PWD${PYTHONPATH:+:$PYTHONPATH}" SPARK_GRAFT_GATE_VIA_PARQUET=1 \
    python tools/check_correctness.py "$HUNDRED" \
      q1_pricing_summary w1_topk_per_group a7_argmax_latest_per_key \
      x44_distributed_deciles j4_inner_fact_dim j5_full_outer \
      d1_exact_dedup t8_tfidf_top_terms
  python tools/spill_report.py "$EVLOG" --require-spill
fi
