"""Empirical scaling probe: does each operator family's runtime grow
~linearly with input volume?

The local test data tops out at sf0.1, so the plan-shape arguments in
SCALE.md (bounded windows, banded LSH, broadcastable dims, ...) are
verified on plans, not on measured growth.  This tool closes that gap:
it materializes a synthetic 10x scale-up of sf0.1 (~"sf1") under /tmp
and times a representative query per family at both scales.  A family
whose ratio is far above the replication factor is superlinear — the
exact failure mode (all-pairs joins, one-reducer sorts, per-group state
that grows with corpus size) the 100 TB design is supposed to exclude.

How the scale-up stays honest (pure replication would NOT be):

- **FK-consistent block remap.**  Each fact table is unioned R times
  with every key shifted into a per-replica block (``key + r * domain``)
  using the SAME domain constant on both sides of every FK edge
  (customer/orders on custkey, orders/lineitem on orderkey, ...), so
  join fan-outs scale linearly instead of quadratically and per-key
  group sizes stay constant — which is how real growth looks (more
  customers, not 10 copies of each customer).
- **Dimensions stay fixed.**  region/nation are NOT replicated: real
  scale-up grows facts against bounded dims, and the broadcast-ability
  of the dim side is exactly what we want to keep testing.
- **Text is per-replica letter-translated.**  Verbatim 10x-copied text
  would make every document a 10-way near-duplicate, so dedup pair
  counts would grow O(R^2) by construction and the probe would "detect"
  superlinearity the engine didn't cause.  Translating a rotating
  alphabet per replica keeps each replica's duplicate structure internal
  (dup groups scale in NUMBER, not size) while preserving lengths,
  whitespace, and per-doc statistics.
- **Low-id anchors survive.**  Block remap keeps replica 0 identical to
  the source, so queries anchored on small ids (``vec_id < 8`` IVF
  centroids/queries) keep a fixed probe set against a 10x corpus — the
  realistic "fixed workload, growing corpus" shape.
- **Blocking keys scale in NUMBER, not size.**  ``embeddings.label`` and
  ``documents.source`` are remapped per replica (label by domain shift,
  source by suffix) for the same reason the text is translated: replicas
  copy each embedding VERBATIM, so an unscaled label block hands every
  vector R-1 exact cosine-1.0 clones and the label/source-blocked pair
  operators (d6/d7/d12) grow O(R²) by scale-up construction, not by
  engine behavior.  Real growth adds clusters/sources alongside members
  (d12's docstring: label stands in for a k-means assignment, and k
  scales with n — the SemDeDup design); replica-internal blocks model
  that.  Replica 0 keeps the original labels/sources.

Usage:
    python tools/scale_probe.py                  # build (once) + probe
    python tools/scale_probe.py --rebuild        # force rebuild
    python tools/scale_probe.py --build-only     # ensure dir + layout, no probe
    python tools/scale_probe.py --longdocs       # doc-LENGTH tier (see below)
    python tools/scale_probe.py --skew           # hot-key SKEW tier (see SKEW_PCT)
    python tools/scale_probe.py --skew-pairs     # hot LSH bucket / graph node tier
    python tools/scale_probe.py q1_pricing_summary d3_lsh_candidate_pairs

Doc-length tier (``--longdocs``, VERDICT r6 #2): every row-count tier
replicates DOCUMENTS, so operators whose cost is super-linear in
``length(text)`` (the round-6 CDC chunk defect) pass every volume gate
while hiding a quadratic.  This mode builds a dir with the SAME document
COUNT but text ×SPARK_GRAFT_LONGDOC_MULT longer — each repetition runs
through a distinct rotating-alphabet translation (the same honesty trick
as replicas: lengths preserved per repeat, shingle/chunk content unique
per repeat, so chunk-dedup mass doesn't explode by construction; at
mult > 108 the translation wraps and intra-doc duplicate chunks appear —
fine for timing, noted for interpretation) — then times the text/dedup/
chunk families at both lengths.  The bar: ratio ≈ mult (linear per byte);
the pre-rewrite chunk family would show ratio ≈ mult² here.

Output: one human-readable table on stderr + one JSON line on stdout
(per-query base/scaled seconds, ratio, and the replication factor).
Results land in SCALE.md's "Measured scaling" section each round.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from data_etl_scripts_showcase__spark.queries import load_all  # noqa: E402
from data_etl_scripts_showcase__spark.session import get_session  # noqa: E402

REPLICAS = int(os.environ.get("SPARK_GRAFT_SCALE_REPLICAS", "10"))
SRC_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.environ.get(
    "SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale/sf1_synth"
)

# One representative per operator family; pure-batch only (file-IO and
# streaming queries time their sinks/triggers, not data-volume scaling).
PROBE_QUERIES = [
    "q1_pricing_summary",  # full-scan agg over lineitem
    "q3_shipping_priority",  # 3-way join + top-k
    "j2_multiway_left_enrichment",  # multi-join enrichment
    "j7_asof_join",  # as-of join over events
    "w1_topk_per_group",  # per-group window top-k
    "w14_cohort_retention",  # cohort self-join retention
    "d1_exact_dedup",  # exact hash dedup
    "d3_lsh_candidate_pairs",  # MinHash banded LSH
    "v1_knn_bruteforce",  # fixed probes x growing corpus
    "v4_knn_ivf",  # IVF cell-probed ANN
    "t2_quality_score",  # per-doc text scoring
    "t25_content_defined_chunks",  # CDC rolling-hash chunking
    "pr4_cc_alternating",  # min-label CC over a checkpointed edge leaf
    "x44_distributed_deciles",  # exact ntile without global sort
    "x55_shard_manifest",  # token-budget prefix-sum packing
    "x57_seeded_epoch_shuffle",  # seeded per-epoch training order
    # VERDICT r5 #4: families with non-batch scaling risks — per-partition
    # Python workers (enrichment mapInPandas) and streaming state stores
    # (state rows vs input rows) — need measured curves too.
    "e1_enrichment_flagship",  # mapInPandas keyed-fetch fan-out
    "e4_enrichment_cross_run_cache",  # cross-run cache anti-join
    "st3_session_windows",  # session-window aggregate (batch plan)
    "st7_stream_stream_interval_join",  # REAL stream-stream join + state
]

# Per-table key remap: every listed column is shifted by
# r * (max(col-domain)+1), with the domain shared across FK edges.
# Domain name -> (table, column) used to size it.
DOMAINS = {
    "cust": ("customer", "c_custkey"),
    "supp": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "ord": ("orders", "o_orderkey"),
    "event": ("events", "event_id"),
    "user": ("events", "user_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
    "lab": ("embeddings", "label"),
}

KEYMAP = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "ord", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "ord", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec", "label": "lab"},
}

# Build-layout version: bumped when the scale-up construction changes so
# existing dirs rebuild (the marker check compares this line too).
LAYOUT = "v2-blocked-keys"

# --- doc-length tier (VERDICT r6 #2) ---
LONGDOC_MULT = int(os.environ.get("SPARK_GRAFT_LONGDOC_MULT", "32"))
LONGDOC_DIR = os.environ.get(
    "SPARK_GRAFT_LONGDOC_DIR",
    f"/tmp/spark_graft_scale/longdocs_L{LONGDOC_MULT}",
)
LONGDOC_LAYOUT = "v1-translated-repeats"
# The families whose cost is a function of document LENGTH, one probe per
# shape: chunking (t25/x48/d23/d25), shingling+broadcast join (d10),
# token-window dedup (d17), tf-idf explode+join (t8), per-doc expression
# scoring (t2), bigram LM (t14).
LONGDOC_QUERIES = [
    "t25_content_defined_chunks",
    "x48_chunk_dedup_ratio",
    "d23_chunk_contamination",
    "d25_chunk_contamination_capped",
    "t8_tfidf_top_terms",
    "d10_ngram_contamination",
    "d17_duplicate_spans",
    "t2_quality_score",
    "t14_bigram_lm_score",
    # VERDICT r8 #1: the gram-array pair stages whose join payload grows
    # with doc LENGTH — now hashed to 8-byte digests; this tier is the
    # measurement that the payload cap holds (d22 additionally reports
    # its broadcast payload estimate in SCALE.md).
    "d18_containment_pairs",
    "d22_lsh_scurve_audit",
]

DIM_TABLES = ["region", "nation"]

# ---------------------------------------------------------------------------
# Skew tier (round 7): every volume tier is UNIFORM — replicas spread keys
# evenly — but real corpora are Zipfian: one power user, one bot source, one
# mega-customer.  This tier rebuilds the 10x dir at the SAME total volume
# with a hot entity owning ~SPARK_GRAFT_SKEW_PCT% of the keyed fact rows:
#   events.user_id    — pmod(user_id, 100) < pct collapses to one hot user
#   orders.o_custkey  — same collapse onto one hot customer
#   documents.source  — pct% of docs move to one hot source
# Only FK/grouping columns are remapped (row identities, payloads, and the
# pairwise-blocked columns — embeddings.label — stay untouched: label-blocked
# pair operators are quadratic WITHIN a block by design, so skewing the
# block key would manufacture O((pct·n)²) pairs by construction, the same
# artifact the v2 blocked-key layout exists to prevent).
# The probe then times each keyed join/agg/window/session family at the
# UNIFORM 10x dir vs the SKEWED dir — same rows, different distribution —
# so ratio ≈ 1 means skew-resilient and the gap is attributable to skew
# alone.  Per-entity sequential logic (sessions, streaks, dialogue audits)
# is irreducibly bounded below by the hot entity's share; the bar is "no
# blowup beyond that share, no spill-death", not ratio = 1.
SKEW_PCT = int(os.environ.get("SPARK_GRAFT_SKEW_PCT", "30"))
SKEW_DIR = os.environ.get(
    "SPARK_GRAFT_SKEW_DIR", f"/tmp/spark_graft_scale/skew10x_p{SKEW_PCT}"
)
SKEW_LAYOUT = "v1-hot-entity"

SKEW_QUERIES = [
    "q3_shipping_priority",  # customer⋈orders⋈lineitem through the hot custkey
    "j2_multiway_left_enrichment",  # multi-dim enrichment joins
    "j7_asof_join",  # per-user as-of over events (hot-user window)
    "w1_topk_per_group",  # rank per o_custkey (hot-customer partition)
    "w14_cohort_retention",  # per-user cohort self-join
    "w16_activity_streaks",  # per-user consecutive-day islands
    "t26_chat_turns_audit",  # per-user dialogue windows
    "a7_argmax_latest_per_key",  # per-key argmax
    "x1_salted_agg_hot_keys",  # THE salted aggregation
    "x6_salted_join",  # THE salted join (events.user_id side is skewed)
    "st3_session_windows",  # per-user session windows
    "x48_chunk_dedup_ratio",  # per-source distinct-count with a hot source
]

# ---------------------------------------------------------------------------
# Pairwise-skew tier (VERDICT r7 #4): the hot-KEY tier above deliberately
# keeps the pairwise-blocked columns uniform (skewing a block key
# manufactures O((pct·n)²) pairs by construction), which means the very
# defenses built for Zipfian corpora — d14's LSH bucket cap, the graph
# family's behavior on a dense near-dup component — were never probed
# under the shape they exist for.  This tier builds that shape ON PURPOSE
# and holds the engine to a different bar:
#   documents  — pct% of docs (doc_id >= 32, anchors protected) become
#                near-duplicates of ONE template (shared text + a unique
#                per-doc tail token), so one LSH bucket family owns pct%
#                of the corpus and the verified near-dup graph gains one
#                dense component of pct%·n nodes;
#   embeddings — pct% of vectors (vec_id >= 8, IVF anchors protected)
#                collapse onto one direction (cos(i) + per-vec jitter)
#                under ONE fresh label (777), so the label-blocked
#                semantic pair stage faces a pct%-of-corpus block.
# The bar is NOT ratio ≈ 1: candidate pairs / triangles / component sizes
# grow combinatorially in the hot share BY CONSTRUCTION (C(500,2) pairs,
# C(500,3) triangles at pct=10 of 5000 docs).  The bar is (a) runtime
# bounded by that combinatorial output — d14's cap bounds ITS output, so
# d14 specifically must stay near-flat; (b) value-exact vs the DuckDB
# oracle on the skewed dir (run_scale_sweeps.sh skew-pairs runs the gate).
SKEWPAIR_PCT = int(os.environ.get("SPARK_GRAFT_SKEWPAIR_PCT", "10"))
SKEWPAIR_DIR = os.environ.get(
    "SPARK_GRAFT_SKEWPAIR_DIR",
    f"/tmp/spark_graft_scale/skewpairs_p{SKEWPAIR_PCT}",
)
SKEWPAIR_LAYOUT = "v1-hot-cluster"

SKEWPAIR_QUERIES = [
    "d3_lsh_candidate_pairs",  # uncapped LSH: cost tracks the hot bucket
    "d4_jaccard_verified_pairs",  # verify stage over the hot candidates
    "d14_lsh_capped_pairs",  # THE bucket cap — must bound the hot bucket
    "d9_neardup_components",  # min-label CC over the dense component
    "d12_semantic_dedup",  # label-blocked pair stage, hot label block
    "pr1_pagerank_neardup",  # pagerank with one dense component
    "pr2_triangle_count",  # triangle census: C(hot,3) by construction
    "pr4_cc_alternating",  # min-label CC on a checkpointed edge leaf
    "pr5_bfs_hops",  # multi-source BFS through the hot node
    "pr7_partition_modularity",  # modularity with one giant cluster
]

# ~300 ASCII chars of template text; every hot doc = template + " h<doc_id>"
# (high shingle overlap -> same minhash bands -> one hot bucket; pairwise
# Jaccard >> 0.5 -> the verified near-dup graph gains a pct%-clique).
_SKEWPAIR_TEMPLATE = (
    "the quick brown fox jumps over the lazy dog while the rain in spain "
    "falls mainly on the plain and every good boy deserves fudge because "
    "pack my box with five dozen liquor jugs so how vexingly quick daft "
    "zebras jump when the five boxing wizards jump quickly over them all"
)


def build_skew_pairs(spark: SparkSession, src: str, out: str, pct: int) -> None:
    """Copy ``src`` with a pct% near-duplicate cluster in documents and a
    pct% one-label embedding cluster (see the SKEWPAIR_PCT comment)."""
    os.makedirs(out, exist_ok=True)
    for tbl in list(KEYMAP) + DIM_TABLES:
        df = spark.read.parquet(f"{src}/{tbl}.parquet")
        if tbl == "documents":
            hot = (F.pmod("doc_id", F.lit(100)) < pct) & (F.col("doc_id") >= 32)
            text = F.when(
                hot,
                F.concat(
                    F.lit(_SKEWPAIR_TEMPLATE), F.lit(" h"), F.col("doc_id")
                ),
            ).otherwise(F.col("text"))
            df = df.withColumn("text", text).withColumn(
                "n_chars",
                F.length("text").cast(dict(df.dtypes)["n_chars"]),
            )
        elif tbl == "embeddings":
            hot = (F.pmod("vec_id", F.lit(100)) < pct) & (F.col("vec_id") >= 8)
            hot_vec = F.expr(
                "transform(sequence(1, 64), i -> "
                "cast(cos(cast(i as double)) "
                "+ cast(pmod(vec_id, 997) as double) * 1e-5 as float))"
            )
            df = df.withColumn(
                "embedding", F.when(hot, hot_vec).otherwise(F.col("embedding"))
            ).withColumn(
                "label",
                F.when(hot, F.lit(777))
                .otherwise(F.col("label"))
                .cast(dict(df.dtypes)["label"]),
            )
        # coalesce(1): match the single-file source layout so the probe's
        # uniform-vs-skew ratio is distribution-only, not file-layout
        df.coalesce(1).write.mode("overwrite").parquet(f"{out}/{tbl}.parquet")
    with open(f"{out}/.skewpairs_built", "w") as f:
        f.write(f"src={src}\npct={pct}\nlayout={SKEWPAIR_LAYOUT}\n")


def main_skew_pairs() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    rebuild = "--rebuild" in sys.argv
    names = args or SKEWPAIR_QUERIES

    spark = get_session("scale_probe_skewpairs")
    registry = load_all()
    missing = [n for n in names if n not in registry]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        sys.exit(2)

    marker = f"{SKEWPAIR_DIR}/.skewpairs_built"
    want = f"src={SRC_DIR}\npct={SKEWPAIR_PCT}\nlayout={SKEWPAIR_LAYOUT}\n"
    if not rebuild and os.path.exists(marker):
        with open(marker) as f:
            if f.read() != want:
                rebuild = True
    if rebuild or not os.path.exists(marker):
        print(
            f"[scale_probe] building {SKEWPAIR_PCT}%-hot-cluster pairwise-"
            f"skew tier of {SRC_DIR} at {SKEWPAIR_DIR} ...",
            file=sys.stderr,
        )
        t0 = time.time()
        build_skew_pairs(spark, SRC_DIR, SKEWPAIR_DIR, SKEWPAIR_PCT)
        print(
            f"[scale_probe] built in {time.time() - t0:.1f}s", file=sys.stderr
        )
    if "--build-only" in sys.argv:
        print(f"[scale_probe] dir ready: {SKEWPAIR_DIR}", file=sys.stderr)
        return

    def run_count(name: str, sf_dir: str) -> tuple[float, int]:
        t0 = time.time()
        n = registry[name].fn(spark, sf_dir).count()
        return time.time() - t0, n

    results = {}
    for name in names:
        run_count(name, SRC_DIR)
        base, n_base = run_count(name, SRC_DIR)
        run_count(name, SKEWPAIR_DIR)
        skew, n_skew = run_count(name, SKEWPAIR_DIR)
        ratio = skew / base if base > 0 else float("inf")
        results[name] = {
            "uniform_s": round(base, 3),
            "skew_s": round(skew, 3),
            "ratio_vs_uniform": round(ratio, 2),
            "rows_uniform": n_base,
            "rows_skew": n_skew,
        }
        print(
            f"[scale_probe] {name:34s} {base:7.2f}s ({n_base} rows) -> "
            f"{skew:7.2f}s ({n_skew} rows)  x{ratio:6.2f} vs uniform",
            file=sys.stderr,
        )

    print(
        json.dumps(
            {
                "metric": "skewpair_probe",
                "hot_pct": SKEWPAIR_PCT,
                "uniform_dir": SRC_DIR,
                "skew_dir": SKEWPAIR_DIR,
                "queries": results,
            }
        )
    )


# Rotating translate alphabets: high-frequency letters, both cases, so
# each replica's text differs from every other replica's in most
# characters (shingle/fingerprint families diverge across replicas).
# TWO independent alphabets give len(A)*len(B) distinct translations —
# a single alphabet wraps at len(A) replicas and the wrap-around hands
# two replicas the identical translation (caught by the DuckDB smoke
# validation: a 9-letter alphabet made replica 9 a verbatim copy of
# replica 0, re-creating exactly the cross-replica dup explosion the
# translation exists to prevent).
_ALPHA_A = "etaoinshrdlc"  # 12 rotations
_ALPHA_B = "uwyfgbmpv"  # x 9 rotations = 108 distinct replicas
assert REPLICAS <= len(_ALPHA_A) * len(_ALPHA_B)


def _rot_translate(col: F.Column, alpha: str, k: int) -> F.Column:
    if k == 0:
        return col
    rot = alpha[k:] + alpha[:k]
    return F.translate(
        F.translate(col, alpha, rot), alpha.upper(), rot.upper()
    )


def _translate_text(col: F.Column, r: int) -> F.Column:
    ka = r % len(_ALPHA_A)
    kb = (r // len(_ALPHA_A)) % len(_ALPHA_B)
    return _rot_translate(_rot_translate(col, _ALPHA_A, ka), _ALPHA_B, kb)


def build_scaleup(spark: SparkSession, src: str, out: str, replicas: int) -> None:
    os.makedirs(out, exist_ok=True)
    doms = {}
    for name, (tbl, col) in DOMAINS.items():
        m = (
            spark.read.parquet(f"{src}/{tbl}.parquet")
            .agg(F.max(col).cast("bigint"))
            .first()[0]
        )
        doms[name] = int(m) + 1
    for tbl in DIM_TABLES:
        spark.read.parquet(f"{src}/{tbl}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{tbl}.parquet")
    for tbl, keys in KEYMAP.items():
        base = spark.read.parquet(f"{src}/{tbl}.parquet")
        dtypes = dict(base.dtypes)
        parts = []
        for r in range(replicas):
            cols = []
            for c in base.columns:
                if c in keys:
                    # preserve the declared key dtype (bigint keys stay
                    # bigint after the shift; int dims are never remapped)
                    cols.append(
                        (F.col(c) + F.lit(r * doms[keys[c]]))
                        .cast(dtypes[c])
                        .alias(c)
                    )
                elif tbl == "documents" and c == "text":
                    cols.append(_translate_text(F.col(c), r).alias(c))
                elif tbl == "documents" and c == "source":
                    # blocking key scales in NUMBER (see module docstring);
                    # replica 0 keeps the original source names
                    cols.append(
                        (
                            F.col(c)
                            if r == 0
                            else F.concat(F.col(c), F.lit(f"_r{r}"))
                        ).alias(c)
                    )
                else:
                    cols.append(F.col(c))
            parts.append(base.select(*cols))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        n_files = max(4, min(32, df.rdd.getNumPartitions()))
        df.repartition(n_files).write.mode("overwrite").parquet(
            f"{out}/{tbl}.parquet"
        )
    with open(f"{out}/.scale_probe_built", "w") as f:
        f.write(f"src={src}\nreplicas={replicas}\nlayout={LAYOUT}\n")


def build_longdocs(spark: SparkSession, src: str, out: str, mult: int) -> None:
    """Same tables, same document COUNT, text ×mult longer (per-repeat
    rotating-alphabet translation keeps repeated content unique)."""
    os.makedirs(out, exist_ok=True)
    n_trans = len(_ALPHA_A) * len(_ALPHA_B)
    for tbl in list(KEYMAP) + DIM_TABLES:
        if tbl == "documents":
            continue
        spark.read.parquet(f"{src}/{tbl}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{tbl}.parquet")
    d = spark.read.parquet(f"{src}/documents.parquet")
    dtypes = dict(d.dtypes)
    long_text = F.concat_ws(
        " ", *[_translate_text(F.col("text"), r % n_trans) for r in range(mult)]
    )
    cols = []
    for c in d.columns:
        if c == "text":
            cols.append(long_text.alias("text"))
        elif c == "n_chars":
            cols.append(F.length(long_text).cast(dtypes[c]).alias(c))
        else:
            cols.append(F.col(c))
    # long rows are ~mult× wider: spread them so one task's batch fits
    d.select(*cols).repartition(32).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    with open(f"{out}/.longdocs_built", "w") as f:
        f.write(f"src={src}\nmult={mult}\nlayout={LONGDOC_LAYOUT}\n")


def build_skew(spark: SparkSession, src: str, out: str, pct: int) -> None:
    """Copy the uniform 10x dir with hot-entity key collapses (see the
    SKEW_PCT comment): same rows, same payloads, Zipf-ish distribution."""
    os.makedirs(out, exist_ok=True)
    for tbl in list(KEYMAP) + DIM_TABLES:
        df = spark.read.parquet(f"{src}/{tbl}.parquet")
        if tbl == "events":
            hot = df.agg(F.min("user_id")).first()[0]
            df = df.withColumn(
                "user_id",
                F.when(F.pmod("user_id", F.lit(100)) < pct, F.lit(hot))
                .otherwise(F.col("user_id"))
                .cast(dict(df.dtypes)["user_id"]),
            )
        elif tbl == "orders":
            hot = df.agg(F.min("o_custkey")).first()[0]
            df = df.withColumn(
                "o_custkey",
                F.when(F.pmod("o_custkey", F.lit(100)) < pct, F.lit(hot))
                .otherwise(F.col("o_custkey"))
                .cast(dict(df.dtypes)["o_custkey"]),
            )
        elif tbl == "documents":
            df = df.withColumn(
                "source",
                F.when(
                    F.pmod("doc_id", F.lit(100)) < pct, F.lit("src_hot")
                ).otherwise(F.col("source")),
            )
        df.write.mode("overwrite").parquet(f"{out}/{tbl}.parquet")
    with open(f"{out}/.skew_built", "w") as f:
        f.write(f"src={src}\npct={pct}\nlayout={SKEW_LAYOUT}\n")


def _ensure_scaleup(spark: SparkSession) -> None:
    """Build (or rebuild on marker mismatch) the uniform scale-up dir."""
    marker = f"{OUT_DIR}/.scale_probe_built"
    want = f"src={SRC_DIR}\nreplicas={REPLICAS}\nlayout={LAYOUT}\n"
    fresh = os.path.exists(marker) and open(marker).read() == want
    if not fresh:
        print(
            f"[scale_probe] building {REPLICAS}x scale-up of {SRC_DIR} "
            f"at {OUT_DIR} ...",
            file=sys.stderr,
        )
        t0 = time.time()
        build_scaleup(spark, SRC_DIR, OUT_DIR, REPLICAS)
        print(
            f"[scale_probe] built in {time.time() - t0:.1f}s", file=sys.stderr
        )


def main_skew() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    rebuild = "--rebuild" in sys.argv
    names = args or SKEW_QUERIES

    spark = get_session("scale_probe_skew")
    registry = load_all()
    missing = [n for n in names if n not in registry]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        sys.exit(2)

    _ensure_scaleup(spark)  # the uniform baseline AND the skew source
    marker = f"{SKEW_DIR}/.skew_built"
    want = f"src={OUT_DIR}\npct={SKEW_PCT}\nlayout={SKEW_LAYOUT}\n"
    if not rebuild and os.path.exists(marker):
        with open(marker) as f:
            if f.read() != want:
                rebuild = True
    if rebuild or not os.path.exists(marker):
        print(
            f"[scale_probe] building {SKEW_PCT}%-hot skew tier of "
            f"{OUT_DIR} at {SKEW_DIR} ...",
            file=sys.stderr,
        )
        t0 = time.time()
        build_skew(spark, OUT_DIR, SKEW_DIR, SKEW_PCT)
        print(
            f"[scale_probe] built in {time.time() - t0:.1f}s", file=sys.stderr
        )
    if "--build-only" in sys.argv:
        print(f"[scale_probe] dir ready: {SKEW_DIR}", file=sys.stderr)
        return

    results = {}
    for name in names:
        _run_once(registry, name, spark, OUT_DIR)
        base = _run_once(registry, name, spark, OUT_DIR)
        _run_once(registry, name, spark, SKEW_DIR)
        skew = _run_once(registry, name, spark, SKEW_DIR)
        ratio = skew / base if base > 0 else float("inf")
        results[name] = {
            "uniform_s": round(base, 3),
            "skew_s": round(skew, 3),
            "ratio_vs_uniform": round(ratio, 2),
        }
        print(
            f"[scale_probe] {name:34s} {base:7.2f}s -> {skew:7.2f}s  "
            f"x{ratio:6.2f} vs uniform (same volume)",
            file=sys.stderr,
        )

    print(
        json.dumps(
            {
                "metric": "skew_probe",
                "hot_pct": SKEW_PCT,
                "uniform_dir": OUT_DIR,
                "skew_dir": SKEW_DIR,
                "queries": results,
            }
        )
    )


def _run_once(registry, name: str, spark: SparkSession, sf_dir: str) -> float:
    t0 = time.time()
    registry[name].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    return time.time() - t0


def main_longdocs() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    rebuild = "--rebuild" in sys.argv
    names = args or LONGDOC_QUERIES

    spark = get_session("scale_probe_longdocs")
    registry = load_all()
    missing = [n for n in names if n not in registry]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        sys.exit(2)

    marker = f"{LONGDOC_DIR}/.longdocs_built"
    want = f"src={SRC_DIR}\nmult={LONGDOC_MULT}\nlayout={LONGDOC_LAYOUT}\n"
    if not rebuild and os.path.exists(marker):
        with open(marker) as f:
            if f.read() != want:
                rebuild = True
    if rebuild or not os.path.exists(marker):
        print(
            f"[scale_probe] building ×{LONGDOC_MULT} long-doc tier of "
            f"{SRC_DIR} at {LONGDOC_DIR} ...",
            file=sys.stderr,
        )
        t0 = time.time()
        build_longdocs(spark, SRC_DIR, LONGDOC_DIR, LONGDOC_MULT)
        print(
            f"[scale_probe] built in {time.time() - t0:.1f}s", file=sys.stderr
        )
    if "--build-only" in sys.argv:
        print(f"[scale_probe] dir ready: {LONGDOC_DIR}", file=sys.stderr)
        return

    results = {}
    for name in names:
        _run_once(registry, name, spark, SRC_DIR)
        base = _run_once(registry, name, spark, SRC_DIR)
        _run_once(registry, name, spark, LONGDOC_DIR)
        scaled = _run_once(registry, name, spark, LONGDOC_DIR)
        ratio = scaled / base if base > 0 else float("inf")
        per_byte = ratio / LONGDOC_MULT
        results[name] = {
            "base_s": round(base, 3),
            "long_s": round(scaled, 3),
            "ratio": round(ratio, 2),
            "ratio_per_byte": round(per_byte, 3),
        }
        print(
            f"[scale_probe] {name:34s} {base:7.2f}s -> {scaled:7.2f}s  "
            f"x{ratio:6.2f}  per-byte x{per_byte:5.3f}",
            file=sys.stderr,
        )

    print(
        json.dumps(
            {
                "metric": "longdoc_probe",
                "mult": LONGDOC_MULT,
                "base_dir": SRC_DIR,
                "long_dir": LONGDOC_DIR,
                "queries": results,
            }
        )
    )


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    rebuild = "--rebuild" in sys.argv
    names = args or PROBE_QUERIES

    spark = get_session("scale_probe")
    registry = load_all()
    missing = [n for n in names if n not in registry]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        sys.exit(2)

    marker = f"{OUT_DIR}/.scale_probe_built"
    want = f"src={SRC_DIR}\nreplicas={REPLICAS}\nlayout={LAYOUT}\n"
    if not rebuild and os.path.exists(marker):
        with open(marker) as f:
            if f.read() != want:  # built for a different src/replica count
                rebuild = True
    if rebuild or not os.path.exists(marker):
        print(
            f"[scale_probe] building {REPLICAS}x scale-up of {SRC_DIR} "
            f"at {OUT_DIR} ...",
            file=sys.stderr,
        )
        t0 = time.time()
        build_scaleup(spark, SRC_DIR, OUT_DIR, REPLICAS)
        print(
            f"[scale_probe] built in {time.time() - t0:.1f}s", file=sys.stderr
        )

    if "--build-only" in sys.argv:
        # ADVICE r6: callers that only need the dir (run_scale_sweeps.sh)
        # invoke this unconditionally — the marker check above already
        # no-ops when src/replicas/LAYOUT match, and rebuilds when a
        # LAYOUT bump would otherwise leave a stale-layout dir in place.
        print(f"[scale_probe] dir ready: {OUT_DIR}", file=sys.stderr)
        return

    results = {}
    for name in names:
        # warm then time, both scales (same methodology as bench.py: the
        # second run measures the plan, not process bootstrap)
        _run_once(registry, name, spark, SRC_DIR)
        base = _run_once(registry, name, spark, SRC_DIR)
        _run_once(registry, name, spark, OUT_DIR)
        scaled = _run_once(registry, name, spark, OUT_DIR)
        ratio = scaled / base if base > 0 else float("inf")
        results[name] = {
            "base_s": round(base, 3),
            "scaled_s": round(scaled, 3),
            "ratio": round(ratio, 2),
        }
        print(
            f"[scale_probe] {name:34s} {base:7.2f}s -> {scaled:7.2f}s  "
            f"x{ratio:5.2f}",
            file=sys.stderr,
        )

    print(
        json.dumps(
            {
                "metric": "scale_probe",
                "replicas": REPLICAS,
                "base_dir": SRC_DIR,
                "scaled_dir": OUT_DIR,
                "queries": results,
            }
        )
    )


if __name__ == "__main__":
    if "--longdocs" in sys.argv:
        main_longdocs()
    elif "--skew-pairs" in sys.argv:
        main_skew_pairs()
    elif "--skew" in sys.argv:
        main_skew()
    else:
        main()
