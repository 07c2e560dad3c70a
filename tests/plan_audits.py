"""Engine-wide plan audits, applied per query by the oracle sweep.

``tests/test_oracle_equivalence.py`` builds and runs every registered
query exactly once; :func:`audit` then checks that one build — the output
schema for nested (unhashable) columns, and the executed physical plan plus
every checkpoint segment captured while it was built (``ckpt.capture``)
for the engine-wide plan properties:

* **cartesian** — no data×data ``CartesianProduct`` (the deliberate tiny
  j6 excepted).  BroadcastNestedLoopJoin is allowed: Spark only picks it
  when one side is a broadcast, and every such site in this engine is a
  bounded-by-design side (a 1-row aggregate scalar, the 8-vector query
  set, k centroids; each documented at its query).  A true all-pairs
  join fails here even while its oracle still passes at test scale.
* **window** — no unpartitioned ``WindowExec`` over an unbounded input:
  an empty partition spec moves EVERY input row to a single partition,
  the one-reducer sort that turns a parallel plan into a scale-killer
  (the v11/v17 class VERDICT r3 named).  It is acceptable only when the
  input is already bounded — a preceding TakeOrderedAndProject /
  GlobalLimit (top-k first, rank the k rows) or an aggregate-to-constant.
* **payload** — no SHUFFLE Exchange whose rows carry a source payload
  column (document text / binary content / raw embedding).  Audits of
  operator SHAPES never see what an Exchange CARRIES (VERDICT r6 #6): a
  hash shuffle on doc_id is fine when rows are (id, md5) and a
  scale-killer when every row drags the full document through the wire.
  BroadcastExchange is exempt on purpose: broadcasting a bounded side
  that happens to include text (d23's benchmark chunk table) is the
  pattern we WANT.
* **broadcast** — no ``BroadcastExchange`` whose build side is a
  content-derived relation (an explode, or an aggregate over text /
  token / shingle / gram columns): the t14 class.  Catalyst's static
  size estimate for such a relation is a fixed ratio of the pruned scan,
  so it under-estimates without bound as documents grow, and a
  statically planned broadcast is a leaf query stage under AQE that
  runtime statistics never demote.  The walk reaches AQE's initial plan,
  where every static broadcast sits, and the plan behind every cache hit.

Queries whose build functions EXECUTE an action (streaming start, file write,
raising gate) are audited on their registered batch fragment
(``queries.fragment()``) instead of the frame that ran.  :data:`CHECKED`
counts the plans each audit saw; ``conftest.py`` prints it at session end
and fails the run if an audit the sweep reached checked nothing.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql.types import ArrayType, MapType, StructType

# Streaming-only queries with NO batch fragment, each justified:
SKIP = {
    # dropDuplicatesWithinWatermark exists only on streams; the batch
    # DISTINCT twin is already audited as its oracle shape elsewhere
    "st4_stream_dedup_keys",
    # applyInPandasWithState is streaming-only; its state machine is
    # gated by the batch-equivalence test in tests/test_streaming.py
    "st5_stateful_user_activity",
    # transformWithStateInPandas is streaming-only; same gate
    "st11_transform_with_state",
}

# j6 is the deliberate tiny cross join (SURVEY J-std); everything else
# must compile to hash/broadcast/sort-merge equality joins.
ALLOWED_CARTESIAN = {"j6_cross_join"}

# Reviewed global windows over inputs that are bounded by construction
# but not recognizable from plan structure alone (round 7: the walker fix
# de-vacuumed the window audit for AQE plans and these surfaced; t12/t18
# from the same haul were REAL offenders and were rewritten onto
# global_row_ids instead of being listed here):
WINDOW_WHITELIST = {
    # deliberate single-reducer ntile baseline, documented as such;
    # its distributed exact twin is x44 (same oracle semantics)
    "w9_ntile_deciles",
    # window input = per-histogram-bin aggregate; |bins| is the fixed
    # design constant of the sketch (64), independent of data volume
    "a28_histogram_quantile_audit",
    # window input = per-shuffle-partition aggregate; |partitions| is
    # the fixed partition count the report diagnoses (32)
    "x30_partition_skew_report",
    # window input = per-source weight table; |sources| is the corpus
    # registry (~20), the same bounded dim the mixture designs over
    "x43_temperature_mixture",
}

# Source payload columns (testdata schema): documents.text, the
# multimodal binary column, embeddings.embedding — PLUS the engine's own
# aliases for them (round 11, VERDICT r10 #5: the kNN operators rename
# embedding→c_vec/q_vec and the PQ/kmeans paths carry vec/sub slices, so
# a rename used to evade the audit).  Aliases here must track
# operators/similarity.py and the v8/v11 query bodies.
WIDE = {
    "text",
    "content",
    "embedding",
    # operators/similarity.knn_bruteforce / *_rerank aliases
    "c_vec",
    "q_vec",
    # full-vector aliases (v8 kmeans, v10/v11 PQ corpus prep)
    "vec",
    "va",
    "vb",
}

# Justified wide shuffles (VERDICT r6 #6 allows ≤5, each needing a
# documented reason).  EMPTY: after the round-7 rewrites every payload
# column in the engine is digested, ranked, or projected away before its
# first hash shuffle.
PAYLOAD_ALLOW: set[str] = set()

# Broadcasts of explode- or content-aggregate-derived build sides that
# are bounded by construction, each with its bound:
BROADCAST_ALLOW = {
    # 4x256 count-min grid (<= 1024 rows); the probe explodes each key
    # by the fixed depth 4 and folds it back to one row per user_id
    "a24_countmin_frequency",
    "st12_streaming_countmin",  # the same <= 1024-row count-min grid
    "x40_join_size_estimate",  # the same <= 1024-row count-min grid
    "x27_bloom_prejoin",  # bloom bit set, <= 8192 bits by the modulus
    # forced broadcast of the held-out benchmark side: a benchmark is a
    # fixed eval set (thousands of docs) whatever the corpus volume
    "d10_ngram_contamination",
    "d23_chunk_contamination",
    "d25_chunk_contamination_capped",
    # the LSH (band, bucket) self-join of the candidate_pairs whitelist,
    # its keys renamed b2/k2: ~4 rows x ~50 B per static document
    "st20_stream_neardup_gate",
    # |sources| x 200 top terms and per-source vocab sizes; sources are
    # the ~20-entry corpus registry
    "t22_vocab_overlap",
    # PQ codebook (4 codes x 8 blocks), the query's 8 blocks and their
    # 32-row ADC table: fixed by _PQ_CODES / _PQ_BLOCKS
    "v11_pq_adc_topk",
    "v17_ivf_adc_rerank",
    "v18_nprobe_recall_curve",  # hits per nprobe: one row per grid value
    # dimension rows times a constant explode factor, which the scan
    # estimate misses by at most that constant: supplier x 3 bands,
    # customer x 9 neighbour cells, customer x 16 salts
    "j12_band_join",
    "x35_geo_radius_join",
    "x6_salted_join",
    # missing days per event type, one row per event type
    "w26_missing_periods",
}

# Scan-stage node classes: a RoundRobinPartitioning exchange whose
# subtree is only these is the documented `parallelism` knob — an
# explicit repartition of RAW source rows that exists because local
# testdata parquet is single-row-group and unsplittable (SCALE.md "Known
# local-vs-cluster deltas").  It moves each payload ONCE, linearly,
# before any fan-out; at cluster scale the knob is None and the exchange
# disappears.  A map-side BROADCAST enrichment below the spread (v7's
# quality gate) is the same linear one-pass move, so broadcast-join nodes
# are allowed in the spread subtree; the broadcast SIDE's own exchanges
# are still audited by the outer walk.
_SCAN_STAGE = {
    "ProjectExec",
    "FilterExec",
    "FileSourceScanExec",
    "ColumnarToRowExec",
    "InputAdapter",
    "WholeStageCodegenExec",
    "BatchScanExec",
    "BroadcastHashJoinExec",
    "BroadcastNestedLoopJoinExec",
}

# audit -> queries it does not cover
EXEMPT = {
    "nested types": set(),
    "cartesian": SKIP | ALLOWED_CARTESIAN,
    "window": SKIP | WINDOW_WHITELIST,
    "payload": SKIP | PAYLOAD_ALLOW,
    "broadcast": SKIP | BROADCAST_ALLOW,
}

CHECKED: Counter[str] = Counter()  # audit -> plans (or schemas) checked
SWEPT: set[str] = set()  # queries the sweep ran


def _name(node) -> str:
    return node.getClass().getSimpleName()


def walk(node):
    """Every node of the physical plan, INCLUDING inside AQE.

    ``AdaptiveSparkPlanExec`` is a LEAF node (children() is empty)
    wrapping the real tree — a naive child walk sees exactly one node and
    audits nothing (round-7 finding: the executed-plan audits were vacuous
    for every plan containing an exchange).  Recurse through its
    ``initialPlan()`` — the EnsureRequirements-applied physical plan,
    where ShuffleExchangeExec / WindowExec nodes are visible before
    runtime re-optimization.

    ``InMemoryTableScanExec`` is a leaf too: a cache hit replaces the
    cached frame's whole plan with one scan.  Recurse through
    ``relation().cachedPlan()``, the physical plan that filled the cache,
    so a query that persists an intermediate and reads it back is audited
    on that plan as well."""
    yield node
    if _name(node) == "AdaptiveSparkPlanExec":
        yield from walk(node.initialPlan())
        return
    if _name(node) == "InMemoryTableScanExec":
        yield from walk(node.relation().cachedPlan())
        return
    ch = node.children()
    for i in range(ch.size()):
        yield from walk(ch.apply(i))


def has_cartesian(jplan) -> bool:
    """The plan's tree string names a CartesianProduct.  For an executed
    adaptive plan the string carries the final AND the initial plan, and
    every node's subqueries."""
    return "CartesianProduct" in jplan.toString()


def is_bounded(node) -> bool:
    """Row-count-bounded subtree: a limit, a grouping-empty (scalar)
    aggregate, or any node ALL of whose input branches are bounded.

    Branch-aware on purpose (ADVICE r4): `any descendant is a limit`
    would mark a global window over join(unbounded_scan,
    broadcast_scalar_agg) as bounded — exactly the pre-fix x11 shape this
    audit exists to catch.  A join/union is bounded only if EVERY child
    is; a leaf scan is unbounded."""
    name = _name(node)
    if any(
        b in name for b in ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit")
    ):
        return True
    if "Aggregate" in name:
        try:
            grouping = node.groupingExpressions()
            if grouping.isEmpty():
                return True
            # engine convention: `_bkt*` columns are derived
            # constant-domain range buckets (pmod/floor over a bounded
            # value range — operators/prefix.py, global_row_ids), so a
            # per-bucket aggregate has |buckets| rows at any volume.
            names = [grouping.apply(i).toString() for i in range(grouping.size())]
            if names and all(n.lstrip("'").startswith("_bkt") for n in names):
                return True
        except Exception:
            pass
    ch = node.children()
    n = ch.size()
    if n == 0:
        return False
    return all(is_bounded(ch.apply(i)) for i in range(n))


def has_unbounded_global_window(jplan) -> bool:
    for node in walk(jplan):
        if _name(node) != "WindowExec" or not node.partitionSpec().isEmpty():
            continue
        ch = node.children()
        if not all(is_bounded(ch.apply(i)) for i in range(ch.size())):
            return True
    return False


def _spread_subtree_ok(node) -> bool:
    name = _name(node)
    if name == "BroadcastExchangeExec":
        return True
    if name not in _SCAN_STAGE:
        return False
    ch = node.children()
    return all(_spread_subtree_ok(ch.apply(i)) for i in range(ch.size()))


def _is_scan_repartition(node) -> bool:
    if "RoundRobinPartitioning" not in node.outputPartitioning().toString():
        return False
    return _spread_subtree_ok(node.children().apply(0))


def offending_exchanges(jplan, wide: set[str] = WIDE) -> list[str]:
    hits = []
    for node in walk(jplan):
        if _name(node) != "ShuffleExchangeExec" or _is_scan_repartition(node):
            continue
        out = node.output()
        carried = sorted({out.apply(i).name() for i in range(out.size())} & wide)
        if carried:
            hits.append(f"shuffle carries {carried}")
    return hits


# A broadcast build subtree that explodes rows or aggregates content
# columns (text/token/term/bigram/shingle/gram/chunk).
CONTENT_RE = re.compile(
    r"Generate explode|unnest|"
    r"HashAggregate.*(text#|\btok|\bterm|\bbg\b|shingle|gram|chunk)"
)


#: Adjudicated whitelist: a BroadcastExchange whose broadcast KEY is the
#: LSH (band, bucket) pair is the candidate_pairs self-join.  Its build
#: side is ~4 rows × ~50 B per document, so the scan-ratio estimate
#: tracks the true size within a small per-doc constant in both
#: directions — no axis exists along which the estimate stays tiny while
#: the table grows unboundedly (the t14-class divergence needs a row
#: multiplication the estimator cannot see, e.g. an explode feeding an
#: aggregate).  See operators/dedup.py:candidate_pairs.
#:
#: Matching is on the broadcast KEY ATTRIBUTES (ADVICE r9), not a literal
#: Spark-internal mode-string prefix: a 2-key HashedRelationBroadcastMode
#: whose build subtree's join keys are the band#N/bucket#N attributes.
#: A Spark upgrade that re-words the mode header no longer silently
#: breaks the whitelist.
def _is_lsh_bucket_broadcast(header: str, subtree: str) -> bool:
    mode = re.search(r"HashedRelationBroadcastMode\(List\((.*?)\),", header)
    if not mode:
        return False
    n_keys = len(re.findall(r"input\[\d+", mode.group(1)))
    return (
        n_keys == 2
        and re.search(r"\bband#\d+", subtree) is not None
        and re.search(r"\bbucket#\d+", subtree) is not None
    )


#: Adjudicated whitelist 2 (round 10, surfaced when the audit gained the
#: e* family): the enrichment pipeline's per-merchant metrics pivot.  The
#: build side groups the exploded REST-page metric rows back DOWN to one
#: row per merchant with a FIXED 3-column pivot (CALL_CLICKS /
#: WEBSITE_CLICKS / DIRECTIONS) — the explode (×3) and the aggregate
#: (÷3) cancel, so the relation is |merchants| rows × fixed width and
#: the scan-ratio estimate tracks the true size within a constant in
#: both directions.  No axis exists along which the estimate stays tiny
#: while the table grows unboundedly: both grow linearly with the
#: merchant dimension, and a dimension large enough to matter also
#: inflates the estimate past the broadcast threshold.  This is the J2
#: broadcast-dim enrichment design working, not the t14 class.
#: See enrichment/stage.py and queries/pipelines_q.py (e1).
def _is_enrichment_merchant_pivot(header: str, subtree: str) -> bool:
    return (
        "HashedRelationBroadcastMode" in header
        and re.search(r"\bmerchant_id#\d+", subtree) is not None
        and "pivotfirst(metric#" in subtree
    )


def is_content_broadcast(header: str, subtree: str) -> bool:
    """A broadcast (tree-string ``header`` line, build ``subtree`` text)
    of a content-derived relation that no whitelist adjudicated."""
    if _is_lsh_bucket_broadcast(header, subtree):
        return False  # adjudicated: the (band, bucket) LSH self-join
    if _is_enrichment_merchant_pivot(header, subtree):
        return False  # adjudicated: the e1 per-merchant fixed-width pivot
    return CONTENT_RE.search(subtree) is not None


def content_broadcasts(jplan) -> list[str]:
    """Header line of every content-derived BroadcastExchange in the plan.
    A row-bounded build side (a limit or a scalar aggregate on top,
    :func:`is_bounded`) is exempt: its size has no content axis."""
    hits = []
    for node in walk(jplan):
        if _name(node) != "BroadcastExchangeExec" or is_bounded(node.child()):
            continue
        header, _, subtree = node.toString().partition("\n")
        if is_content_broadcast(header, subtree):
            hits.append(header.strip())
    return hits


def nested_columns(schema) -> list[str]:
    """Top-level ArrayType/MapType/StructType columns: a pandas value
    hasher raises ``unhashable type: 'list'`` on such cells (round-2 red
    row t11), so oracle-checked output must stringify them."""
    return [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def audit(name: str, schema, plans: list[tuple[str, object]]) -> list[str]:
    """Every audit that covers ``name``, on one build.

    ``schema`` is the output schema of the frame that ran; ``plans`` is
    ``[("final", executed plan), (segment label, segment plan), ...]`` —
    the plan the audits walk, followed by the checkpoint segments captured
    while it was built.  Returns one message per violation."""
    covered = [a for a, exempt in EXEMPT.items() if name not in exempt]
    CHECKED.update(covered)
    errs = []
    if "nested types" in covered:
        errs += [f"unhashable nested column {c}" for c in nested_columns(schema)]
    for label, jplan in plans:
        where = label or "segment"
        if "cartesian" in covered and has_cartesian(jplan):
            errs.append(f"{where}: CartesianProduct")
        if "window" in covered and has_unbounded_global_window(jplan):
            errs.append(f"{where}: unpartitioned window over an unbounded input")
        if "payload" in covered:
            errs += [f"{where}: {h}" for h in offending_exchanges(jplan)]
        if "broadcast" in covered:
            errs += [
                f"{where}: content-derived broadcast {h}"
                for h in content_broadcasts(jplan)
            ]
    return errs


def vacuous_audits() -> list[str]:
    """Audits that checked nothing although the sweep ran a query they
    cover."""
    return [a for a, exempt in EXEMPT.items() if SWEPT - exempt and not CHECKED[a]]
