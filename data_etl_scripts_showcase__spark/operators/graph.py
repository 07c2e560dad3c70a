"""Iterative graph operators: connected components for dedup clustering.

The greedy min-id survivor rule (queries/dedup.d8) under-merges when near-
dup relations chain (A~B, B~C but not A~C).  The exact grouping is the
connected components of the near-dup pair graph, computed by ONE operator,
:func:`connected_components` — the classic label-propagation-to-minimum
loop on DataFrames:

    label(v) ← min(label(v), min over neighbors' labels)   until fixpoint

Each iteration is one join + one aggregate (both shuffle on the node id, so
the exchange is reused); convergence needs O(component diameter) rounds —
near-dup clusters are shallow: 2 rounds on the sf0.01 and sf0.1 near-dup
graphs (SCALE.md, "Connected components").  Results are checkpointed per
round and the loop early-exits when an exact O(1)-row monotone-sum probe
over the new state says nothing changed (round 10: the old per-round
old⋈new join+count job was strictly dearer evidence of the same fact).
A graph deeper than ``max_iter`` rounds RAISES instead of returning split
components (:func:`_raise_if_unconverged`; :func:`bfs_hops` likewise).
This is the standard MapReduce/Pregel CC formulation and scales to any
graph whose nodes fit the cluster (100 TB of edges is fine; the state is
one row per node).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ckpt import ckpt

# Shuffle sizing for the iterative loops (round 11).  The loops know the
# EXACT row count of their checkpointed state (the convergence probes
# collect it anyway), so the per-round shuffles can be sized from
# MEASURED bytes instead of the session constant: partitions =
# ceil(measured_bytes / 64 MB), never raised above the session setting.
# At bench scale this collapses the per-round micro-shuffles to one
# partition (A/B at sf0.1: 0.59 s/round vs 0.88 s with the session's 32
# — the round is pure stage-scheduling latency, guide §2.2's "fewer,
# larger partitions" taken to its measured floor); at 100 TB the same
# formula keeps the session's full parallelism because the bytes demand
# it.  This is the scale-adaptive form the round-11 brief asks for — a
# hardcoded small constant would be a local-only trick, a formula from
# measured input size is not.
_LOOP_PARTITION_BYTES = 64 << 20


@contextmanager
def _sized_loop_shuffle(df: DataFrame, n_rows: int):
    """Scope ``spark.sql.shuffle.partitions`` to the measured size of the
    loop state for the actions run inside the context."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    width = 16 + 8 * len(df.columns)
    p = max(1, -(-(n_rows * width) // _LOOP_PARTITION_BYTES))
    try:
        p = min(p, int(old))
    except (TypeError, ValueError):
        pass
    spark.conf.set("spark.sql.shuffle.partitions", str(p))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


_NUMERIC_ID_TYPES = ("tinyint", "smallint", "int", "bigint")


def _require_numeric_ids(op: str, dtype: str) -> None:
    """The Σ-based convergence probes cast ids to decimal(38,0); a
    non-numeric id type casts to NULL, sums to None, and None == None
    would declare convergence after round 1 with unconverged labels
    (ADVICE r10).  Integer node ids are the operators' contract — raise
    at entry instead of silently returning garbage."""
    if dtype not in _NUMERIC_ID_TYPES and not dtype.startswith("decimal"):
        raise TypeError(
            f"{op}: node id column must be an integer type for the "
            f"Σ-convergence probe, got {dtype}; map ids to integers first "
            f"(e.g. xxhash64 or a dictionary join)"
        )


def _raise_if_unconverged(op: str, converged: bool, max_iter: int) -> None:
    """Iterative loops must not return when max_iter runs out before the
    fixpoint: the labels/distances would be wrong (a cluster split in two,
    a hop count missing) with nothing downstream able to tell.  Exhaustion
    is a failure of the run — the graph is deeper than ``max_iter`` rounds
    reach — so raise, naming the knob."""
    if not converged:
        raise RuntimeError(
            f"{op}: max_iter={max_iter} exhausted before fixpoint — the "
            f"graph needs more rounds; raise max_iter"
        )


def triangles(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Enumerate triangles of an undirected graph → (a, b, c) with a<b<c.

    Canonical-ordering join (the MapReduce triangle-count standard): orient
    every edge low→high, join wedges (a<b, b<c) on the middle node, then
    close each wedge with an (a, c) edge lookup.  Each triangle appears
    exactly once.  Two shuffles on node ids; wedge count — the quadratic
    risk on skewed degree distributions — is bounded by Σ deg(v)² of the
    HIGH-degree endpoint orientation, the same hot-key exposure the LSH
    bucket cap (d14) guards, and near-dup graphs are degree-bounded by
    construction.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
    )
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    # shuffle_hash pins (round 9, the t14 lesson): every side here is
    # EDGE-scaled — Catalyst's static estimate for the oriented edge list
    # is a fixed ratio of the text scan, so it under-estimates arbitrarily
    # and auto-broadcasts a corpus-sized relation (broadcast stages
    # materialize eagerly under AQE, so runtime stats can never demote
    # them).  Shuffled-hash shards the wedge join by node id at any graph
    # size.
    return (
        ab.join(bc.hint("shuffle_hash"), "b")
        .join(ac.hint("shuffle_hash"), ["a", "c"])
        .select("a", "b", "c")
    )


def label_propagation(
    edges: DataFrame, src: str = "src", dst: str = "dst", n_iter: int = 3
) -> DataFrame:
    """Synchronous label-propagation community detection → (id, community).

    Each round every node adopts the most frequent label among its
    neighbors (ties → smallest label; a node with no majority change
    keeps drifting toward the deterministic fixpoint).  Unlike connected
    components (which merges everything reachable), LP splits a component
    into densely-connected communities — the cluster granularity used to
    pick canonical representatives inside large near-dup families.

    Determinism: a FIXED iteration count and a total (count DESC, label
    ASC) ordering make the result exactly reproducible on any engine —
    the same discipline as pr1's integer PageRank.  Each round is one
    edge-list join + one (node, label) aggregate + one argmax window;
    state is 1 row/node.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # localCheckpoint, not persist (round 10): this loop runs NO action
    # before returning, so the old persist never materialized — and the
    # trailing unpersist() dropped the cache entry before the caller's
    # first action, so every round's two references to ``sym`` replayed
    # the full upstream pipeline (6× for the default 3 rounds).  The
    # checkpoint (LAZY since round 11 — the caller's first action
    # materializes it, no construction-time job) computes it exactly
    # once and cuts the plan to a leaf.
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().transform(ckpt)
    labels = sym.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("community")
    )
    from pyspark.sql import Window as W

    for _ in range(n_iter):
        # labels is NODE-scaled and (unlike the CC/BFS loops) not
        # localCheckpoint-ed, so its static estimate is a scan ratio —
        # pin shuffle_hash or the planner auto-broadcasts the corpus's
        # node set (round 9, the t14 lesson).
        nbr = sym.join(
            labels.hint("shuffle_hash"), sym["b"] == labels["id"]
        ).select(
            F.col("a").alias("id"), F.col("community").alias("lab")
        )
        counts = nbr.groupBy("id", "lab").agg(F.count("*").alias("n"))
        w = W.partitionBy("id").orderBy(F.col("n").desc(), F.col("lab").asc())
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("id", F.col("lab").alias("community"))
        )
    return labels


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 15
) -> DataFrame:
    """Label every node of the undirected ``edges`` graph with its
    component's minimum node id.  Returns (id, component).

    Deterministic: the fixpoint labeling is unique regardless of
    partitioning or iteration interleaving (min is idempotent/commutative).
    Raises RuntimeError when ``max_iter`` rounds end before the fixpoint:
    some node lies ``max_iter`` or more hops from its component's minimum
    id (a 20-node path numbered end to end needs 20 rounds).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # The Σ-component convergence probe needs numeric node ids: a
    # non-numeric id would cast to NULL, sum to None every round, and the
    # loop would silently "converge" after round 1 (ADVICE r10).  Fail
    # loudly instead.
    _require_numeric_ids("connected_components", dict(e.dtypes)["a"])
    # localCheckpoint (not persist, round 10): persist caches execution but
    # leaves the input's FULL logical lineage in every round's plan, so
    # Catalyst re-optimized the whole upstream pipeline (LSH verify, in the
    # dedup queries) once per round.  The leaf plan makes each round's
    # planning O(1).
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().transform(ckpt)
    # labels localCheckpoint: ``labels`` appears twice in each
    # round's plan (union + join), so the LOGICAL tree doubles per round —
    # a deep component (long chain) grows it 2^rounds and OOMs the driver
    # even though the cached execution is fine.  Checkpointing cuts the
    # lineage to a leaf so every round's plan is constant-size.
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .transform(ckpt)
    )

    # Convergence probe (optimization round 10): the node set is fixed and
    # every round's label is min(old, neighbors') — per-node MONOTONE
    # NON-INCREASING — so the labeling changed iff Σ component changed.
    # One tiny aggregate over the just-checkpointed state replaces the old
    # per-round labels⋈new_labels join+count job.  EXACT (not a hash
    # digest): sums are order-free and decimal(38,0) cannot overflow for
    # any realistic id range × node count.  The probe doubles as the
    # round's ONLY action — each round's state is a LAZY localCheckpoint,
    # so this aggregate materializes the checkpoint in the same job
    # (round 11: eager-checkpoint-then-probe was two jobs per round).
    def _label_sum(l: DataFrame):
        row = l.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]
        return row["s"]

    # first probe also measures the (fixed) node count, which sizes every
    # round's shuffles — see _sized_loop_shuffle.
    first = labels.agg(
        F.count("*").alias("n"),
        F.sum(F.col("component").cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    n_nodes, prev_sum = first["n"], first["s"]
    converged = False
    for _ in range(max_iter):
        # Pinned shuffled-hash (round 11): the checkpointed leaves carry
        # the PRE-checkpoint size estimate — for a checkpointed join
        # pipeline that is the join-product blow-up, so Catalyst plans
        # SortMergeJoin (r10's pr4 dumps prove the flip) and pays two
        # sorts per round.  An explicit broadcast was A/B-measured WORSE
        # than SHJ at bench scale (the driver-side broadcast build costs
        # more than a coalesced 1-partition hash join), and is unsafe at
        # 100 TB where labels is node-scaled — shuffled-hash is both the
        # fast and the scale-safe pin (the t14 discipline).
        lab = labels.hint("shuffle_hash")
        nbr = sym.join(lab, sym["b"] == lab["id"]).select(
            F.col("a").alias("id"), F.col("component")
        )
        # the sized-shuffle scope must cover the localCheckpoint call
        # (physical planning — where shuffle.partitions is read —
        # happens there, not at the collect).
        with _sized_loop_shuffle(labels, n_nodes):
            new_labels = (
                labels.unionByName(nbr)
                .groupBy("id")
                .agg(F.min("component").alias("component"))
                .transform(ckpt)
            )
            cur_sum = _label_sum(new_labels)
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    _raise_if_unconverged("connected_components", converged, max_iter)
    return labels


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Minimum hop count from any node in ``sources`` (one column ``id``)
    to every reachable node → (id, hops).

    Frontier-free formulation (simpler to reason about at scale than
    delta-frontier BFS, and every round is the same two-op plan): each
    round recomputes dist(v) = min(dist(v), min_{u∈N(v)} dist(u)+1) —
    one edge join + one keyed min — until the distance table stops
    changing.  Rounds needed = eccentricity of the source set; state is
    1 row per reached node.  Distances are a unique fixpoint (min over
    monotone candidates), so the result is deterministic under any
    partitioning, and every round localCheckpoints to keep the plan
    constant-size (same lineage discipline as the CC loop above).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # localCheckpoint, not persist (round 10): the leaf plan keeps each
    # round's planning O(1) instead of re-optimizing the input lineage.
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .transform(ckpt)
    )
    dist = sources.select(
        F.col("id"), F.lit(0).cast("bigint").alias("hops")
    ).transform(ckpt)

    # Convergence probe (optimization round 10): the reached set only ever
    # GROWS (every old id survives the union) and each hop value is a min
    # over monotone candidates, so the distance table changed iff
    # (count, Σ hops) changed — equal counts force an identical id set,
    # and identical sets with per-id non-increasing hops force identical
    # hops when the sum matches.  One tiny aggregate over the checkpointed
    # state replaces the old per-round dist⋈new_dist join+count job;
    # EXACT, not a hash digest.
    def _dist_digest(d: DataFrame):
        row = d.agg(
            F.count("*").alias("n"),
            F.sum(F.col("hops").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return (row["n"], row["s"])

    prev = _dist_digest(dist)
    # |sym| prices each round's shuffles: ``via`` is bounded by the edge
    # list, not the (possibly tiny) frontier, so the sized-shuffle scope
    # must budget for it.  The count doubles as sym's materializing
    # action (it is a lazy checkpoint).
    n_sym = sym.count()
    converged = False  # max_iter <= 0 must hit the convergence check
    # below, not a NameError (mirrors connected_components).
    for _ in range(max_iter):
        # Pinned shuffled-hash (round 11): same rationale as the CC
        # loops — the checkpointed leaves carry join-product estimates
        # (SMJ + 2 sorts per round in r10), an explicit broadcast was
        # measured slower at bench scale (broadcast build cost) and is
        # frontier-scaled-unsafe at 100 TB.
        d = dist.hint("shuffle_hash")
        via = sym.join(d, sym["a"] == d["id"]).select(
            F.col("b").alias("id"), (F.col("hops") + 1).alias("hops")
        )
        with _sized_loop_shuffle(sym, n_sym + prev[0]):
            new_dist = (
                dist.unionByName(via)
                .groupBy("id")
                .agg(F.min("hops").alias("hops"))
                .transform(ckpt)
            )
            cur = _dist_digest(new_dist)
        dist = new_dist
        if cur == prev:
            converged = True
            break
        prev = cur
    _raise_if_unconverged("bfs_hops", converged, max_iter)
    return dist
