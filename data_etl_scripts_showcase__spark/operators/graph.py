"""Iterative graph operators: connected components for dedup clustering.

The greedy min-id survivor rule (queries/dedup.d8) under-merges when near-
dup relations chain (A~B, B~C but not A~C).  The exact grouping is the
connected components of the near-dup pair graph — the one genuinely
ITERATIVE computation in the engine, implemented as the classic
label-propagation-to-minimum loop on DataFrames:

    label(v) ← min(label(v), min over neighbors' labels)   until fixpoint

Each iteration is one join + one aggregate (both shuffle on the node id, so
the exchange is reused); convergence needs O(component diameter) rounds —
near-dup clusters are shallow, so this is 2-4 rounds in practice.  Results
are checkpointed per round and the loop early-exits when an exact O(1)-row
monotone-sum probe over the new state says nothing changed (round 10: the
old per-round old⋈new join+count job was strictly dearer evidence of the
same fact).
This is the standard MapReduce/Pregel CC formulation and scales to any
graph whose nodes fit the cluster (100 TB of edges is fine; the state is
one row per node).
"""

from __future__ import annotations

import warnings
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


def _warn_if_unconverged(op: str, converged: bool, max_iter: int) -> None:
    """Iterative loops must not exit SILENTLY when max_iter runs out before
    the fixpoint — the returned labels/distances would be incorrect with no
    signal.  A warning (not an exception) keeps partial results inspectable
    while making the truncation visible to callers, who should raise
    ``max_iter``.  (The alternating-CC digest is (count, bit_xor(xxhash64))
    — collisions are possible in principle; a colliding round would also
    surface here as premature 'convergence' only with matching count+hash.)
    """
    if not converged:
        warnings.warn(
            f"{op}: max_iter={max_iter} exhausted before fixpoint — "
            f"results may be incomplete; raise max_iter",
            RuntimeWarning,
            stacklevel=3,
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
    _warn_if_unconverged("connected_components", converged, max_iter)
    return labels


def connected_components_alternating(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 12
) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    → (id, component = component min id).

    The min-label propagation above (:func:`connected_components`) needs
    O(component diameter) rounds — fine for shallow near-dup clusters,
    quadratic pain on a 100 TB graph with a long chain.  The alternating
    algorithm (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") converges in O(log n) rounds regardless of diameter by
    rewiring the edge set itself toward a star per component:

      large-star: every neighbor v > u is re-pointed at m(u) = min(N(u) ∪ u)
      small-star: every neighbor v ≤ u (and u) is re-pointed at m(u)

    Both steps are one groupBy(min) + one self-join on the node id — the
    exchange is reused between them — and both strictly preserve
    connectivity while never increasing the edge count.  At the fixpoint
    every edge is (component-min, member), read off as the labeling.

    Fixpoint detection: edge-set equality between rounds, checked with a
    single aggregate (count + bit_xor of xxhash64(u, v) — order-free, overflow-free) instead of a set
    difference — one action per round, no second shuffle.  The labeling
    itself is the unique CC fixpoint, so determinism matches
    :func:`connected_components` exactly (asserted in tests).
    """
    # Callers with an expensive edge pipeline should pass a checkpointed
    # leaf (pr4/pr5/pr7 do): ``canon`` feeds both the node set and the
    # working edge set, so a non-leaf input computes twice.  Checkpointing
    # canon HERE was measured a net loss (~0.4 s/run at sf0.1) for the
    # common leaf-input case — a cheap projection does not earn a
    # materialization.
    canon = edges.select(
        F.least(F.col(src), F.col(dst)).alias("u"),
        F.greatest(F.col(src), F.col(dst)).alias("v"),
    )
    # node set from the RAW edges: a self-loop node has no non-loop edge
    # but still belongs in the labeling (as its own singleton component).
    nodes = (
        canon.select(F.col("u").alias("id"))
        .unionByName(canon.select(F.col("v").alias("id")))
        .distinct()
        .transform(ckpt)
    )
    cur = (
        canon.where(F.col("u") != F.col("v"))
        .distinct()
        .transform(ckpt)
    )

    def _edge_digest(e: DataFrame):
        row = e.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def _star(e: DataFrame, large: bool) -> DataFrame:
        sym = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # Pinned shuffled-hash (round 11): the checkpointed leaves carry
        # join-product size estimates, so Catalyst planned this round
        # join as SortMergeJoin in r10 (the pr4 dumps show the flip) —
        # two wasted sorts per star.  A/B at sf0.1: SHJ ~0.85 s/round vs
        # broadcast ~1.35 s (driver-side broadcast build dominates) vs
        # r10's SMJ in between; and SHJ is the only one of the three
        # that is also safe when the graph is 100 TB.  The groupBy above
        # and this join share the hash-on-u exchange.  The hint sits on
        # the join side only: on the small-star union branch below Spark
        # would discard it (HintErrorLogger: not part of a join).
        j = sym.join(mins.hint("shuffle_hash"), "u")
        if large:
            out = j.where(F.col("v") > F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            )
        else:
            out = j.where(F.col("v") <= F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            ).unionByName(
                mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
        return (
            out.where(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
            )
            .distinct()
        )

    # each _star references its input in a self-join (sym ⋈ mins(sym)), so
    # the LOGICAL plan grows ~16× per round — caching truncates execution
    # but not the plan tree, and Catalyst chokes on the exponential tree
    # after a few rounds.  localCheckpoint materializes the round AND cuts
    # the lineage to a leaf, keeping every round's plan constant-size.
    # (On a cluster, swap for rdd.checkpoint() if executor loss during the
    # loop must be survivable.)
    digest = _edge_digest(cur)
    fixed = False
    for _ in range(max_iter):
        # both stars never increase the edge count, so the incoming
        # round's digest count bounds both stages' relations — it sizes
        # the round's shuffles (see _sized_loop_shuffle; the scope covers
        # the localCheckpoint call because physical planning reads
        # shuffle.partitions there).
        with _sized_loop_shuffle(cur, 2 * digest[0]):
            nxt = _star(_star(cur, large=True), large=False).transform(ckpt)
            nxt_digest = _edge_digest(nxt)
        cur = nxt
        if nxt_digest == digest:
            fixed = True
            break
        digest = nxt_digest
    _warn_if_unconverged("connected_components_alternating", fixed, max_iter)

    # fixpoint: every edge is (component-min, member); roots label themselves.
    member_labels = cur.groupBy(F.col("v").alias("id")).agg(
        F.min("u").alias("_c")
    )
    # Pinned shuffled-hash, same rationale as the loop joins: the leaf
    # estimates are garbage, SMJ pays sorts, and a broadcast build was
    # measured slower than the coalesced hash join at bench scale while
    # being node-scaled-unsafe at 100 TB.
    member_labels = member_labels.hint("shuffle_hash")
    labels = nodes.join(member_labels, "id", "left").select(
        "id", F.coalesce(F.col("_c"), F.col("id")).alias("component")
    )
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
    constant-size (same lineage discipline as the CC loops above).
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
    converged = False  # max_iter <= 0 must hit the convergence warning
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
    _warn_if_unconverged("bfs_hops", converged, max_iter)
    return dist
