"""Central localCheckpoint seam — lineage cuts with auditable segments.

Every checkpoint in the engine goes through :func:`ckpt` so that two
engine-wide properties hold:

1. **One policy.** Checkpoints are LAZY (round 11): the LogicalRDD leaf
   truncates lineage at call time (constant-size plans for the iterative
   loops), but materialization rides the first downstream action — the
   loops' convergence probes double as that action, so no dedicated
   construction-time job per checkpoint site.

2. **No audit blind spots** (VERDICT r10 #5/#7): a checkpoint leaf hides
   everything upstream of it from ``executedPlan``-walking audits — by
   round 10 the pr1/pr2/d16 "plans" were mostly ``Scan ExistingRDD``
   leaves, so a wide shuffle introduced UPSTREAM of any checkpoint was
   invisible to the shuffle-payload audit.  Inside a :func:`capture`
   block, :func:`ckpt` records every checkpointed segment's executed plan
   before cutting it; the audits then walk the final plan PLUS every
   captured segment, covering the whole computation.  Capturing costs
   planning time only, and outside a block nothing is kept.

A full no-checkpoint mode is NOT offered on purpose: the iterative graph
loops rely on the leaves to keep their logical plans constant-size (a
round's self-join grows the tree ~16x per iteration without them), so
"disable checkpointing and audit the full plan" would OOM the driver on
exactly the queries the blind spot matters for.  Segment capture audits
the same operators without rebuilding the exponential tree.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

# (label, JVM SparkPlan) pairs of the innermost open capture() block.
_segments: list[tuple[str, object]] | None = None


@contextmanager
def capture() -> Iterator[list[tuple[str, object]]]:
    """Collect the (label, executed plan) of every checkpoint cut inside
    the block; the list is emptied on exit, releasing the JVM plans."""
    global _segments
    outer, _segments = _segments, []
    try:
        yield _segments
    finally:
        _segments.clear()
        _segments = outer


def ckpt(df: DataFrame, label: str = "") -> DataFrame:
    """Lazy localCheckpoint; records the segment's plan inside capture()."""
    if _segments is not None:
        _segments.append((label, df._jdf.queryExecution().executedPlan()))
    return df.localCheckpoint(eager=False)
