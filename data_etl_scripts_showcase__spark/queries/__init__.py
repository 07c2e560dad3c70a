"""Driver-facing query registry.

Every operator from SURVEY.md §2 lands here as a named :class:`Query`:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (where the
semantics are SQL-expressible) a DuckDB oracle SQL string over the same
parquet tables.  ``__spark_entry__.py`` exposes this registry to the
driver's correctness harness.

Conventions (driver contract):
- every computed column is aliased IDENTICALLY in the Spark plan and the
  oracle SQL (the driver sorts columns by name before value-hashing);
- result types are pinned on both sides (e.g. DuckDB ``SUM(int)`` returns
  HUGEINT — oracles cast to BIGINT to match Spark's LongType);
- double-typed aggregates that accumulate in data-dependent order are
  rounded on both sides to keep the value-hash stable.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check
    survey: str  # SURVEY.md §2 operator ids this query exercises
    doc: str = field(default="")


REGISTRY: dict[str, Query] = {}


def register(name: str, *, oracle: str | None = None, survey: str = ""):
    """Decorator: add a query callable to the registry."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(
            name=name, fn=fn, oracle=oracle, survey=survey, doc=fn.__doc__ or ""
        )
        return fn

    return deco


FRAGMENTS: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def fragment(name: str):
    """Decorator: register the lazily-buildable BATCH plan fragment of a
    query whose builder executes an action at build time (streaming start,
    file write, raising QA gate).

    The engine-wide plan audits (tests/plan_audits.py) cannot explain those
    queries' returned frames without running the action — and for streaming
    jobs the returned frame is just a memory-sink scan, so its plan says
    nothing about the job.  The fragment is the same operator tree built
    on batch inputs (pre-write frame, batch twin of the streamed
    transformation, pre-gate join); the audits walk ITS physical plan in
    the query's place, closing the r4 audit blind spot (VERDICT r4 #3).

    Contract (ADVICE r5): a fragment must be built by calling the SAME
    transformation functions the query/job executes (the shared builders
    in streaming/jobs.py and the query modules), never by re-expressing
    the tree inline — otherwise a regression in the real path passes the
    audits unnoticed.  Where an action half (write, compaction,
    cross-epoch state) cannot be shared, the fragment's docstring/comment
    names the dedicated test that exercises the real path.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in FRAGMENTS:
            raise ValueError(f"duplicate fragment: {name}")
        FRAGMENTS[name] = fn
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every query module (side effect: registration) and return the registry."""
    from . import (  # noqa: F401
        aggregates,
        arrays,
        conditional,
        dedup,
        etl_ops,
        file_io,
        functions_scalar,
        joins,
        multimodal,
        pipelines_q,
        relational,
        scale_ops,
        scale_ops2,
        similarity,
        statistics,
        streaming_like,
        text_analysis,
        tpch_shapes,
        tpch_shapes2,
        udfs,
        windows,
    )

    return REGISTRY
