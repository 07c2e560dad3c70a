"""The three workloads: which data each reads and which operations one
pass runs.

An operation is either a registry query (driver build, then execution of
the built plan) or one call of a pipeline or maintenance function.  The
seed sets the order of the operations within each pass and, for
``daily_etl``, which of the stored date/delete-key variants the pass uses;
the engine only ever sees the input tables and those values.
"""

from __future__ import annotations

import importlib
import os
import random
from collections.abc import Callable
from dataclasses import dataclass, field

import layers

PKG = layers.PKG


class Engine:
    """The engine modules the operations call, resolved at call time so
    that a re-import during set-up (and the tracing wrappers installed on
    it) is what runs."""

    def __init__(self, registry: dict):
        self.registry = registry
        self.pipelines = importlib.import_module(f"{PKG}.plans.pipelines")
        self.sinks = importlib.import_module(f"{PKG}.sinks")
        self.files = importlib.import_module(f"{PKG}.sources.files")
        self.quality = importlib.import_module(f"{PKG}.sinks.quality")


@dataclass
class Ctx:
    spark: object
    eng: Engine
    sf_dir: str
    out_dir: str
    variant: dict
    tracer: layers.Tracer | None = None
    state: dict = field(default_factory=dict)
    checking: bool = False  # the warm-up pass, whose outputs are checked

    @property
    def traced(self) -> bool:
        return self.tracer is not None and self.tracer.enabled


@dataclass(frozen=True)
class Op:
    name: str
    stage: int  # ops of a later stage read what earlier stages wrote
    run: Callable[[Ctx], None]
    output: Callable[[Ctx], object]  # the DataFrame the check fingerprints
    files_of: str | None = None  # output dir whose file count is checked
    rewrites: bool = False  # rewrites data already written this pass


@dataclass(frozen=True)
class Workload:
    name: str
    ops: list[Op]
    variants: list[dict] = field(default_factory=lambda: [{}])

    def variant_index(self, seed: int) -> int:
        return seed % len(self.variants)


def pass_order(ops: list[Op], seed: int, pass_no: int) -> list[Op]:
    """The seeded order of one pass: stages in order, shuffled within."""
    rng = random.Random(f"{seed}:{pass_no}")
    out: list[Op] = []
    for stage in sorted({op.stage for op in ops}):
        group = [op for op in ops if op.stage == stage]
        rng.shuffle(group)
        out.extend(group)
    return out


# -- registry query operations --------------------------------------------
def execute(qe) -> None:
    """Run a built plan through its own QueryExecution and count its rows.

    Every row is produced, as a noop write would, but no write command
    wraps the plan: a write builds a second QueryExecution and optimizes
    and plans the whole tree again, so the phases read from the first
    would not be those of the plan that ran.
    """
    qe.toRdd().count()


def run_query(ctx: Ctx, qname: str) -> None:
    fn = ctx.eng.registry[qname].fn
    if not ctx.traced:
        df = fn(ctx.spark, ctx.sf_dir)
        if ctx.checking:  # the check fingerprints the output without re-running it
            df = df.persist()
        execute(df._jdf.queryExecution())
        ctx.state["df"] = df
        return
    t, sc = ctx.tracer, ctx.spark.sparkContext
    with t.span("queries", qname):
        df = fn(ctx.spark, ctx.sf_dir)
    qe = df._jdf.queryExecution()
    with t.span("catalyst"):
        for k, v in layers.catalyst_phases(qe).items():
            t.count(k, v)
    task0, gc0 = layers.executor_totals(sc)
    with t.span("execution"):
        execute(qe)
    task1, gc1 = layers.executor_totals(sc)
    t.count("execution.task_s", task1 - task0)
    t.count("execution.gc_s", gc1 - gc0)
    ctx.state["df"] = df


def query_op(short: str, registry_names: list[str], stage: int = 0) -> Op:
    qname = next(n for n in registry_names if n.split("_")[0] == short)
    return Op(
        name=qname,
        stage=stage,
        run=lambda ctx: run_query(ctx, qname),
        output=lambda ctx: ctx.state["df"],
    )


# -- daily_etl pipeline and maintenance operations --------------------------
def _snap(table: str) -> Op:
    def run(ctx: Ctx) -> None:
        ctx.eng.pipelines.snapshot_pipeline(
            ctx.spark, ctx.sf_dir, table, f"{ctx.out_dir}/snap_{table}", ctx.variant["ds"]
        )

    return Op(f"snapshot_{table}", 0, run, lambda ctx: _read_snap(ctx, f"snap_{table}"))


def _read_snap(ctx: Ctx, sub: str):
    return ctx.eng.sinks.read_snapshot(ctx.spark, f"{ctx.out_dir}/{sub}", ctx.variant["ds"])


def _filtered(ctx: Ctx) -> None:
    ctx.eng.pipelines.filtered_snapshot_pipeline(
        ctx.spark, ctx.sf_dir, f"{ctx.out_dir}/filtered", ctx.variant["ds"]
    )


ENRICH_KEYS = 100  # customers enriched per pass (mock fetcher, 8 calls each)


def _enrichment(ctx: Ctx) -> None:
    wide = ctx.eng.pipelines.enrichment_pipeline(
        ctx.spark,
        ctx.sf_dir,
        f"{ctx.out_dir}/enriched",
        ctx.variant["ds"],
        limit_keys=ENRICH_KEYS,
    )
    ctx.state["wide"] = wide
    if ctx.traced:
        ctx.tracer.count("enrichment.rows", wide.count())


def _insights(ctx: Ctx) -> None:
    proj = ctx.eng.pipelines.insights_projection(
        ctx.state["wide"], ctx.variant["insight_ds"], ctx.variant["ds"]
    )
    ctx.eng.files.write_csv(proj, f"{ctx.out_dir}/insights_csv")


def _compact(ctx: Ctx) -> None:
    ctx.eng.sinks.compact_partitions(ctx.spark, f"{ctx.out_dir}/snap_orders", "ds")


def _delete(ctx: Ctx) -> None:
    ctx.eng.sinks.targeted_delete(
        ctx.spark, f"{ctx.out_dir}/snap_customer", "ds", "c_custkey", ctx.variant["keys"]
    )


def _promote(ctx: Ctx) -> None:
    ctx.eng.sinks.promote_view(ctx.spark, f"{ctx.out_dir}/snap_lineitem", "lineitem_latest")


# The seed picks one of these per run; expected outputs are stored for each.
ETL_VARIANTS = [
    {"ds": "2026-01-05", "insight_ds": "2026-01-06", "keys": [3, 141, 592, 653]},
    {"ds": "2026-02-10", "insight_ds": "2026-02-11", "keys": [58, 979, 1323, 846]},
    {"ds": "2026-03-15", "insight_ds": "2026-03-16", "keys": [264, 338, 327, 950]},
    {"ds": "2026-04-20", "insight_ds": "2026-04-21", "keys": [288, 419, 716, 939]},
]

WORKLOAD_NAMES = ("olap_scaleup", "corpus_loops", "daily_etl")
OLAP_QUERIES = ["q1", "q3", "q9", "q21"]
CORPUS_QUERIES = ["pr5", "d9", "v9", "a33"]
ETL_QUERIES = ["st19", "d9", "v9"]


def workloads(registry_names: list[str]) -> dict[str, Workload]:
    names = sorted(registry_names)
    etl_ops = [_snap(t) for t in ("lineitem", "orders", "customer")] + [
        Op("filtered_snapshot", 0, _filtered, lambda c: _read_snap(c, "filtered")),
        Op("enrichment", 0, _enrichment, lambda c: _read_snap(c, "enriched")),
        Op(
            "insights_csv",
            1,
            _insights,
            lambda c: c.spark.read.csv(f"{c.out_dir}/insights_csv", header=True),
        ),
        Op(
            "compact_orders",
            1,
            _compact,
            lambda c: _read_snap(c, "snap_orders"),
            files_of="snap_orders",
            rewrites=True,
        ),
        Op(
            "delete_customers",
            1,
            _delete,
            lambda c: _read_snap(c, "snap_customer"),
            rewrites=True,
        ),
        Op("promote_lineitem", 1, _promote, lambda c: c.spark.table("lineitem_latest")),
    ] + [query_op(q, names) for q in ETL_QUERIES]
    return {
        "olap_scaleup": Workload("olap_scaleup", [query_op(q, names) for q in OLAP_QUERIES]),
        "corpus_loops": Workload("corpus_loops", [query_op(q, names) for q in CORPUS_QUERIES]),
        "daily_etl": Workload("daily_etl", etl_ops, variants=ETL_VARIANTS),
    }


def file_count(path: str) -> int:
    """Data files under ``path`` (Spark's marker and checksum files excluded)."""
    return sum(
        1
        for _, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def files_since(path: str, t0: float) -> tuple[int, int]:
    """(count, bytes) of data files under ``path`` modified at or after ``t0``
    (a ``time.time()`` value)."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= t0:
                n += 1
                size += st.st_size
    return n, size
