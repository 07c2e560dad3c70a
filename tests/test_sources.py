"""The session-scoped table bind in ``sources/tables.py``.

The first ``load_table`` of a path infers the parquet footer schema (one
Spark job) and validates it against the registry; later loads with an
unchanged file listing reuse that schema and run no job.  These tests pin
that drift still raises on a first bind and after an in-place rewrite, that
a rewritten table is re-bound rather than served stale, and the job budget.
"""

from __future__ import annotations

import shutil
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from data_etl_scripts_showcase__spark.queries import load_all
from data_etl_scripts_showcase__spark.sources.tables import (
    SchemaDriftError,
    footer_schema,
    load_table,
)

SRC = "/root/testdata/sf0.001"


@contextmanager
def job_count(spark, group: str):
    """Counts the Spark jobs run inside the block: ``box[0]`` after exit."""
    sc = spark.sparkContext
    box = [0]
    sc.setJobGroup(group, group)
    try:
        yield box
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        box[0] = len(sc.statusTracker().getJobIdsForGroup(group))


def _copy(tmp_path, *names: str) -> str:
    for name in names:
        shutil.copy(f"{SRC}/{name}.parquet", tmp_path / f"{name}.parquet")
    return str(tmp_path)


def _write_orders(sf_dir: str, drift: bool = False, rows: int | None = None) -> None:
    """Rewrite ``orders`` in place: ``o_totalprice`` as float32 if
    ``drift``, only the first ``rows`` rows if given."""
    tbl = pq.read_table(f"{SRC}/orders.parquet")
    if rows is not None:
        tbl = tbl.slice(0, rows)
    if drift:
        i = tbl.schema.get_field_index("o_totalprice")
        tbl = tbl.set_column(
            i, "o_totalprice", pc.cast(tbl["o_totalprice"], pa.float32())
        )
    pq.write_table(tbl, f"{sf_dir}/orders.parquet")


def test_drifted_copy_raises(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write_orders(sf_dir, drift=True)
    with pytest.raises(SchemaDriftError, match="o_totalprice"):
        load_table(spark, sf_dir, "orders")


def test_rewrite_in_place_with_drift_raises(spark, tmp_path):
    sf_dir = _copy(tmp_path, "orders")
    load_table(spark, sf_dir, "orders")
    load_table(spark, sf_dir, "orders")  # a reused bind
    _write_orders(sf_dir, drift=True)
    with pytest.raises(SchemaDriftError, match="o_totalprice"):
        load_table(spark, sf_dir, "orders")


def test_rewrite_with_new_rows_is_rebound(spark, tmp_path):
    sf_dir = _copy(tmp_path, "orders")
    n = load_table(spark, sf_dir, "orders").count()
    _write_orders(sf_dir, rows=n // 2)
    got = load_table(spark, sf_dir, "orders")
    assert got.count() == n // 2
    want = pq.read_table(f"{sf_dir}/orders.parquet")["o_orderkey"].to_pylist()
    assert sorted(r.o_orderkey for r in got.select("o_orderkey").collect()) == sorted(
        want
    )


def test_a_bound_table_loads_and_builds_with_no_job(spark, tmp_path):
    sf_dir = _copy(tmp_path, "customer", "orders", "lineitem", "documents")
    with job_count(spark, "bind_first") as first:
        load_table(spark, sf_dir, "orders")
    with job_count(spark, "bind_reused") as reused:
        a = load_table(spark, sf_dir, "orders")
        b = load_table(spark, sf_dir, "orders")
    assert (first[0], reused[0]) == (1, 0)
    # two loads are two relations: a self-join on the key resolves
    assert a.join(b, a.o_orderkey == b.o_orderkey).count() == a.count()

    for name in ("customer", "lineitem", "documents"):
        load_table(spark, sf_dir, name)
    q3 = load_all()["q3_shipping_priority"].fn
    with job_count(spark, "q3_build") as build:
        q3(spark, sf_dir)
        footer_schema(spark, sf_dir, "documents")  # a stream builder's read
    assert build[0] == 0


def test_a_new_session_or_an_unlistable_path_binds_afresh(spark, tmp_path):
    sf_dir = _copy(tmp_path, "region")
    load_table(spark, sf_dir, "region")
    other = spark.newSession()
    with job_count(other, "new_session") as fresh:
        load_table(other, sf_dir, "region")
        load_table(other, sf_dir, "region")
    assert fresh[0] == 1
    # os cannot list a URI, so it is never recorded
    with job_count(spark, "uri") as uri:
        load_table(spark, f"file://{sf_dir}", "region")
        load_table(spark, f"file://{sf_dir}", "region")
    assert uri[0] == 2


def test_nanos_events_load_as_floored_micros(spark, tmp_path):
    """A foreign events file storing TIMESTAMP(NANOS) loads as microsecond
    NTZ values with the sub-microsecond part dropped, on the first bind
    and on the reused one."""
    tbl = pq.read_table(f"{SRC}/events.parquet")
    us = tbl["ts"].cast(pa.int64()).to_pylist()
    ns = [u * 1000 + (u % 1000) for u in us]  # sub-µs residues 0..999
    i = tbl.schema.get_field_index("ts")
    pq.write_table(
        tbl.set_column(i, "ts", pa.array(ns, pa.timestamp("ns"))),
        tmp_path / "events.parquet",
    )
    want = tbl.select(["event_id", "ts"]).to_pylist()
    for group in ("nanos_first", "nanos_reused"):
        with job_count(spark, group) as jobs:
            df = load_table(spark, str(tmp_path), "events")
        assert jobs[0] == (group == "nanos_first")
        assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
        got = [r.asDict() for r in df.select("event_id", "ts").collect()]
        assert sorted(got, key=lambda r: r["event_id"]) == sorted(
            want, key=lambda r: r["event_id"]
        )
