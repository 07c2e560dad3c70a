"""Driver-contract smoke tests: entry(), queries(), oracle_sql() wiring."""

from __future__ import annotations

import importlib

import plan_audits
import pytest


@pytest.fixture(scope="module")
def entry_mod():
    return importlib.import_module("__spark_entry__")


def test_entry_returns_rows(spark, entry_mod):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert {"o_orderkey", "is_open", "order_ds"} <= set(df.columns)


def test_registry_shape(entry_mod):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert "flagship_active_customer_snapshot" in qs
    assert set(oracles) <= set(qs)
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_schema_lint_catches_array_output(spark, sf_dir):
    """The sweep's nested-type lint (plan_audits.nested_columns, run on
    every query by tests/test_oracle_equivalence.py) must actually detect
    a raw-array projection."""
    from pyspark.sql import functions as F

    from data_etl_scripts_showcase__spark.sources import load_table

    df = (
        load_table(spark, sf_dir, "region")
        .groupBy("r_regionkey")
        .agg(F.collect_list("r_name").alias("names"))
    )
    assert plan_audits.nested_columns(df.schema) == ["names: array<string>"]
