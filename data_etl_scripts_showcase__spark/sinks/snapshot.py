"""Snapshot sinks: date-partitioned writes + promote (SURVEY.md §2.1 S5, S10-S12).

The reference's snapshot mechanics are: date-stamped CSV filenames, a GCS
blob-rename sweep so only the newest file keeps its `.csv` extension
(/root/reference/Azure_datalake_etl/Gonukkad_Merchants.py:142-155 — a
poor-man's "latest partition" pointer), a 10-second sleep for consistency,
and a BigQuery `CREATE OR REPLACE TABLE … AS SELECT` promote
(Gonukkad_Merchants.py:162-178).

Spark-first replacement: partitioned parquet (`ds=YYYY-MM-DD`) written with
dynamic partition overwrite — idempotent re-runs of one day never touch
other days — and promote-as-view over the latest partition.  No renames, no
sleeps: the partition column IS the retention/latest mechanism, and at
100 TB it's also what drives partition pruning on read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DS_COL = "ds"


def write_snapshot(
    df: DataFrame,
    base_path: str,
    ds: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write one dated snapshot partition: ``{base_path}/ds={ds}/``.

    Dynamic partition overwrite: only the written date is replaced
    (idempotent daily re-runs — what the reference's rename sweep tried to
    approximate).
    """
    (
        df.withColumn(DS_COL, F.lit(ds))
        .write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .format(fmt)
        .partitionBy(DS_COL)
        .save(base_path)
    )


def read_snapshot(
    spark: SparkSession, base_path: str, ds: str | None = None, fmt: str = "parquet"
) -> DataFrame:
    """Read one partition (partition-pruned scan) or the full history."""
    df = spark.read.format(fmt).load(base_path)
    return df.where(F.col(DS_COL) == ds) if ds else df


def latest_ds(spark: SparkSession, base_path: str, fmt: str = "parquet") -> str | None:
    """Newest snapshot date — from partition values only (no data scan)."""
    row = (
        spark.read.format(fmt)
        .load(base_path)
        .select(F.max(DS_COL).alias("m"))
        .collect()[0]
    )
    return row.m


def promote_view(
    spark: SparkSession, base_path: str, view_name: str, fmt: str = "parquet"
) -> DataFrame:
    """S12's `CREATE OR REPLACE TABLE dest AS SELECT * FROM temp`, Spark-first:
    atomically (re)bind `view_name` to the latest snapshot partition.

    In a catalog deployment this is `CREATE OR REPLACE TABLE … AS SELECT`;
    on plain parquet the view-over-latest-partition gives the same
    reader-visible semantics with zero data movement.
    """
    ds = latest_ds(spark, base_path, fmt)
    df = read_snapshot(spark, base_path, ds, fmt)
    df.createOrReplaceTempView(view_name)
    return df
