"""Targeted deletion over partitioned data (right-to-be-forgotten).

Training-data pipelines need key-level deletes (user opt-outs, DMCA,
contaminated sources) over datasets far too large to rewrite.  The
reference's only deletion mechanism is the blob rename/retention sweep
(/root/reference/Azure_datalake_etl/Gonukkad_Merchants.py:142-155) — whole
files by age, nothing row-level.

Spark-first shape: the dataset is date-partitioned; a delete (a) finds the
partitions that actually CONTAIN the doomed keys (an aggregate over
partition values — metadata-scale, not data-scale), then (b) rewrites ONLY
those partitions through an anti-join under dynamic partition overwrite.
Untouched partitions are never read or written (asserted file-level in
tests/test_pipelines.py).  At 100 TB with daily partitions, deleting one
user touches the handful of days they appear in, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def affected_partitions(
    df: DataFrame, part_col: str, key_col: str, keys: list
) -> list[str]:
    """Partition values containing any of ``keys`` — the rewrite set.

    One pushdown-filtered scan projecting only (part_col); the collect is
    |affected partitions| values, the same metadata-scale driver read as
    `snapshot.latest_ds`.
    """
    rows = (
        df.where(F.col(key_col).isin(keys))
        .select(part_col)
        .distinct()
        .collect()
    )
    return sorted(str(r[0]) for r in rows)


def targeted_delete(
    spark: SparkSession,
    base_path: str,
    part_col: str,
    key_col: str,
    keys: list,
) -> list[str]:
    """Delete all rows with ``key_col ∈ keys`` from a ``part_col``-
    partitioned parquet dataset, rewriting only affected partitions.

    Returns the rewritten partition values.  Dynamic partition overwrite
    means a re-run (or a crash between partitions) is idempotent: the
    rewrite of a partition replaces exactly that partition.
    """
    df = spark.read.parquet(base_path)
    parts = affected_partitions(df, part_col, key_col, keys)
    if not parts:
        return []
    (
        df.where(F.col(part_col).isin(parts))
        .where(~F.col(key_col).isin(keys))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(base_path)
    )
    return parts


def partition_file_stats(
    spark: SparkSession, base_path: str, part_col: str
) -> DataFrame:
    """Files per partition value — the compaction decision input.

    Built from ``input_file_name()`` over a metadata-only projection (the
    scan reads no data columns); at 100 TB this is the file listing the
    driver would otherwise do, kept distributed.
    """
    df = spark.read.parquet(base_path)
    return (
        df.select(F.col(part_col), F.input_file_name().alias("f"))
        .groupBy(part_col)
        .agg(F.countDistinct("f").cast("bigint").alias("n_files"))
    )


def compact_partitions(
    spark: SparkSession,
    base_path: str,
    part_col: str,
    max_files: int = 1,
) -> list[str]:
    """Small-file compaction (the OPTIMIZE of transactional formats):
    rewrite every partition holding more than ``max_files`` files into ONE
    coalesced file; partitions already at or under the threshold are NOT
    read or rewritten (same file-preservation discipline as
    :func:`targeted_delete`, asserted in tests).

    The rewrite hash-partitions on ``part_col``, which co-locates each
    partition value in one task → exactly one output file per partition
    under ``partitionBy`` (file SIZE is governed upstream by how much data
    a partition holds; partitions too big for one file belong in a finer
    partitioning scheme, not bigger compaction fan-out).

    Streaming appends (`incremental_rollup`, `idempotent_epoch_sink`)
    produce one file per micro-batch per partition — this is their
    steady-state maintenance companion.  Returns rewritten partitions.
    """
    stats = partition_file_stats(spark, base_path, part_col)
    parts = sorted(
        str(r[0]) for r in stats.where(F.col("n_files") > max_files).collect()
    )
    if not parts:
        return []
    df = spark.read.parquet(base_path)
    (
        df.where(F.col(part_col).isin(parts))
        .repartition(max(1, len(parts) // 4 + 1), F.col(part_col))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(base_path)
    )
    return parts


def expire_versions(base_dir: str, keep_last: int) -> list[str]:
    """Expire old snapshot VERSIONS (the `vNNNNNNNNN` immutable dirs the
    incremental-snapshot and time-travel paths publish), keeping the
    newest ``keep_last``.

    This is the retention half of time travel (streaming.read_snapshot_as_of):
    versions are append-only and immutable, so storage grows per publish
    until something bounds history — the VACUUM of transactional formats.
    Deleting whole version directories is metadata-scale work (no data
    read), ordered oldest-first so a crash mid-expiry leaves a contiguous
    recent history.  Returns the dropped version names.
    """
    import os
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = sorted(
        d for d in (os.listdir(base_dir) if os.path.isdir(base_dir) else [])
        if d.startswith("v")
    )
    doomed = versions[:-keep_last] if len(versions) > keep_last else []
    for d in doomed:
        shutil.rmtree(os.path.join(base_dir, d))
    return doomed
