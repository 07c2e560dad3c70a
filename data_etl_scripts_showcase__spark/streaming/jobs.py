"""Structured Streaming jobs over the events table (SURVEY.md §2.10).

The reference is batch-only; its closest streaming-adjacent semantics are
the daily incremental snapshot (Gonukkad_Merchants.py:79-84), the D-7
rolling metric window (main.py:159-162, 587-607) and latest-record-wins
(main.py:659-662).  This module provides their Structured Streaming
equivalents: windowed aggregations with watermarks, stateful dedup, and
availableNow incremental processing — validated against their batch
equivalents on the same data (SURVEY §7 risk register: streaming has no
reference ground truth, so batch equivalence IS the test).

Epoch-sink output schema (since r4): the per-epoch parquet sinks encode the
epoch ONLY in the partition directory (``out/epoch=N/``) — data files carry
no ``epoch`` column.  Readers of the PARENT path get ``epoch`` back via
partition discovery; readers of a SINGLE epoch directory see only the data
columns and must take the epoch from the path (as the replay test does).
"""

from __future__ import annotations

import os as _os
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dec2, ntz_epoch_us
from ..ckpt import ckpt
from ..sources import footer_schema

#: State partitioning for the fresh-checkpoint drains below (VERDICT r8
#: #5).  Stateful operators create one state-store instance PER SHUFFLE
#: PARTITION per operator, and every micro-batch commit pays a per-store
#: file write — so a drain inheriting the session's CPU-oriented
#: ``spark.sql.shuffle.partitions`` (32) pays 32×(stores) commits to hold
#: ~10⁴–10⁵ state rows (measured on st7 at sf0.1: 5.4 s → 2.0 s going
#: 32 → 8 partitions, byte-identical output).  State partitioning should
#: track STATE VOLUME (rate × watermark horizon), not core count; at
#: production rates raise the env (the value binds per checkpoint
#: lifetime, and every drain here creates a fresh checkpoint, so the
#: knob always applies locally).  Results are partition-count-invariant —
#: the full oracle gate re-verifies that after any change here.
STATE_PARTITIONS = int(
    _os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")
)


@contextmanager
def sized_state_partitions(spark: SparkSession, n: int | None = None):
    """Pin ``spark.sql.shuffle.partitions`` for the lifetime of ONE
    fresh-checkpoint streaming drain (start + awaitTermination must BOTH
    run inside — micro-batch planning reads the conf during the drain),
    restoring the session value after."""
    n = STATE_PARTITIONS if n is None else n
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def stream_source_path(sf_dir: str, table: str) -> tuple[str, str]:
    """(load_path, pathGlobFilter) for a file-stream over ONE table.

    The driver testdata stores each table as a single ``{table}.parquet``
    FILE, so the stream loads ``sf_dir`` glob-filtered to that name (the
    file-stream source wants a directory, and the filter keeps sibling
    tables out of the stream).  Spark-written datasets — e.g. the scale
    probe's synthetic scale-ups (tools/scale_probe.py) — store each table
    as a DIRECTORY of part files; a filename glob matches nothing there
    and the stream silently sees zero files, so load the table directory
    itself and glob its parts instead.
    """
    p = _os.path.join(sf_dir, f"{table}.parquet")
    if _os.path.isdir(p):
        return p, "*.parquet"
    return sf_dir, f"{table}.parquet"


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over the events parquet (schema declared, never inferred).

    ``max_files_per_trigger`` splits an availableNow drain into real
    micro-batches (one per N source files) — how tools/stream_state_report.py
    measures per-batch state curves; queries leave it None (one batch).

    The parquet footer is authoritative (same rule as the batch loader,
    sources/tables.py): take the file's footer schema from the batch
    loader's bind (``footer_schema``: inferred and validated once per file
    listing), declare THAT as the stream schema.  A legacy nanos-stored file
    surfaces `ts` as int64 and gets the same micros floor-division the batch
    loader applies; a TIMESTAMP(MICROS) file streams as-is.  One deviation:
    `ts` is declared TIMESTAMP (with zone) because watermarks reject
    TIMESTAMP_NTZ ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]); the session TZ is
    pinned UTC, so wall-clock values match the batch loader's NTZ values
    exactly and stream/batch equivalence holds by construction.
    """
    from pyspark.sql import types as T

    file_schema = footer_schema(spark, sf_dir, "events")
    ts_is_long = isinstance(file_schema["ts"].dataType, T.LongType)
    stream_schema = T.StructType(
        [
            T.StructField(
                f.name,
                T.TimestampType()
                if f.name == "ts" and not ts_is_long
                else f.dataType,
                f.nullable,
            )
            for f in file_schema.fields
        ]
    )
    path, glob = stream_source_path(sf_dir, "events")
    reader = (
        spark.readStream.schema(stream_schema)
        .format("parquet")
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    raw = reader.load(path)
    if ts_is_long:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling-window counts + exact-decimal value sums per event type."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec2("value")).cast("double").alias("value_sum"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "value_sum",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding-window counts (each event lands in window/slide windows)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window, slide), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
        )
    )


def sessionize_batch(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Per-user session windows (session_window — dynamic-gap sessionization).

    Works identically over a stream (watermark added automatically — it
    bounds the open-session state) or a batch frame; the oracle equivalent
    is the classic lag/cumsum gaps-and-islands SQL.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


def stream_dedup_keys(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup: first event per (user_id, event_type).

    dropDuplicatesWithinWatermark bounds the dedup state — the streaming
    form of latest/first-record-wins (main.py:659-662).
    """
    src = events.withWatermark("ts", watermark)
    return src.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )


def stateful_user_activity(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``.

    Per-user running activity state: (event count, first/last event time).
    Each micro-batch updates the state and emits the user's running totals,
    so the emission with the highest ``n_events`` per user IS the final
    state — which equals batch ``groupBy(user_id).agg(count, min, max)``
    regardless of how availableNow splits the input into batches.  That
    batch-equivalence is the oracle (SURVEY §7: streaming has no reference
    ground truth).

    Scale design: state is 3 bigints per user key, partitioned by the
    groupBy hash — state size is O(|users|), independent of event volume;
    Arrow-batched pandas transfer keeps the Python boundary vectorized.
    Timestamps cross the boundary as int64 micros (exact — no pandas
    datetime coercion).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = events.select(F.col("user_id"), ntz_epoch_us("ts").alias("ts_us"))

    out_schema = (
        "user_id bigint, n_events bigint, first_ts_us bigint, last_ts_us bigint"
    )
    state_schema = "n bigint, first_us bigint, last_us bigint"

    def update(key, pdfs, state: GroupState):
        n, first_us, last_us = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            mn, mx = int(pdf["ts_us"].min()), int(pdf["ts_us"].max())
            first_us = mn if first_us is None else min(first_us, mn)
            last_us = mx if last_us is None else max(last_us, mx)
        state.update((n, first_us, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "first_ts_us": [first_us],
                "last_ts_us": [last_us],
            }
        )

    return src.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def final_user_activity(emissions: DataFrame) -> DataFrame:
    """Collapse stateful_user_activity emissions to the final per-user state.

    ``n_events`` strictly increases per emission and first/last are running
    min/max, so max/min/max over emissions equals the last state exactly.
    """
    return emissions.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.date_format(
            F.timestamp_micros(F.min("first_ts_us")), "yyyy-MM-dd HH:mm:ss"
        ).alias("first_ts"),
        F.date_format(
            F.timestamp_micros(F.max("last_ts_us")), "yyyy-MM-dd HH:mm:ss"
        ).alias("last_ts"),
    )


def incremental_rollup(
    events: DataFrame,
    out_path: str,
    window: str = "1 hour",
    watermark: str = "10 minutes",
):
    """Hypertable-style continuous aggregate: maintain a date-partitioned
    hourly rollup table incrementally from the event stream.

    ``trigger(availableNow)`` + ``foreachBatch``: each micro-batch's
    windowed partials land as date partitions (`ds=`), so (a) re-runs only
    touch the dates present in the batch, (b) readers prune to the days
    they ask for, and (c) a restart resumes from the checkpoint instead of
    recomputing history.  Readers re-aggregate per window on read (partials
    are additive: counts and decimal sums), which is what makes per-batch
    appends safe without read-modify-write.
    """
    agg = tumbling_counts(events, window=window, watermark=watermark)

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        # One file per (batch, ds): the windowed partials are a tiny
        # aggregate (|windows×types| rows), but without the ds clustering
        # every shuffle partition writes a sliver into every ds dir —
        # STATE_PARTITIONS×|ds| files per batch that the reader then has
        # to list and open (measured: the read-back re-aggregate was the
        # bulk of st9's bench tail).  Clustering by ds is one tiny
        # shuffle; readers still prune by ds either way.
        (
            df.withColumn("ds", F.substring("window_start", 1, 10))
            .repartition("ds")
            .write.mode("append")
            .partitionBy("ds")
            .parquet(out_path)
        )

    with sized_state_partitions(agg.sparkSession):
        q = (
            agg.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="ckpt_rollup_")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def read_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Read the continuous aggregate, merging per-batch partials."""
    return (
        spark.read.parquet(path)
        .groupBy("window_start", "event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum(dec2("value_sum")).cast("double").alias("value_sum"),
        )
    )


def start_to_memory(sdf: DataFrame, mode: str = "complete", name: str | None = None):
    """Start a streaming frame into a memory sink with availableNow, await
    termination, and return ``(query, qname)``.  The terminated query
    handle still answers ``explainInternal`` — which is how
    tests/test_streaming.py walks the EXECUTED streaming physical plans
    (the batch plan audits cannot see them; VERDICT r5 #3)."""
    qname = name or f"mem_{uuid.uuid4().hex[:8]}"
    with sized_state_partitions(sdf.sparkSession):
        q = (
            sdf.writeStream.format("memory")
            .queryName(qname)
            .outputMode(mode)
            .option("checkpointLocation", tempfile.mkdtemp(prefix=f"ckpt_{qname}_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q, qname


def run_to_memory(
    sdf: DataFrame, mode: str = "complete", name: str | None = None
) -> DataFrame:
    """Drive a streaming frame to completion synchronously (availableNow)
    and return the materialized result from the memory sink."""
    spark = sdf.sparkSession
    _, qname = start_to_memory(sdf, mode=mode, name=name)
    return spark.table(qname)


def click_purchase_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to every click
    by the same user in the preceding ``horizon``.

    The event-time bound in the join condition is what lets Structured
    Streaming expire buffered state: with both sides watermarked, a click
    older than (watermark + horizon) can never match a future purchase and
    is dropped from the state store — bounded memory at any stream length.
    Without the time bound this would be an ever-growing unbounded join.
    """
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return c.join(p, cond, "inner").select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        (
            ntz_epoch_us("purchase_ts")
            - ntz_epoch_us("click_ts")
        ).alias("lag_us"),
    )


def user_snapshot(events: DataFrame) -> DataFrame:
    """Per-user SCD1 snapshot row from a batch of raw events: latest
    event's fields (ties pinned by event_id) plus a cumulative count."""
    latest = F.max_by(
        F.struct(
            F.col("event_type").alias("last_type"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
            F.col("event_id").alias("last_event_id"),
        ),
        F.struct("ts", "event_id"),
    )
    return events.groupBy("user_id").agg(
        latest.alias("l"), F.count("*").alias("n_events")
    ).select("user_id", "l.*", "n_events")


def merge_snapshots(prev: DataFrame, delta: DataFrame) -> DataFrame:
    """Keyed merge of two snapshot tables: latest-wins on the event fields
    (ordered by (last_ts, last_event_id) — exact, no wall-clock), additive
    on the cumulative count.  Associative, so any micro-batch slicing of
    the input stream converges to the same snapshot."""
    latest = F.max_by(
        F.struct("last_type", "last_ts", "last_value", "last_event_id"),
        F.struct("last_ts", "last_event_id"),
    )
    return (
        prev.unionByName(delta)
        .groupBy("user_id")
        .agg(latest.alias("l"), F.sum("n_events").alias("n_events"))
        .select("user_id", "l.*", F.col("n_events").cast("bigint").alias("n_events"))
    )


def incremental_user_snapshot(
    events: DataFrame, base_dir: str
) -> None:
    """Streaming SCD1 snapshot maintenance — the Structured Streaming form
    of the reference's daily snapshot promote (S12, CREATE OR REPLACE):
    each micro-batch merges its per-user delta into the previous snapshot
    VERSION and publishes a new immutable version directory; readers always
    see a complete snapshot, never a half-written one (the rename-sweep
    "latest pointer" hack of S11, done atomically with versioned paths).

    At 100 TB the merge shuffles only the user-keyed snapshot + the day's
    delta (not history), and the version write is partitioned by the same
    key — identical plan to x4's batch MERGE, driven incrementally."""
    import os

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        delta = user_snapshot(batch)
        versions = sorted(
            d for d in (os.listdir(base_dir) if os.path.isdir(base_dir) else [])
            if d.startswith("v")
        )
        if versions:
            prev = spark.read.parquet(os.path.join(base_dir, versions[-1]))
            merged = merge_snapshots(prev, delta)
        else:
            merged = delta
        merged.write.mode("overwrite").parquet(
            os.path.join(base_dir, f"v{epoch_id:09d}")
        )

    with sized_state_partitions(events.sparkSession):
        q = (
            events.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_snap_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def read_latest_snapshot(spark: SparkSession, base_dir: str) -> DataFrame:
    """Read the current (highest-version) snapshot."""
    import os

    versions = sorted(d for d in os.listdir(base_dir) if d.startswith("v"))
    return spark.read.parquet(os.path.join(base_dir, versions[-1]))


def read_snapshot_as_of(
    spark: SparkSession, base_dir: str, version: int
) -> DataFrame:
    """TIME TRAVEL: read the snapshot at or before ``version``.

    Versions are immutable directories, so any historical state remains
    readable after later merges — the Delta/Iceberg `VERSION AS OF`
    semantics on plain parquet.  Readers pick the highest published
    version ≤ the requested one; retention (sinks/retention.py) bounds
    how far back travel reaches."""
    import os

    versions = sorted(
        int(d[1:]) for d in os.listdir(base_dir) if d.startswith("v")
    )
    eligible = [v for v in versions if v <= version]
    if not eligible:
        raise ValueError(f"no snapshot version <= {version} in {base_dir}")
    return spark.read.parquet(os.path.join(base_dir, f"v{eligible[-1]:09d}"))


def has_transform_with_state_runtime() -> bool:
    """transformWithStateInPandas needs the protobuf runtime (its state
    API speaks StateMessage protos to the JVM).  Capability-gate, don't
    crash: environments without `google.protobuf` route to the
    applyInPandasWithState fallback below."""
    import importlib.util

    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # parent package 'google' absent entirely
        return False


def running_totals_source(events: DataFrame) -> DataFrame:
    """Shared input projection for the running-totals operators: value is
    converted to exact integer cents SPARK-SIDE (decimal → bigint) before
    any Arrow boundary, so state accumulation is integer math — no double
    accumulation-order drift (the v9/x4 micro-unit discipline)."""
    return events.select(
        F.col("user_id"),
        F.round(dec2("value") * 100).cast("bigint").alias("cents"),
    )


def apply_with_state_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals via ``applyInPandasWithState`` — the
    protobuf-free fallback with identical semantics and output schema to
    :func:`transform_with_state_totals`."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = running_totals_source(events)

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            if len(pdf):
                n += len(pdf)
                cents += int(pdf["cents"].sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "value_cents": [cents]}
        )

    return src.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id bigint, n_events bigint, value_cents bigint",
        "n bigint, cents bigint",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def transform_with_state_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` — the
    Spark 4 arbitrary-state API (successor to applyInPandasWithState,
    st5's operator): typed ValueState, explicit init/close lifecycle,
    timer support, and state schema evolution.  Requires the protobuf
    runtime (see :func:`has_transform_with_state_runtime`).

    State per user: (event count, value in exact integer cents).  Cents
    are computed Spark-side (decimal → bigint) BEFORE crossing the Arrow
    boundary, so the accumulation is integer math — no double
    accumulation-order drift, the same micro-unit discipline as v9/x4.
    Emissions carry the running totals; as in st5, the max-count emission
    per user IS the final state, equal to the batch aggregate no matter
    how availableNow slices the input.

    Scale: state is 2 bigints per user, hash-partitioned by the groupBy
    key and persisted in the state store (RocksDB at scale) — O(|users|),
    independent of stream length.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    src = running_totals_source(events)

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n bigint, cents bigint"
            )

        def handleInputRows(self, key, rows, timer_values):
            n, cents = (
                tuple(self._state.get()) if self._state.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum()) if len(pdf) else 0
            self._state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "value_cents": [cents]}
            )

        def close(self) -> None:
            pass

    return src.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType="user_id bigint, n_events bigint, value_cents bigint",
        outputMode="Update",
        timeMode="None",
    )


def final_totals(emissions: DataFrame) -> DataFrame:
    """Collapse transform_with_state_totals emissions to final state:
    counts strictly increase per emission, so argmax-by-count is the last
    state (max_by tie-broken by itself — emissions for a key are totally
    ordered in n_events)."""
    return emissions.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("value_cents", "n_events").alias("value_cents"),
    )


def idempotent_epoch_sink(
    events: DataFrame, out_path: str
) -> None:
    """Exactly-once-per-epoch file sink: each micro-batch lands in its own
    ``epoch=<id>`` directory with OVERWRITE mode, so a replayed batch (the
    at-least-once delivery foreachBatch gives you after a crash-restart)
    REPLACES its own previous attempt instead of appending duplicates —
    idempotence is what upgrades at-least-once delivery to exactly-once
    observable output.  Readers scan ``out_path`` recursively; the epoch
    directory is invisible to them (partition column).

    This is the file-sink form of the (batchId, key) MERGE pattern a
    transactional sink would use; asserted by replaying an epoch in
    tests/test_streaming.py.
    """

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        write_epoch(df, out_path, epoch_id)

    with sized_state_partitions(events.sparkSession):
        q = (
            events.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_epoch_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def write_epoch(df: DataFrame, out_path: str, epoch_id: int) -> None:
    """One epoch's write, exposed so tests can replay an epoch verbatim."""
    (
        # The epoch is encoded ONLY in the partition directory name —
        # writing it into the files too would collide with partition
        # discovery on read-back (COLUMN_ALREADY_EXISTS noise burying
        # real warnings).  Parent-dir readers get `epoch` from discovery.
        df.drop("epoch")
        .write.mode("overwrite")
        .parquet(f"{out_path}/epoch={int(epoch_id)}")
    )


def streaming_cms(events: DataFrame, out_path: str, key_col: str = "user_id") -> None:
    """Maintain a count-min sketch FROM A STREAM: each micro-batch builds
    its own grid partial (a few hundred rows) and appends it; readers
    merge partials cell-wise.  Because CMS merge is exact (cell sums),
    the streamed sketch equals the batch sketch bit-for-bit no matter how
    availableNow slices the input — the sketch-family analog of the
    incremental_rollup partials pattern, and the 100 TB shape for
    "frequency tracking over an unbounded stream in 1 Ki counters"."""
    from ..operators.sketches import cms_build

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        cms_build(df, key_col).write.mode("append").parquet(out_path)

    with sized_state_partitions(events.sparkSession):
        q = (
            events.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_cms_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def read_cms(spark: SparkSession, out_path: str) -> DataFrame:
    """Merge the streamed sketch partials into one grid."""
    from ..operators.sketches import cms_merge

    return cms_merge(spark.read.parquet(out_path))


def streaming_hll(
    events: DataFrame, out_path: str, key_col: str = "user_id"
) -> None:
    """Maintain a HyperLogLog register table FROM A STREAM: each micro-
    batch appends its own ≤64-row register partial; readers merge by
    cell-wise max.  Max is idempotent AND commutative, so the streamed
    registers equal the batch registers bit-for-bit at any micro-batch
    slicing — and a replayed batch (at-least-once delivery) cannot move
    the result.  The streaming distinct-count shape for "how many unique
    users ever" over an unbounded stream in 64 counters."""
    from ..operators.sketches import hll_registers

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        hll_registers(df, key_col).write.mode("append").parquet(out_path)

    with sized_state_partitions(events.sparkSession):
        q = (
            events.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_hll_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def read_hll(spark: SparkSession, out_path: str) -> DataFrame:
    """Merge the streamed register partials (cell-wise max)."""
    from ..operators.sketches import hll_merge

    return hll_merge(spark.read.parquet(out_path))


def streaming_row_ids(
    events: DataFrame, out_path: str, checkpoint_location: str | None = None
) -> None:
    """Contiguous global row ids maintained ACROSS micro-batches: each
    batch's rows get ids [offset, offset + |batch|) where offset is the
    total row count already committed to the sink — the streaming form of
    the distributed zipWithIndex (queries/scale_ops2.global_row_ids),
    with the cross-batch offset carried by the sink itself instead of a
    driver counter (restart-safe: a recovered query re-derives the offset
    from committed data, and an epoch replay overwrites its own ids).

    Within a batch, ids follow (ts, event_id) order via the same bucketed
    offsets + intra-bucket row_number plan — no single-partition sort at
    any batch size.  Ids are dense and unique by construction:
    batch-internal ids are a permutation of [0, |batch|) and offsets
    chain exactly.

    Restart safety is tied to the CHECKPOINT: the sink-derived offset
    (count of committed epochs < current) is only correct within one
    checkpoint lifetime, because epoch ids restart at 0 under a fresh
    checkpoint while stale higher-epoch partitions would survive in
    ``out_path``.  So a resumable caller must pass ``checkpoint_location``
    (one per out_path, reused across restarts); with no checkpoint given,
    a non-empty ``out_path`` is REFUSED rather than silently re-numbered
    with duplicate/conflicting ids."""
    import os

    from pyspark.sql.utils import AnalysisException
    from ..queries.scale_ops2 import global_row_ids

    if checkpoint_location is None:
        if os.path.isdir(out_path) and os.listdir(out_path):
            raise ValueError(
                f"streaming_row_ids: out_path {out_path!r} is non-empty but no "
                "checkpoint_location was given — a fresh checkpoint restarts "
                "epochs at 0 and would assign duplicate/conflicting row ids. "
                "Pass the checkpoint_location used when the sink was created, "
                "or start with an empty out_path."
            )
        checkpoint_location = tempfile.mkdtemp(prefix="ckpt_rowids_")

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        offset = 0
        if os.path.isdir(out_path):
            try:
                offset = spark.read.parquet(out_path).where(
                    F.col("epoch") < F.lit(int(epoch_id))
                ).count()
            except AnalysisException:
                offset = 0
        with_ids = global_row_ids(
            batch,
            F.col("ts").cast("date").cast("string"),
            ["ts", "event_id"],
        ).select(
            "event_id",
            (F.col("row_id") + F.lit(offset)).alias("row_id"),
        )
        with_ids.write.mode("overwrite").parquet(
            f"{out_path}/epoch={int(epoch_id)}"
        )

    with sized_state_partitions(events.sparkSession):
        q = (
            events.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_location)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def day_partitioned(batch: DataFrame) -> DataFrame:
    """The per-batch day-partition projection every ingest writer lands
    (`ds` = event date as string).  Shared by
    streaming_append_with_compaction's foreachBatch AND the st17
    plan-audit fragment (ADVICE r5)."""
    return batch.withColumn("ds", F.col("ts").cast("date").cast("string"))


def streaming_append_with_compaction(
    events: DataFrame, out_path: str, compact_every: int = 2
) -> None:
    """Streaming ingest with INLINE maintenance: each micro-batch appends
    its day-partitioned rows, and every ``compact_every`` batches the
    fragmented partitions are rewritten to one file each
    (sinks.compact_partitions) — the steady-state loop a real table
    runs: ingest fragments, maintenance heals, readers always see one
    consistent layout.  Compaction inside foreachBatch serializes with
    ingest (no concurrent-writer conflict), which is exactly how
    single-writer table formats schedule OPTIMIZE.  A final compact runs
    unconditionally so the query's post-condition (≤1 file per
    partition) holds at any batch count."""
    from ..sinks import compact_partitions

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        (
            day_partitioned(batch)
            .write.mode("append")
            .partitionBy("ds")
            .parquet(out_path)
        )
        if int(epoch_id) % compact_every == compact_every - 1:
            compact_partitions(batch.sparkSession, out_path, "ds", max_files=1)

    with sized_state_partitions(events.sparkSession):
        q = (
            events.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_appcomp_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    compact_partitions(
        SparkSession.getActiveSession() or SparkSession.builder.getOrCreate(),
        out_path,
        "ds",
        max_files=1,
    )


def dataset_card_partial(batch: DataFrame) -> DataFrame:
    """One micro-batch's card partial: additive counts/sums plus a
    64-register HLL sketch of the normalized-text fingerprints
    (serialized as a map).  Pure transformation shared by the streaming
    job's foreachBatch AND its plan-audit fragment (queries/
    streaming_like.py) so the audited tree IS the executed tree
    (ADVICE r5: fragments must not re-express the job inline)."""
    from ..operators.sketches import hll_registers
    from ..operators.text import normalize, token_count

    base = batch.select(
        F.length("text").alias("n_chr"),
        token_count("text").alias("n_tok"),
        F.md5(normalize("text")).alias("fp"),
    )
    regs = hll_registers(base, "fp").agg(
        F.map_from_entries(
            F.collect_list(F.struct("idx", "reg"))
        ).alias("regs")
    )
    return base.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("n_chr"), F.lit(0)).cast("bigint").alias("total_chars"),
        F.coalesce(F.sum("n_tok"), F.lit(0)).cast("bigint").alias("total_tokens"),
    ).crossJoin(regs)


def streaming_dataset_card(docs_stream: DataFrame, out_path: str) -> None:
    """Maintain the dataset card (x47's statistics) INCREMENTALLY from a
    document stream: each micro-batch appends one partial row
    (dataset_card_partial) and readers merge partials into the current
    card.  Counts add, registers max: the card is exact for sizes and
    sketch-accurate for the dedup rate at ANY batch slicing, without
    ever rescanning the corpus — the x42/st12/st13 partials pattern
    applied to corpus curation metadata."""

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        dataset_card_partial(batch).write.mode("append").parquet(out_path)

    with sized_state_partitions(docs_stream.sparkSession):
        q = (
            docs_stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_card_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def read_dataset_card(spark: SparkSession, out_path: str) -> DataFrame:
    """Merge the card partials: sums add, HLL registers merge by max,
    and the distinct-fingerprint estimate yields the dup-rate estimate."""
    from ..operators.sketches import hll_estimate

    p = spark.read.parquet(out_path)
    totals = p.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("total_chars").cast("bigint").alias("total_chars"),
        F.sum("total_tokens").cast("bigint").alias("total_tokens"),
    )
    regs = (
        p.select(F.explode("regs").alias("idx", "reg"))
        .groupBy("idx")
        .agg(F.max("reg").alias("reg"))
    )
    est = hll_estimate(regs).select("est_distinct")
    return totals.crossJoin(est).select(
        "n_docs",
        "total_chars",
        "total_tokens",
        F.round(
            F.greatest(
                F.lit(0.0),
                1.0 - F.col("est_distinct") / F.col("n_docs"),
            ),
            4,
        ).alias("est_dup_rate"),
    )


def batch_dedup_keep(batch: DataFrame) -> DataFrame:
    """Within-batch exact dedup step: fingerprint (md5 of normalized
    text, the d1 discipline) → min-doc_id representative per
    fingerprint.  Pure transformation shared by streaming_exact_dedup's
    foreachBatch AND the st19 plan-audit fragment (ADVICE r5)."""
    from ..operators.text import normalize

    return (
        batch.select("doc_id", F.md5(normalize("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
    )


def streaming_exact_dedup(docs: DataFrame, out_path: str) -> None:
    """Cross-batch exact dedup ON INGEST: each micro-batch fingerprints
    its documents (md5 of normalized text — the d1 discipline), keeps the
    min-doc_id representative per fingerprint WITHIN the batch, then
    anti-joins against every fingerprint already committed by EARLIER
    epochs — so a duplicate arriving in a later batch is dropped at the
    door and the sink only ever holds first-wins representatives.

    The cross-batch state IS the sink (fingerprints of epochs < current),
    not driver memory: restart within the same checkpoint re-derives it
    by reading committed epochs, and an epoch replay overwrites its own
    ``epoch=N`` directory (idempotent_epoch_sink's discipline).  At
    100 TB the anti-join is a shuffle on the 16-byte fingerprint against
    an ever-smaller-than-corpus unique set; with availableNow over one
    input file the result equals batch exact dedup bit-for-bit, which is
    the registry oracle (st19)."""
    import os

    from pyspark.sql.utils import AnalysisException

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        keep = batch_dedup_keep(batch)
        if os.path.isdir(out_path):
            try:
                seen = (
                    spark.read.parquet(out_path)
                    .where(F.col("epoch") < F.lit(int(epoch_id)))
                    .select("fingerprint")
                )
                keep = keep.join(seen, "fingerprint", "left_anti")
            except AnalysisException:
                pass
        keep.drop("epoch").write.mode(
            "overwrite"
        ).parquet(f"{out_path}/epoch={int(epoch_id)}")

    with sized_state_partitions(docs.sparkSession):
        q = (
            docs.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_dedup_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def neardup_buckets(batch: DataFrame) -> DataFrame:
    """One micro-batch's LSH bucket table (MinHash signature → bands).
    Shared by streaming_neardup_gate's foreachBatch AND the st20
    plan-audit fragment (ADVICE r5)."""
    from ..operators import dedup as DD

    return DD.lsh_buckets(
        DD.minhash_signature(batch, "doc_id", "text"), "doc_id"
    )


def neardup_within_batch_hits(bk: DataFrame) -> DataFrame:
    """Doc ids colliding with a SMALLER doc_id in the same batch's bucket
    table — the within-batch half of the ingest gate's drop rule.
    Shared by the job and the st20 fragment."""
    smaller = bk.select(
        F.col("band").alias("b2"),
        F.col("bucket").alias("k2"),
        F.col("doc_id").alias("id2"),
    )
    return (
        bk.join(
            smaller,
            (F.col("band") == F.col("b2"))
            & (F.col("bucket") == F.col("k2"))
            & (F.col("id2") < F.col("doc_id")),
        )
        .select("doc_id")
        .distinct()
    )


def streaming_neardup_gate(docs: DataFrame, out_path: str) -> None:
    """MinHash/LSH near-dup gate ON INGEST: each micro-batch signatures
    its documents, bands the signatures, and drops any document sharing a
    (band, bucket) with EITHER a smaller doc_id in the same batch OR any
    bucket committed by an earlier epoch.  The sink keeps two things per
    epoch: the bucket table of every PROCESSED document (the 'seen'
    state — kept or dropped, so later near-dups of an already-dropped doc
    are still caught) and the kept doc ids.

    Because the seen-set covers all processed docs, the kept set equals
    the batch rule "doc survives iff no bucket is shared with any smaller
    doc_id" whenever batches arrive in doc_id order — which is the
    registry oracle (st20) under one availableNow batch, and what the
    multi-batch test pins with ordered files.  At 100 TB the state is the
    bucket table (N_BANDS rows/doc, shuffled on bucket), the same
    relation the batch LSH join builds — the gate just accretes it
    epoch-by-epoch instead of all at once."""
    import os

    from pyspark.sql.utils import AnalysisException

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        # One signature pass per micro-batch (round 11, VERDICT r10 #4):
        # ``bk`` feeds the within-batch self-join (two references), the
        # seen-state semi-join AND the state write — four separate
        # actions, each of which used to replay the MinHash pipeline
        # over the batch.  The bucket table is N_BANDS rows × ~50 B per
        # batch document, so materializing it once is the same
        # bounded-state story the sink already tells.
        bk = neardup_buckets(batch).transform(ckpt)
        dropped = neardup_within_batch_hits(bk)
        seen_path = f"{out_path}/seen"
        if os.path.isdir(seen_path):
            try:
                seen = (
                    spark.read.parquet(seen_path)
                    .where(F.col("epoch") < F.lit(int(epoch_id)))
                    .select("band", "bucket")
                    .distinct()
                )
                hit_seen = (
                    bk.join(seen, ["band", "bucket"], "left_semi")
                    .select("doc_id")
                    .distinct()
                )
                dropped = dropped.unionByName(hit_seen).distinct()
            except AnalysisException:
                pass
        kept = (
            batch.select("doc_id")
            .join(dropped, "doc_id", "left_anti")
            .drop("epoch")
        )
        bk.drop("epoch").write.mode(
            "overwrite"
        ).parquet(f"{seen_path}/epoch={int(epoch_id)}")
        kept.write.mode("overwrite").parquet(
            f"{out_path}/kept/epoch={int(epoch_id)}"
        )

    with sized_state_partitions(docs.sparkSession):
        q = (
            docs.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_neardup_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def streaming_shard_manifest(docs: DataFrame, out_path: str) -> None:
    """x55's training-shard assignment maintained BY THE INGEST: each
    micro-batch tokenizes its documents, takes the committed token total
    of earlier epochs as its global starting offset (sink-derived state,
    same discipline as streaming_row_ids), runs the intra-batch
    distributed prefix sum, and lands every doc's shard assignment in its
    epoch directory.  Shards therefore continue seamlessly across batches
    — doc N of batch k starts exactly where batch k−1's tokens ended — so
    ordered batches reproduce the batch manifest bit-for-bit, and an
    epoch replay overwrites its own assignments."""
    import os

    from pyspark.sql import Window as W
    from pyspark.sql.utils import AnalysisException

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        t = batch.select(
            "doc_id",
            F.size(
                F.split(
                    F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
                )
            ).alias("n_tok"),
        )
        base = 0
        if os.path.isdir(out_path):
            try:
                row = (
                    spark.read.parquet(out_path)
                    .where(F.col("epoch") < F.lit(int(epoch_id)))
                    .agg(F.coalesce(F.sum("n_tok"), F.lit(0)).alias("s"))
                    .collect()[0]
                )
                base = int(row["s"])
            except AnalysisException:
                base = 0
        from ..operators.prefix import bucketed_running_sums

        assigned = (
            bucketed_running_sums(
                t,
                F.floor(F.col("doc_id") / 50).cast("int"),
                ["doc_id"],
                {"n_tok": "cum_tok"},
            )
            .select(
                "doc_id",
                "n_tok",
                (
                    (F.lit(base) + F.col("cum_tok") - F.col("n_tok")) / 20000
                )
                .cast("bigint")
                .alias("shard_id"),
            )
            .drop("epoch")
        )
        assigned.write.mode("overwrite").parquet(
            f"{out_path}/epoch={int(epoch_id)}"
        )

    with sized_state_partitions(docs.sparkSession):
        q = (
            docs.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_shards_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
