"""Streaming queries (SURVEY.md §2.10) — registry entries.

st1/st4 REALLY run Structured Streaming (readStream → availableNow →
memory sink) inside the correctness harness; their oracles are the batch
equivalents, which is exactly the validation strategy SURVEY §7 prescribes
for streaming (no reference ground truth exists).  st2/st3 exercise the
same window operators on the batch frame (identical plans either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import footer_schema, load_table
from ..streaming import (
    events_stream,
    final_user_activity,
    run_to_memory,
    sessionize_batch,
    sliding_counts,
    stateful_user_activity,
    stream_dedup_keys,
    stream_source_path,
    tumbling_counts,
)
from . import fragment, register

_TUMBLING_ORACLE = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
"""


@register(
    "st1_stream_tumbling_counts",
    oracle=_TUMBLING_ORACLE,
    survey="§2.10 (streaming tumbling window + watermark, REAL readStream)",
)
def st1_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windowed counts/sums via an actual streaming query
    (readStream → availableNow → memory sink), oracle-checked against the
    batch equivalent."""
    return run_to_memory(tumbling_counts(events_stream(spark, sf_dir)))


@register(
    "st2_sliding_window_counts",
    oracle="""
    WITH g AS (
        SELECT to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT))::TIMESTAMP AS grid,
               event_type
        FROM events
    ),
    s AS (
        SELECT grid AS win_start, event_type FROM g
        UNION ALL
        SELECT grid - INTERVAL 30 MINUTE AS win_start, event_type FROM g
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM s GROUP BY win_start, event_type
    """,
    survey="§2.10 (sliding windows — D-7 rolling metric analog)",
)
def st2_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h windows sliding every 30min (each event in exactly 2 windows)."""
    return sliding_counts(load_table(spark, sf_dir, "events"))


@register(
    "st3_session_windows",
    oracle="""
    WITH o AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    m AS (
        SELECT user_id, ts,
               sum(CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM o
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM m GROUP BY user_id, session_id
    """,
    survey="§2.10 (session windows / sessionization)",
)
def st3_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute-gap sessions via session_window; the oracle is the
    classic lag + cumulative-flag gaps-and-islands formulation."""
    return sessionize_batch(load_table(spark, sf_dir, "events"))


@register(
    "st4_stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    survey="§2.10 (stateful streaming dedup within watermark, REAL readStream)",
)
def st4_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicatesWithinWatermark on (user_id, event_type);
    the kept-key SET equals batch DISTINCT regardless of arrival order."""
    return run_to_memory(
        stream_dedup_keys(events_stream(spark, sf_dir)), mode="append"
    )


@register(
    "st5_stateful_user_activity",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM events GROUP BY user_id
    """,
    survey="§2.11 (custom stateful operator — applyInPandasWithState, REAL readStream)",
)
def st5_stateful_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running activity via a custom applyInPandasWithState state
    machine (count + first/last event time); emissions collapse to the final
    state, which equals batch groupBy exactly."""
    emissions = run_to_memory(
        stateful_user_activity(events_stream(spark, sf_dir)), mode="append"
    )
    return final_user_activity(emissions)


@register(
    "st6_stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name AS user_name, e.event_type, e.value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    survey="§2.10 (stream-static enrichment join, REAL readStream)",
)
def st6_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events enriched against a static dimension (the streaming
    form of J2): the static side is broadcast into every micro-batch, no
    stream-side shuffle and no state — the cheapest join a stream can do."""
    ev = events_stream(spark, sf_dir)
    joined = _static_enrich(ev, spark, sf_dir)
    return run_to_memory(joined, mode="append")


def _static_enrich(ev: DataFrame, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dim enrichment of an events relation (stream or batch) —
    shared by the st6 query and its plan-audit fragment (ADVICE r5)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_name").alias("user_name")
    )
    return ev.join(
        F.broadcast(cust), ev.user_id == cust.c_custkey, "inner"
    ).select("event_id", "user_id", "user_name", "event_type", "value")


@register(
    "st7_stream_stream_interval_join",
    oracle="""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 DAY
    """,
    survey="§2.10 (stream-stream interval join with watermark state expiry, REAL readStream)",
)
def st7_stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution as a REAL stream-stream join: two
    readStream sources, watermarks on both sides, event-time bounds in the
    join condition so buffered state expires instead of growing without
    bound.  Oracle is the identical batch interval join."""
    from ..streaming import click_purchase_attribution

    clicks = events_stream(spark, sf_dir).where(F.col("event_type") == "click")
    purchases = events_stream(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    return run_to_memory(
        click_purchase_attribution(clicks, purchases), mode="append"
    )


@register(
    "st8_stream_session_windows",
    oracle="""
    WITH o AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    m AS (
        SELECT user_id, ts,
               sum(CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM o
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM m GROUP BY user_id, session_id
    """,
    survey="§2.10 (session windows on a REAL stream: session_window + watermark state)",
)
def st8_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st3's session windows executed as an actual streaming query
    (readStream → availableNow → memory sink): session_window merges
    overlapping per-user state across micro-batches, with the watermark
    bounding how long an open session can stay in the store.  The oracle
    is the identical batch gaps-and-islands SQL — stream/batch equivalence
    is the correctness statement."""
    return run_to_memory(sessionize_batch(events_stream(spark, sf_dir)))


@register(
    "st9_incremental_rollup",
    oracle=_TUMBLING_ORACLE,
    survey="§2.10 (availableNow + foreachBatch continuous aggregate: date-partitioned hourly rollup)",
)
def st9_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate, driven end-to-end: the event
    stream lands windowed partials as date partitions via
    ``trigger(availableNow)`` + ``foreachBatch``, and the reader merges the
    additive partials (counts, exact-decimal sums) back to final values —
    oracle-checked against the batch aggregate of the same data.  Re-runs
    touch only the dates present in a batch; readers prune to the days
    they ask for."""
    import tempfile

    from ..streaming import incremental_rollup, read_rollup

    out = tempfile.mkdtemp(prefix="rollup_q_")
    incremental_rollup(events_stream(spark, sf_dir), out)
    return read_rollup(spark, out)


@register(
    "st10_incremental_user_snapshot",
    oracle="""
    WITH latest AS (
        SELECT user_id, event_type, ts, value, event_id,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ),
    cnt AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY user_id)
    SELECT l.user_id,
           l.event_type AS last_type,
           strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS last_ts_s,
           l.value AS last_value,
           c.n_events
    FROM latest l JOIN cnt c USING (user_id)
    WHERE l.rn = 1
    """,
    survey="§2.10 (streaming SCD1 snapshot: foreachBatch latest-wins merge + versioned publish, the S11/S12 replacement)",
)
def st10_incremental_user_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD1 snapshot maintenance: each micro-batch merges its
    per-user delta (latest event fields + additive count) into the prior
    snapshot version and publishes a new immutable version directory —
    the Structured Streaming replacement for the reference's rename-sweep
    "latest pointer" + CREATE OR REPLACE promote (S11/S12).  The merge is
    associative, so any micro-batch slicing converges to the same
    snapshot; the oracle is the batch latest-per-user recompute."""
    import tempfile

    from ..streaming import incremental_user_snapshot, read_latest_snapshot

    base = tempfile.mkdtemp(prefix="usersnap_q_")
    incremental_user_snapshot(events_stream(spark, sf_dir), base)
    snap = read_latest_snapshot(spark, base)
    return snap.select(
        "user_id",
        "last_type",
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts_s"),
        "last_value",
        F.col("n_events").cast("bigint").alias("n_events"),
    )


@register(
    "st11_transform_with_state",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(CAST(value AS DECIMAL(18,2)) * 100, 0) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events GROUP BY user_id
    """,
    survey="§2.10/§2.11 (Spark 4 transformWithStateInPandas: typed ValueState, REAL readStream)",
)
def st11_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via the Spark 4 arbitrary-state API
    (transformWithStateInPandas + typed ValueState) over a real stream;
    value accumulates in exact integer cents (computed Spark-side before
    the Arrow boundary), and emissions collapse to the final state — equal
    to the batch aggregate regardless of micro-batch slicing.

    transformWithStateInPandas speaks protobuf to the JVM state store; in
    runtimes without `google.protobuf` the query capability-gates to
    ``apply_with_state_totals`` — the SAME semantics and output schema on
    the older applyInPandasWithState API — so the query contract is
    testable everywhere while the new-API path exercises wherever its
    runtime dependency exists."""
    from ..streaming import (
        apply_with_state_totals,
        final_totals,
        has_transform_with_state_runtime,
        transform_with_state_totals,
    )

    op = (
        transform_with_state_totals
        if has_transform_with_state_runtime()
        else apply_with_state_totals
    )
    emissions = run_to_memory(op(events_stream(spark, sf_dir)), mode="update")
    return final_totals(emissions)


@register(
    "st12_streaming_countmin",
    oracle="""
    WITH per_key AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
    cells AS (
        SELECT user_id, n, r.rw AS row,
               ('0x' || substr(md5(concat(r.rw::VARCHAR, ':', user_id::VARCHAR)), 1, 8))::BIGINT % 256 AS bucket
        FROM per_key CROSS JOIN (SELECT unnest(range(0, 4)) AS rw) r
    ),
    sketch AS (
        SELECT row, bucket, CAST(sum(n) AS BIGINT) AS sn
        FROM cells GROUP BY row, bucket
    ),
    est AS (
        SELECT c.user_id, min(s.sn) AS est_n
        FROM cells c JOIN sketch s USING (row, bucket)
        GROUP BY c.user_id
    )
    SELECT user_id, CAST(est_n AS BIGINT) AS est_n FROM est
    """,
    survey="§2.10 extended (streaming mergeable sketch: per-batch CMS partials, REAL readStream)",
)
def st12_streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch maintained from a real stream (foreachBatch grid
    partials, merged cell-wise on read) and probed for every key — the
    oracle is the BATCH sketch, which the streamed one must equal exactly
    because CMS merge is exact cell addition at any micro-batch slicing."""
    import tempfile as _tf

    from ..operators.sketches import cms_probe
    from ..sources import load_table as _lt
    from ..streaming import jobs as _J

    out = _tf.mkdtemp(prefix="cms_stream_")
    _J.streaming_cms(events_stream(spark, sf_dir), out)
    sketch = _J.read_cms(spark, out)
    keys = _lt(spark, sf_dir, "events").select("user_id").distinct()
    return cms_probe(sketch, keys, "user_id")


@register(
    "st13_streaming_hll",
    oracle="""
    WITH h AS (
        SELECT ('0x' || substr(md5(concat('91:', user_id::VARCHAR)), 1, 8))::BIGINT AS hv
        FROM events
    ),
    r AS (
        SELECT hv % 64 AS idx,
               CASE WHEN hv // 64 = 0 THEN 27
                    ELSE 27 - length(bin(hv // 64)) END AS rho
        FROM h
    ),
    regs AS (SELECT idx, max(rho) AS reg FROM r GROUP BY idx),
    agg AS (
        SELECT count(*) AS used,
               CAST(sum(1::BIGINT << (27 - reg)) AS BIGINT) AS z_used
        FROM regs
    ),
    s AS (
        SELECT CAST(64 - used AS BIGINT) AS v_empty,
               CAST(z_used + (64 - used) * 134217728 AS BIGINT) AS z_scaled
        FROM agg
    )
    SELECT v_empty, z_scaled,
           round(CASE WHEN (0.709 * 64 * 64 * 134217728) / z_scaled <= 160.0
                      AND v_empty > 0
                      THEN 64.0 * ln(64.0 / v_empty)
                      ELSE (0.709 * 64 * 64 * 134217728) / z_scaled
                 END, 4) AS est_distinct
    FROM s
    """,
    survey="§2.10 extended (streaming mergeable HLL: per-batch register partials, REAL readStream)",
)
def st13_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user HLL maintained from a real readStream (foreachBatch
    register partials, merged by cell-wise MAX on read) — the streaming
    distinct-count twin of st12's count-min.  Max-merge is idempotent, so
    the streamed registers equal the batch sketch bit-for-bit at ANY
    micro-batch slicing AND under batch replay (at-least-once delivery
    upgraded to exactly-once observable state for free — stronger than
    st12's additive grid, which needs the idempotent-epoch discipline).
    The oracle is the batch HLL over the same events."""
    import tempfile as _tf

    from ..operators.sketches import hll_estimate
    from ..streaming import jobs as _J

    out = _tf.mkdtemp(prefix="hll_stream_")
    _J.streaming_hll(events_stream(spark, sf_dir), out)
    regs = _J.read_hll(spark, out)
    return hll_estimate(regs)


@register(
    "st14_python_stream_source",
    oracle="""
    WITH src AS (
        SELECT p.page, p.page * 1000 + i.i AS item_id
        FROM (SELECT unnest(range(0, 6)) AS page) p
        CROSS JOIN (SELECT unnest(range(0, 25)) AS i) i
    )
    SELECT CAST(page AS INTEGER) AS page,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(min(item_id) AS BIGINT) AS min_id,
           CAST(max(item_id) AS BIGINT) AS max_id
    FROM src GROUP BY page
    """,
    survey="S8,§2.10 extended (paginated source as a STREAMING Python DataSource: nextPageToken as checkpointed offset)",
)
def st14_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paginated endpoint consumed as a REAL STREAM via the Spark 4
    Python DataSource streaming API (sources/restpages.py): the page
    cursor (the reference's ``nextPageToken`` while-loop state,
    `main.py:296-308`) becomes a checkpointed streaming OFFSET, so
    ingestion survives restarts exactly-once — `readBetweenOffsets`
    replays any committed page range identically (asserted in
    tests/test_streaming.py).  availableNow snapshots the latest offset
    at query start and drains exactly the pages available then (all 6
    here) into a memory sink; a long-running trigger would consume new
    pages `batch_pages` at a time.  The oracle regenerates the same rows
    arithmetically, proving the offset → batch → commit lifecycle
    delivers every page exactly once (no dropped pages, no replays)."""
    from ..sources.restpages import register_restpages

    register_restpages(spark)
    stream = (
        spark.readStream.format("restpages")
        .option("pages", 6)
        .option("page_size", 25)
        .option("batch_pages", 6)
        .load()
    )
    agg = stream.groupBy("page").agg(
        F.count("*").alias("n_items"),
        F.min("item_id").alias("min_id"),
        F.max("item_id").alias("max_id"),
    )
    return run_to_memory(agg, mode="complete")


def _attribution_projections(ev: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Click/purchase projections of the events relation — shared by the
    st15 query (on the STREAM) and its plan-audit fragment (on batch),
    so the audited operator tree is the executed one (ADVICE r5)."""
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    return clicks, purch


def _attribution_cond():
    """The 1-day interval LEFT OUTER join condition (time bound inside
    the condition = bounded stream-stream state; see SCALE.md)."""
    return (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 DAY"))
    )


def _attribution_safe_filter(out: DataFrame, batch_events: DataFrame) -> DataFrame:
    """Restrict to the provably-evicted watermark region: clicks older
    than min(max click ts, max purchase ts) − horizon − slack.  Shared
    by the st15 query and fragment."""
    safe = batch_events.where(
        F.col("event_type").isin("click", "purchase")
    ).groupBy("event_type").agg(F.max("ts").alias("mx")).agg(
        (
            F.min("mx") - F.expr("INTERVAL 1 DAY") - F.expr("INTERVAL 2 HOUR")
        ).alias("safe_ts")
    )
    return (
        out.crossJoin(F.broadcast(safe))
        .where(F.col("click_ts") <= F.col("safe_ts"))
        .select(
            "click_id",
            "purchase_id",
            F.col("purchase_id").isNotNull().alias("converted"),
        )
    )


@register(
    "st15_stream_left_outer_attribution",
    oracle="""
    WITH c AS (
        SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id AS p_user, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    bound AS (
        SELECT least(
                   (SELECT max(ts) FROM events WHERE event_type = 'click'),
                   (SELECT max(ts) FROM events WHERE event_type = 'purchase')
               ) - INTERVAL 1 DAY - INTERVAL 2 HOUR AS safe_ts
    )
    SELECT c.click_id,
           p.purchase_id,
           (p.purchase_id IS NOT NULL) AS converted
    FROM c
    LEFT JOIN p
      ON c.c_user = p.p_user
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL 1 DAY
    CROSS JOIN bound
    WHERE c.click_ts <= bound.safe_ts
    """,
    survey="§2.10 extended (stream-stream LEFT OUTER join: watermark-evicted non-conversions emitted as nulls)",
)
def st15_stream_left_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click joins purchases
    by the same user within 1 day — and clicks that never convert are
    emitted WITH NULL once the watermark proves no future purchase can
    match (state eviction is the emission trigger; an inner join — st7 —
    would silently drop them).  Non-conversion is the signal funnel
    analytics actually needs.

    Oracle discipline: null emission near the end of a finite stream is
    inherently partial (the last clicks' state is still live when
    availableNow drains), so BOTH sides restrict to the provably-evicted
    region — clicks older than the GLOBAL watermark bound (the min over
    both inputs' max event time, since the engine's watermark is the min
    across sources) minus horizon and slack.
    Inside that region the streamed result equals the batch left join
    exactly; outside it no engine-independent truth exists.  At 100 TB
    the join state stays bounded by (watermark + horizon) per user — the
    same eviction doing the semantic work here is what caps the state
    store."""
    ev = events_stream(spark, sf_dir)
    clicks, purch = _attribution_projections(ev)
    clicks = clicks.withWatermark("click_ts", "1 hour")
    purch = purch.withWatermark("purchase_ts", "1 hour")
    j = clicks.join(purch, _attribution_cond(), "left_outer").select(
        "click_id", "purchase_id", "click_ts"
    )
    emitted = run_to_memory(j, mode="append")

    from ..sources import load_table

    return _attribution_safe_filter(emitted, load_table(spark, sf_dir, "events"))


@register(
    "x33_snapshot_time_travel",
    oracle="""
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
    """,
    survey="S12 extended (snapshot time travel: VERSION AS OF over immutable snapshot versions)",
)
def x33_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the versioned SCD1 snapshot store: v0 is built
    from events before the cutover, v1 merges in the rest — and a reader
    asking for VERSION AS OF 0 gets exactly the pre-cutover state even
    though v1 has since been published (immutable version directories
    are what make the S12 promote safe to travel; the reference's
    rename-sweep keeps only 'latest' and destroys history,
    Gonukkad_Merchants.py:142-155).  The oracle recomputes the as-of
    state straight from the pre-cutover events: users, cumulative event
    count, and the latest event time the v0 snapshot had seen."""
    import tempfile as _tf

    from ..sources import load_table
    from ..streaming.jobs import (
        merge_snapshots,
        read_snapshot_as_of,
        user_snapshot,
    )

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    base = _tf.mkdtemp(prefix="timetravel_")
    v0 = user_snapshot(ev.where(F.col("ts") < cut))
    v0.write.parquet(f"{base}/v{0:09d}")
    v1 = merge_snapshots(
        spark.read.parquet(f"{base}/v{0:09d}"),
        user_snapshot(ev.where(F.col("ts") >= cut)),
    )
    v1.write.parquet(f"{base}/v{1:09d}")

    asof = read_snapshot_as_of(spark, base, 0)
    return asof.agg(
        F.count("*").alias("n_users"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.date_format(F.max("last_ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


@register(
    "st16_stream_row_ids",
    oracle="""
    SELECT event_id,
           CAST(row_number() OVER (ORDER BY ts, event_id) - 1 AS BIGINT) AS row_id
    FROM events
    """,
    survey="§2.10 extended, NS-layout (contiguous example ids maintained across micro-batches, sink-derived offsets)",
)
def st16_stream_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming example-id assignment: the events stream lands with
    contiguous global row ids, batch offsets chained through the sink
    (streaming/jobs.streaming_row_ids).  With availableNow over one
    input file the assignment equals the batch zipWithIndex exactly —
    the oracle is the single-partition window x39 exists to avoid;
    multi-batch contiguity and replay-idempotence are asserted in
    tests/test_streaming.py."""
    import tempfile

    from ..streaming.jobs import events_stream, streaming_row_ids

    out = tempfile.mkdtemp(prefix="st16_rowids_")
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    streaming_row_ids(events_stream(spark, sf_dir), out)
    return spark.read.parquet(out).select("event_id", "row_id")


@register(
    "st17_stream_append_compact",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS ds,
           CAST(count(*) AS BIGINT) AS n,
           CAST(1 AS BIGINT) AS n_files
    FROM events GROUP BY strftime(ts, '%Y-%m-%d')
    """,
    survey="§2.10,S11 extended (streaming ingest with inline compaction: fragments heal inside the ingest loop, single-writer OPTIMIZE)",
)
def st17_stream_append_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-and-maintain loop end-to-end: the event stream appends
    day partitions per micro-batch (the fragmentation source), compaction
    runs inline every 2 batches plus once at the end, and the read back
    must show BOTH the complete data and the healed layout — the oracle
    pins one physical file per day partition, io10's contract held under
    continuous ingest."""
    import shutil
    import tempfile as _tf

    from ..streaming.jobs import events_stream, streaming_append_with_compaction

    out = _tf.mkdtemp(prefix="st17_appcomp_")
    shutil.rmtree(out, ignore_errors=True)
    streaming_append_with_compaction(events_stream(spark, sf_dir), out)
    back = (
        spark.read.parquet(out)
        .withColumn("ds", F.col("ds").cast("string"))
        .withColumn("_f", F.input_file_name())
    )
    return back.groupBy("ds").agg(
        F.count("*").alias("n"),
        F.countDistinct("_f").alias("n_files"),
    )


_NORM_DOC = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@register(
    "st18_streaming_dataset_card",
    oracle=f"""
    WITH base AS (
        SELECT length(text) AS n_chr,
               len(string_split({_NORM_DOC}, ' ')) AS n_tok,
               md5({_NORM_DOC}) AS fp
        FROM documents
    ),
    h AS (
        SELECT ('0x' || substr(md5(concat('91:', fp)), 1, 8))::BIGINT AS hv
        FROM base
    ),
    r AS (
        SELECT hv % 64 AS idx,
               CASE WHEN hv // 64 = 0 THEN 27
                    ELSE 27 - length(bin(hv // 64)) END AS rho
        FROM h
    ),
    regs AS (SELECT idx, max(rho) AS reg FROM r GROUP BY idx),
    agg AS (
        SELECT count(*) AS used,
               CAST(sum(1::BIGINT << (27 - reg)) AS BIGINT) AS z_used
        FROM regs
    ),
    est AS (
        SELECT round(CASE WHEN (0.709 * 64 * 64 * 134217728.0)
                               / (z_used + (64 - used) * 134217728) <= 160.0
                          AND (64 - used) > 0
                          THEN 64.0 * ln(64.0 / (64 - used))
                          ELSE (0.709 * 64 * 64 * 134217728.0)
                               / (z_used + (64 - used) * 134217728)
                     END, 4) AS est_distinct
        FROM agg
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chr) AS BIGINT) AS total_chars,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           round(greatest(0.0, 1.0 - est.est_distinct / count(*)), 4) AS est_dup_rate
    FROM base, est GROUP BY est.est_distinct
    """,
    survey="§2.10 extended, NS-text (dataset card maintained from a stream: additive partials + HLL registers, never a rescan)",
)
def st18_streaming_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x47's corpus card kept current BY THE INGEST ITSELF: each
    micro-batch of documents appends one partial row (counts, sums, and
    a 64-register HLL over normalized-text fingerprints); the reader
    merges partials — sums add, registers max — so the card is exact on
    sizes and sketch-accurate on the dup rate at any batch slicing,
    with the corpus never rescanned.  availableNow over the documents
    file equals the batch card (the oracle); multi-batch associativity
    follows from the same mergeability the streamed CMS/HLL tests pin."""
    import shutil
    import tempfile as _tf

    from pyspark.sql import types as T

    from ..streaming.jobs import read_dataset_card, streaming_dataset_card

    file_schema = footer_schema(spark, sf_dir, "documents")
    src_path, src_glob = stream_source_path(sf_dir, "documents")
    stream = (
        spark.readStream.schema(file_schema)
        .format("parquet")
        .option("pathGlobFilter", src_glob)
        .load(src_path)
    )
    out = _tf.mkdtemp(prefix="st18_card_")
    shutil.rmtree(out, ignore_errors=True)
    streaming_dataset_card(stream, out)
    return read_dataset_card(spark, out)


@register(
    "st19_stream_exact_dedup",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           min(doc_id) AS doc_id
    FROM documents
    GROUP BY 1
    """,
    survey="§2.10, NS-dedup extended (exact dedup ON INGEST: cross-batch first-wins via sink-state anti-join)",
)
def st19_stream_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d1's exact dedup moved INTO the ingest path: each micro-batch keeps
    only fingerprints no earlier epoch committed (sink-state anti-join,
    streaming/jobs.streaming_exact_dedup), so duplicates never land at
    rest.  With availableNow over one documents file this equals batch
    exact dedup bit-for-bit (the oracle); multi-batch first-wins and
    cross-batch drop counts are asserted in tests/test_streaming.py."""
    import shutil
    import tempfile as _tf

    from ..streaming.jobs import streaming_exact_dedup

    file_schema = footer_schema(spark, sf_dir, "documents")
    src_path, src_glob = stream_source_path(sf_dir, "documents")
    stream = (
        spark.readStream.schema(file_schema)
        .format("parquet")
        .option("pathGlobFilter", src_glob)
        .load(src_path)
    )
    out = _tf.mkdtemp(prefix="st19_dedup_")
    shutil.rmtree(out, ignore_errors=True)
    streaming_exact_dedup(stream, out)
    return spark.read.parquet(out).select("fingerprint", "doc_id")


from .dedup import _BANDS_CTE as _ST20_BANDS  # noqa: E402  (shared band CTE)


@register(
    "st20_stream_neardup_gate",
    oracle=f"""
    WITH {_ST20_BANDS},
    coll AS (
        SELECT DISTINCT y.doc_id
        FROM b x
        JOIN b y ON x.band = y.band AND x.bucket = y.bucket
                AND x.doc_id < y.doc_id
    )
    SELECT d.doc_id
    FROM documents d LEFT JOIN coll ON coll.doc_id = d.doc_id
    WHERE coll.doc_id IS NULL
    """,
    survey="§2.10, NS-dedup extended (MinHash/LSH near-dup gate on ingest: bucket-state accretion across epochs)",
)
def st20_stream_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d3's LSH candidate machinery moved INTO the ingest path: a document
    is admitted only if none of its (band, bucket) keys were seen before —
    in the same batch from a smaller doc_id, or in any earlier epoch's
    committed bucket table (streaming/jobs.streaming_neardup_gate).  With
    one availableNow batch the kept set equals the batch rule 'survives
    iff no bucket is shared with a smaller doc_id', which is the oracle;
    multi-batch equivalence with ordered files is pinned in
    tests/test_streaming.py."""
    import shutil
    import tempfile as _tf

    from ..streaming.jobs import streaming_neardup_gate

    file_schema = footer_schema(spark, sf_dir, "documents")
    src_path, src_glob = stream_source_path(sf_dir, "documents")
    stream = (
        spark.readStream.schema(file_schema)
        .format("parquet")
        .option("pathGlobFilter", src_glob)
        .load(src_path)
    )
    out = _tf.mkdtemp(prefix="st20_gate_")
    shutil.rmtree(out, ignore_errors=True)
    streaming_neardup_gate(stream, out)
    return spark.read.parquet(f"{out}/kept").select("doc_id")


@register(
    "st21_stream_shard_manifest",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tok,
               sum(n_tok) OVER (ORDER BY doc_id) - n_tok AS start_off
        FROM t
    ),
    s AS (SELECT doc_id, n_tok, start_off // 20000 AS shard_id FROM c)
    SELECT CAST(shard_id AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM s GROUP BY shard_id
    """,
    survey="§2.10, NS-layout extended (shard manifest maintained by the ingest: committed token totals seed each batch's offsets)",
)
def st21_stream_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x55's shard manifest produced BY THE INGEST (streaming/jobs.
    streaming_shard_manifest): each micro-batch continues exactly where
    the committed epochs' token total left off, so with availableNow over
    one documents file the manifest equals the batch assignment
    bit-for-bit (the oracle); multi-batch continuity with ordered files
    is pinned in tests/test_streaming.py."""
    import shutil
    import tempfile as _tf

    from ..streaming.jobs import streaming_shard_manifest

    file_schema = footer_schema(spark, sf_dir, "documents")
    src_path, src_glob = stream_source_path(sf_dir, "documents")
    stream = (
        spark.readStream.schema(file_schema)
        .format("parquet")
        .option("pathGlobFilter", src_glob)
        .load(src_path)
    )
    out = _tf.mkdtemp(prefix="st21_shards_")
    shutil.rmtree(out, ignore_errors=True)
    streaming_shard_manifest(stream, out)
    return (
        spark.read.parquet(out)
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
    )


# -- plan-audit fragments (VERDICT r4 #3) ------------------------------------
# The st* queries above EXECUTE their streaming jobs at build, and the frame
# they return is a memory-sink/parquet read-back whose plan says nothing
# about the job.  Each fragment below is the BATCH twin of the streamed
# transformation — the identical operator tree Structured Streaming
# incrementalizes (watermark calls are no-ops / gated on .isStreaming) —
# registered so the engine-wide cartesian + window audits walk a real plan
# for these queries instead of skipping them.  st4/st5/st11 have NO batch
# twin (their operators exist only on streams) and stay justified skips in
# tests/plan_audits.py.


@fragment("st1_stream_tumbling_counts")
def _frag_st1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(load_table(spark, sf_dir, "events"))


@fragment("st6_stream_static_join")
def _frag_st6(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the query's own enrichment builder on batch input (ADVICE r5)
    return _static_enrich(load_table(spark, sf_dir, "events"), spark, sf_dir)


@fragment("st7_stream_stream_interval_join")
def _frag_st7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import click_purchase_attribution

    ev = load_table(spark, sf_dir, "events")
    return click_purchase_attribution(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )


@fragment("st8_stream_session_windows")
def _frag_st8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize_batch(load_table(spark, sf_dir, "events"))


@fragment("st9_incremental_rollup")
def _frag_st9(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the per-batch partial the foreachBatch writer lands (the read-side
    # merge is a scan + re-aggregate of these partials, same agg shape)
    return tumbling_counts(load_table(spark, sf_dir, "events"))


@fragment("st10_incremental_user_snapshot")
def _frag_st10(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one micro-batch step: merge the previous snapshot with a delta —
    # exactly what write_batch does with (prev version, batch)
    from ..streaming import merge_snapshots, user_snapshot

    ev = load_table(spark, sf_dir, "events")
    prev = user_snapshot(ev.where(F.col("event_id") % 2 == 0))
    delta = user_snapshot(ev.where(F.col("event_id") % 2 == 1))
    return merge_snapshots(prev, delta)


@fragment("st12_streaming_countmin")
def _frag_st12(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-batch grid partial + read-side cell merge + probe, on batch input
    from ..operators.sketches import cms_build, cms_probe

    ev = load_table(spark, sf_dir, "events")
    keys = ev.select("user_id").distinct()
    return cms_probe(cms_build(ev, "user_id"), keys, "user_id")


# Round-5 code-review follow-up: st13-st21 also execute their jobs at
# build (they were never in the audits' SKIP, so the audits walked their
# read-back scans — the same blind spot, unlisted).  Batch twins below.


@fragment("st13_streaming_hll")
def _frag_st13(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-batch register partial -> cell-wise max merge -> estimate
    from ..operators.sketches import hll_estimate, hll_merge, hll_registers

    ev = load_table(spark, sf_dir, "events")
    return hll_estimate(hll_merge(hll_registers(ev, "user_id")))


@fragment("st14_python_stream_source")
def _frag_st14(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the same Python DataSource read in BATCH mode + the identical agg
    from ..sources.restpages import register_restpages

    register_restpages(spark)
    pages = (
        spark.read.format("restpages")
        .option("pages", 6)
        .option("page_size", 25)
        .load()
    )
    return pages.groupBy("page").agg(
        F.count("*").alias("n_items"),
        F.min("item_id").alias("min_id"),
        F.max("item_id").alias("max_id"),
    )


@fragment("st15_stream_left_outer_attribution")
def _frag_st15(spark: SparkSession, sf_dir: str) -> DataFrame:
    # batch twin built from the query's OWN projection/condition/safe-
    # region builders (_attribution_*) — only the watermark calls and the
    # memory-sink hop differ from the streamed plan (ADVICE r5); the
    # streamed semantics are gated by the st15 registry oracle
    ev = load_table(spark, sf_dir, "events")
    clicks, purch = _attribution_projections(ev)
    j = clicks.join(purch, _attribution_cond(), "left_outer").select(
        "click_id", "purchase_id", "click_ts"
    )
    return _attribution_safe_filter(j, ev)


@fragment("st16_stream_row_ids")
def _frag_st16(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one micro-batch's id assignment (bucketed offsets + intra-bucket
    # row_number — the x39 plan), offset is a literal at batch time
    from .scale_ops2 import global_row_ids

    ev = load_table(spark, sf_dir, "events")
    return global_row_ids(
        ev, F.col("ts").cast("date").cast("string"), ["ts", "event_id"]
    ).select("event_id", "row_id")


@fragment("st17_stream_append_compact")
def _frag_st17(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the job's own per-batch day-partition projection (jobs.
    # day_partitioned) + the read-back layout aggregate; the compaction
    # half (file healing) is covered by tests/test_streaming.py::
    # test_multibatch_fragments_heal on the real multi-batch job
    from ..streaming.jobs import day_partitioned

    ev = day_partitioned(load_table(spark, sf_dir, "events"))
    return ev.groupBy("ds").agg(F.count("*").alias("n"))


@fragment("st18_streaming_dataset_card")
def _frag_st18(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the job's own per-batch card partial (jobs.dataset_card_partial —
    # the crossJoin inside is two broadcast scalar aggregates); the
    # cross-batch partial MERGE is gated by the st18 registry oracle
    from ..streaming.jobs import dataset_card_partial

    return dataset_card_partial(load_table(spark, sf_dir, "documents"))


@fragment("st19_stream_exact_dedup")
def _frag_st19(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the job's own within-batch dedup step (jobs.batch_dedup_keep; the
    # cross-epoch anti-join rides the same fingerprint key); the
    # cross-batch rule is covered by tests/test_streaming.py::
    # test_cross_batch_first_wins on the real multi-batch job
    from ..streaming.jobs import batch_dedup_keep

    return batch_dedup_keep(load_table(spark, sf_dir, "documents"))


@fragment("st20_stream_neardup_gate")
def _frag_st20(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the job's own gate steps (jobs.neardup_buckets +
    # neardup_within_batch_hits; the committed-bucket semi-join rides
    # the same (band, bucket) equality key); the cross-batch rule is
    # covered by tests/test_streaming.py::test_multibatch_equals_batch_rule
    from ..streaming.jobs import neardup_buckets, neardup_within_batch_hits

    d = load_table(spark, sf_dir, "documents")
    hit = neardup_within_batch_hits(neardup_buckets(d))
    return d.select("doc_id").join(hit, "doc_id", "left_anti")


@fragment("st21_stream_shard_manifest")
def _frag_st21(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one micro-batch's assignment (x55's bucketed prefix sums, base
    # offset literal at batch time) + the query's read-back aggregate
    from ..operators.prefix import bucketed_running_sums

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(
            F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
        ).alias("n_tok"),
    )
    assigned = bucketed_running_sums(
        t,
        F.floor(F.col("doc_id") / 50).cast("int"),
        ["doc_id"],
        {"n_tok": "cum_tok"},
    ).select(
        "doc_id",
        "n_tok",
        ((F.col("cum_tok") - F.col("n_tok")) / 20000)
        .cast("bigint")
        .alias("shard_id"),
    )
    return assigned.groupBy("shard_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )
