"""Round-2 scale-infrastructure operators: zone-map pruning, distributed
row-id assignment, and near-dup graph analytics.

Same charter as scale_ops.py — operations a 100 TB training-data pipeline
leans on daily, expressed as pure DataFrame aggregates with deterministic
outputs so the DuckDB oracle reproduces every bit:

- x38: file-level min/max zone maps + scan-pruning simulation — the
  statistic behind parquet row-group skipping and Iceberg/Delta file
  pruning, and the quantitative motivation for x26's Z-order layout
  (a clustered column prunes, an uncorrelated one doesn't).
- x39: global contiguous row ids WITHOUT a single-partition global sort —
  the distributed zipWithIndex every training-data pipeline needs for
  stable example ids.
- pr4: d9's near-dup connected components over a checkpointed edge
  leaf (min-label propagation, operators/graph.connected_components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from . import register
from .dedup import _BANDS_CTE, _CAND_SQL
from ..operators import dedup as DD
from ..ckpt import ckpt


# ------------------------------------------------------- x38: zone maps

_PRICE_LO, _PRICE_HI = 150000.0, 200000.0
_DATE_CUT = "1997-06-01"


@register(
    "x38_zone_map_pruning",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           CAST(min(o_orderdate) AS DATE) AS min_date,
           CAST(max(o_orderdate) AS DATE) AS max_date,
           (max(o_totalprice) >= {_PRICE_LO}
            AND min(o_totalprice) <= {_PRICE_HI}) AS scan_for_price_pred,
           (max(o_orderdate) >= DATE '{_DATE_CUT}') AS scan_for_date_pred
    FROM orders
    GROUP BY strftime(o_orderdate, '%Y-%m')
    """,
    survey="NS-layout (file-level min/max zone maps + pruning simulation — the row-group-skipping statistic)",
)
def x38_zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning audit: treat each o_orderdate month as one ingest
    file, compute its min/max zone maps for o_totalprice and o_orderdate,
    and decide per file whether two predicates could skip it:

      price BETWEEN 150k AND 200k  — uncorrelated with the file key, so
                                     zone maps barely prune (every file
                                     spans nearly the full price range);
      o_orderdate >= 1997-06-01    — identical to the file key, so all
                                     earlier files are skipped outright.

    This is exactly the statistic a parquet reader consults per row group
    and an Iceberg/Delta planner consults per file; the contrast between
    the two flags is the quantitative case for clustering the layout on
    the filter column (x26 Z-order).  One hash aggregate — no shuffle
    beyond the groupBy, output is one row per file."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("file_id")
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
        (
            (F.max("o_totalprice") >= _PRICE_LO)
            & (F.min("o_totalprice") <= _PRICE_HI)
        ).alias("scan_for_price_pred"),
        (F.max("o_orderdate") >= F.lit(_DATE_CUT).cast("date")).alias(
            "scan_for_date_pred"
        ),
    )


# -------------------------------------------------- x39: global row ids


def global_row_ids(
    df: DataFrame, bucket_col, order_cols: list[str], id_name: str = "row_id"
) -> DataFrame:
    """Contiguous global ordinals 0..N-1 in ``order_cols`` order, without
    a single-partition global sort.

    The naive ``row_number() OVER (ORDER BY ...)`` collapses the whole
    table onto one task — a non-starter at 100 TB.  This is the
    distributed form (the DataFrame zipWithIndex):

      1. bucket every row by a DATA-DERIVED range key (``bucket_col`` must
         sort consistently with ``order_cols``' leading column);
      2. one tiny aggregate: rows per bucket → cumulative offsets via a
         window over the (small) bucket list — |buckets| rows, not |rows|;
      3. broadcast the offsets back and add the intra-bucket
         ``row_number`` (shuffles by bucket only — the window partition).

    Ids are a pure function of the data (bucket boundaries are values,
    not partitioner samples), so the result is deterministic under any
    partitioning — unlike ``monotonically_increasing_id`` or RDD
    zipWithIndex, whose values depend on task layout.  Skewed buckets
    bound the window-task size; pick ``bucket_col`` granularity
    accordingly (months here → ~1/84th of the table per task).
    """
    b = df.withColumn("_bkt", bucket_col)
    offsets = (
        b.groupBy("_bkt")
        .agg(F.count("*").alias("_n"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("_bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_bkt", "_offset")
    )
    intra = F.row_number().over(
        Window.partitionBy("_bkt").orderBy(*[F.col(c) for c in order_cols])
    )
    return (
        b.join(F.broadcast(offsets), "_bkt")
        .withColumn(id_name, (F.col("_offset") + intra - 1).cast("bigint"))
        .drop("_bkt", "_offset")
    )


def ntile_from_rank(rank_col: str, n_col: str, k: int = 10):
    """ntile(k)'s exact bucketing as closed-form arithmetic on a 0-based
    global rank: with q = n div k and r = n mod k, the FIRST r buckets get
    q+1 rows (ntile front-loads the remainder), so
    bucket = rank < r(q+1) ? rank div (q+1) : r + (rank - r(q+1)) div q.
    When n < k, q = 0 and every rank takes the first branch (r = n), so
    the div-by-q arm never divides by zero.  Parity with the window
    function is pinned in tests (TestNtileClosedForm, non-multiple-of-k
    counts).  Returns the 0-based bucket as INT; add 1 for ntile's value.
    """
    return F.expr(
        f"""CAST(CASE
             WHEN {rank_col} < ({n_col} % {k}) * ({n_col} DIV {k} + 1)
             THEN {rank_col} DIV ({n_col} DIV {k} + 1)
             ELSE ({n_col} % {k}) + ({rank_col} - ({n_col} % {k}) * ({n_col} DIV {k} + 1)) DIV ({n_col} DIV {k})
           END AS INT)"""
    )


@register(
    "x39_global_row_ids",
    oracle="""
    SELECT o_orderkey,
           CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey) - 1
                AS BIGINT) AS row_id
    FROM orders
    """,
    survey="NS-layout (distributed zipWithIndex: contiguous global ordinals without a single-partition sort)",
)
def x39_global_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable example ids for a training corpus: contiguous 0..N-1 in
    (o_orderdate, o_orderkey) order via bucketed offsets + intra-bucket
    row_number (see :func:`global_row_ids`).  The oracle is the
    single-partition window this operator exists to avoid — identical
    output, radically different plan."""
    o = load_table(spark, sf_dir, "orders")
    with_ids = global_row_ids(
        o,
        F.date_format("o_orderdate", "yyyy-MM"),
        ["o_orderdate", "o_orderkey"],
    )
    return with_ids.select("o_orderkey", "row_id")


# ------------------------------- pr4: CC on a checkpointed edge leaf


@register(
    "pr4_cc_alternating",
    oracle=f"""
    WITH RECURSIVE
    {_BANDS_CTE},
    cand AS ({_CAND_SQL}),
    verified AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN g ga ON ga.doc_id = c.id_a
        JOIN g gb ON gb.doc_id = c.id_b
        WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                  / len(list_distinct(ga.grams || gb.grams)) >= 0.5
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM verified
        UNION
        SELECT id_b AS a, id_a AS b FROM verified
    ),
    reach(id, r) AS (
        SELECT a, a FROM sym
        UNION
        SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id
    )
    SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
    FROM reach GROUP BY id
    """,
    survey="NS-dedup (connected components over a checkpointed near-dup edge leaf — min-label propagation)",
)
def pr4_cc_alternating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d9's dedup clusters computed over a checkpointed edge leaf:
    operators/graph.connected_components (min-label propagation) on the
    verified pairs of operators/dedup.verified_pairs, materialized once,
    so the label loop reads a leaf instead of the LSH verify lineage.
    The oracle (recursive CTE transitive closure) and d9 agree
    bit-for-bit: both converge to the unique min-id-per-component
    fixpoint.  The registry name is historical, kept as a stable key of
    the bench headline and the scale sweeps."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    # the CC operator's symmetric edge list reads its input twice — hand
    # it a leaf so the LSH verify pipeline runs once (pr5/pr7's idiom).
    verified = DD.verified_pairs(docs).transform(ckpt)
    return connected_components(verified, "id_a", "id_b").select(
        F.col("id").alias("doc_id"), "component"
    )


# ------------------------------- a28: mergeable histogram quantiles

_QS = (0.25, 0.5, 0.75, 0.9, 0.99)
_NBINS = 64


@register(
    "a28_histogram_quantile_audit",
    oracle=f"""
    WITH mm AS (
        SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi,
               CAST(count(*) AS DOUBLE) AS n_rows
        FROM orders
    ),
    hist AS (
        SELECT least(CAST(floor((o_totalprice - mm.lo) / ((mm.hi - mm.lo) / {_NBINS})) AS BIGINT),
                     {_NBINS - 1}) AS bin,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM orders, mm GROUP BY 1
    ),
    cum AS (
        SELECT bin, cnt,
               coalesce(sum(cnt) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum_prev
        FROM hist
    ),
    qs AS (SELECT unnest([{", ".join(str(q) for q in _QS)}]) AS q),
    est AS (
        SELECT qs.q,
               round(mm.lo + (CAST(c.bin AS DOUBLE) + (qs.q * mm.n_rows - c.cum_prev) / c.cnt)
                             * ((mm.hi - mm.lo) / {_NBINS}), 2) AS est_price,
               (mm.hi - mm.lo) / {_NBINS} AS w
        FROM qs, mm
        JOIN cum c ON c.cum_prev < qs.q * mm.n_rows
                  AND qs.q * mm.n_rows <= c.cum_prev + c.cnt
    ),
    ex AS (
        SELECT unnest([{", ".join(str(q) for q in _QS)}]) AS q,
               unnest(quantile_cont(o_totalprice, [{", ".join(str(q) for q in _QS)}])) AS exact
        FROM orders
    )
    SELECT est.q, est.est_price,
           abs(est.est_price - ex.exact) <= est.w AS within_one_bin
    FROM est JOIN ex ON est.q = ex.q
    """,
    survey="NS-sketch (mergeable equi-width histogram → interpolated quantiles, audited against the exact sort)",
)
def a28_histogram_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a MERGEABLE histogram, audited against the exact
    aggregate.  The 100 TB shape: per-partition equi-width bin counts are
    additive partials (map-side combined, mergeable across days exactly
    like the CMS/HLL sketches), and any quantile is then read off the
    64-row histogram by interpolation — no sort, no percentile state
    proportional to data.  The audit joins the exact ``percentile``
    (affordable at test SF, the thing you CAN'T run at 100 TB) and checks
    the estimate lands within one bin width — the estimator's guarantee.

    Every arithmetic step is mirrored token-for-token in the oracle so the
    interpolated doubles are bit-identical; the exact side differs by ulps
    between engines, which the one-bin tolerance absorbs."""
    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    mm = o.agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count("*").cast("double").alias("n_rows"),
        F.expr(
            f"percentile(o_totalprice, array({', '.join(str(q) for q in _QS)}))"
        ).alias("exacts"),
    )
    binned = o.join(F.broadcast(mm.select("lo", "hi"))).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / _NBINS)
            ).cast("bigint"),
            F.lit(_NBINS - 1),
        ).alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count("*").cast("double").alias("cnt"))
    cum = hist.select(
        "bin",
        "cnt",
        F.coalesce(
            F.sum("cnt").over(
                Window.orderBy("bin").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0.0),
        ).alias("cum_prev"),
    )
    qs = mm.select(
        F.posexplode(F.array(*[F.lit(q) for q in _QS])).alias("i", "q"),
        "lo",
        "hi",
        "n_rows",
        "exacts",
    ).select(
        "q",
        "lo",
        "hi",
        "n_rows",
        F.col("exacts").getItem(F.col("i")).alias("exact"),
    )
    est = qs.join(
        F.broadcast(cum),
        (F.col("cum_prev") < F.col("q") * F.col("n_rows"))
        & (F.col("q") * F.col("n_rows") <= F.col("cum_prev") + F.col("cnt")),
    ).select(
        "q",
        F.round(
            F.col("lo")
            + (
                F.col("bin").cast("double")
                + (F.col("q") * F.col("n_rows") - F.col("cum_prev"))
                / F.col("cnt")
            )
            * ((F.col("hi") - F.col("lo")) / _NBINS),
            2,
        ).alias("est_price"),
        (
            F.abs(
                F.col("lo")
                + (
                    F.col("bin").cast("double")
                    + (F.col("q") * F.col("n_rows") - F.col("cum_prev"))
                    / F.col("cnt")
                )
                * ((F.col("hi") - F.col("lo")) / _NBINS)
                - F.col("exact")
            )
            <= (F.col("hi") - F.col("lo")) / _NBINS
        ).alias("within_one_bin"),
    )
    return est


# --------------------------------------- d21: URL canonicalization dedup

# deterministic noisy URL synthesis: four surface forms of the same
# logical resource, keyed by event_id % 4 (mixed-case host, reordered
# params, tracking params, fragment).  Mirrored verbatim in the oracle.
_RAW_URL_SQL = """
    CASE CAST(event_id % 4 AS INTEGER)
      WHEN 0 THEN concat('https://api.example.com/v1/items?user=', CAST(user_id AS VARCHAR), '&type=', event_type)
      WHEN 1 THEN concat('https://API.Example.COM/v1/items/?type=', event_type, '&user=', CAST(user_id AS VARCHAR))
      WHEN 2 THEN concat('https://api.example.com/v1/items?utm_source=feed&user=', CAST(user_id AS VARCHAR), '&type=', event_type, '&utm_campaign=x')
      ELSE concat('https://api.EXAMPLE.com/v1/items?user=', CAST(user_id AS VARCHAR), '&utm_medium=rss&type=', event_type, '#frag')
    END
"""


@register(
    "d21_url_canonical_dedup",
    oracle=f"""
    WITH raw AS (
        SELECT event_id, {_RAW_URL_SQL} AS url FROM events
    ),
    parts AS (
        SELECT event_id, url,
               lower(regexp_extract(url, '^([a-z]+)://([^/?#]+)', 2)) AS host,
               rtrim(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/') AS path,
               regexp_extract(url, '\\?([^#]*)', 1) AS query
        FROM raw
    ),
    canon AS (
        SELECT event_id, url,
               concat('https://', host, path, '?',
                      list_aggr(list_sort(list_filter(string_split(query, '&'),
                                                      x -> NOT starts_with(x, 'utm_'))),
                                'string_agg', '&')) AS canonical_url
        FROM parts
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms,
           min(event_id) AS rep_event_id
    FROM canon GROUP BY canonical_url
    """,
    survey="NS-dedup (URL canonicalization dedup: case-fold host, strip tracking params/fragment, sort query — crawl-pipeline exact dedup)",
)
def d21_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-style URL dedup: four deterministic surface variants of each
    logical resource (mixed-case host, reordered query, utm_* tracking
    params, fragment) collapse to one canonical form — lowercase host,
    trailing-slash-stripped path, tracking params dropped, remaining
    params sorted.  Grouping by the canonical URL is then EXACT dedup
    (one hash shuffle on the canonical key, same plan shape as d1); the
    per-group distinct-raw-form count shows how many surface variants the
    canonicalizer folded.  All pure codegen string expressions — no UDF."""
    ev = load_table(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    raw = ev.select(
        "event_id",
        F.when(
            (F.col("event_id") % 4).cast("int") == 0,
            F.concat(
                F.lit("https://api.example.com/v1/items?user="),
                uid,
                F.lit("&type="),
                F.col("event_type"),
            ),
        )
        .when(
            (F.col("event_id") % 4).cast("int") == 1,
            F.concat(
                F.lit("https://API.Example.COM/v1/items/?type="),
                F.col("event_type"),
                F.lit("&user="),
                uid,
            ),
        )
        .when(
            (F.col("event_id") % 4).cast("int") == 2,
            F.concat(
                F.lit("https://api.example.com/v1/items?utm_source=feed&user="),
                uid,
                F.lit("&type="),
                F.col("event_type"),
                F.lit("&utm_campaign=x"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://api.EXAMPLE.com/v1/items?user="),
                uid,
                F.lit("&utm_medium=rss&type="),
                F.col("event_type"),
                F.lit("#frag"),
            )
        )
        .alias("url"),
    )
    host = F.lower(F.regexp_extract("url", r"^([a-z]+)://([^/?#]+)", 2))
    path = F.regexp_replace(
        F.regexp_extract("url", r"^[a-zA-Z]+://[^/?#]+([^?#]*)", 1),
        "/+$",
        "",
    )
    query = F.regexp_extract("url", r"\?([^#]*)", 1)
    canonical = F.concat(
        F.lit("https://"),
        host,
        path,
        F.lit("?"),
        F.array_join(
            F.array_sort(
                F.filter(
                    F.split(query, "&"),
                    lambda x: ~x.startswith("utm_"),
                )
            ),
            "&",
        ),
    )
    return (
        raw.select("event_id", "url", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("url").alias("n_raw_forms"),
            F.min("event_id").alias("rep_event_id"),
        )
    )


# -------------------------------- x40: sketch join-size estimation

_CMS_W = 256
_CMS_D = 4


def _cms_cells_sql(src: str, alias: str) -> str:
    """Per-key counts of ``src`` folded into the 4×256 count-min grid."""
    rows = " UNION ALL ".join(
        f"SELECT {r} AS row, (('0x' || substr(md5(concat('{r}:', CAST(k AS VARCHAR))), 1, 8))::BIGINT"
        f" % {_CMS_W}) AS bucket, n FROM {alias}_keys"
        for r in range(_CMS_D)
    )
    return f"""
    {alias}_keys AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS n FROM {src} GROUP BY user_id),
    {alias}_cells AS (
        SELECT row, bucket, CAST(sum(n) AS BIGINT) AS n
        FROM ({rows}) GROUP BY row, bucket
    )"""


@register(
    "x40_join_size_estimate",
    oracle=f"""
    WITH
    {_cms_cells_sql("events", "a")},
    {_cms_cells_sql("(SELECT * FROM events WHERE event_type = 'click')", "b")},
    est AS (
        SELECT a.row, CAST(sum(a.n * b.n) AS BIGINT) AS est_pairs
        FROM a_cells a JOIN b_cells b ON a.row = b.row AND a.bucket = b.bucket
        GROUP BY a.row
    ),
    ex AS (
        SELECT CAST(sum(a.n * b.n) AS BIGINT) AS exact_pairs
        FROM a_keys a JOIN b_keys b ON a.k = b.k
    )
    SELECT est.row AS cms_row, est.est_pairs, ex.exact_pairs,
           est.est_pairs >= ex.exact_pairs AS is_upper_bound
    FROM est, ex
    """,
    survey="NS-sketch (join-cardinality estimation: count-min inner product — the optimizer statistic, sketch-sized state)",
)
def x40_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict a join's output size BEFORE running it: |A ⋈_k B| =
    Σ_k cnt_A(k)·cnt_B(k), estimated as the inner product of the two
    sides' count-min grids (Σ_cell a·b per hash row — each row is an
    upper bound because collisions only add mass; the min over rows is
    the working estimate).  This is the statistic a planner wants for
    join reordering / skew pre-detection at 100 TB: each side is
    sketched independently in one pass (4×256 cells regardless of
    cardinality, mergeable across shards like a24), and the product
    costs 1 Ki multiplies — vs actually running the join.  The audit
    joins the exact Σ product; ``is_upper_bound`` is the CMS guarantee
    and must be TRUE on every row."""
    from ..operators.sketches import cms_build

    ev = load_table(spark, sf_dir, "events")
    a = cms_build(ev, "user_id")
    b = cms_build(ev.where(F.col("event_type") == "click"), "user_id")
    est = (
        a.alias("a")
        .join(b.alias("b"), ["row", "bucket"])
        .groupBy("row")
        .agg(
            F.sum(F.col("a.n") * F.col("b.n")).cast("bigint").alias("est_pairs")
        )
        .select(F.col("row").alias("cms_row"), "est_pairs")
    )
    ka = ev.groupBy("user_id").agg(F.count("*").alias("na"))
    kb = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("nb"))
    )
    exact = (
        ka.join(kb, "user_id")
        .agg(F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("exact_pairs"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "cms_row",
        "est_pairs",
        "exact_pairs",
        (F.col("est_pairs") >= F.col("exact_pairs")).alias("is_upper_bound"),
    )


# ------------------------------------- a29: HLL set operations

_HLL_REGS_SQL = """
    SELECT idx, max(rho) AS reg FROM (
        SELECT hv % 64 AS idx,
               CASE WHEN hv // 64 = 0 THEN 27
                    ELSE 27 - length(bin(hv // 64)) END AS rho
        FROM (
            SELECT ('0x' || substr(md5(concat('91:', user_id::VARCHAR)), 1, 8))::BIGINT AS hv
            FROM events WHERE event_type = '{etype}'
        )
    ) GROUP BY idx
"""

_HLL_EST_SQL = """
    SELECT round(CASE WHEN (0.709 * 64 * 64 * 134217728.0) / z_scaled <= 160.0
                      AND v_empty > 0
                      THEN 64.0 * ln(64.0 / v_empty)
                      ELSE (0.709 * 64 * 64 * 134217728.0) / z_scaled
                 END, 4) AS est
    FROM (
        SELECT CAST(64 - count(*) AS BIGINT) AS v_empty,
               CAST(CAST(sum(1::BIGINT << (27 - reg)) AS BIGINT)
                    + (64 - count(*)) * 134217728 AS BIGINT) AS z_scaled
        FROM {regs}
    )
"""


@register(
    "a29_hll_set_ops",
    oracle=f"""
    WITH ra AS ({_HLL_REGS_SQL.format(etype="click")}),
    rb AS ({_HLL_REGS_SQL.format(etype="purchase")}),
    ru AS (
        SELECT idx, max(reg) AS reg
        FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY idx
    ),
    ea AS ({_HLL_EST_SQL.format(regs="ra")}),
    eb AS ({_HLL_EST_SQL.format(regs="rb")}),
    eu AS ({_HLL_EST_SQL.format(regs="ru")}),
    ex AS (
        SELECT CAST(count(DISTINCT CASE WHEN event_type IN ('click', 'purchase')
                                        THEN user_id END) AS BIGINT) AS exact_union,
               CAST((SELECT count(*) FROM
                      (SELECT user_id FROM events WHERE event_type = 'click'
                       INTERSECT
                       SELECT user_id FROM events WHERE event_type = 'purchase'))
                    AS BIGINT) AS exact_intersection
        FROM events
    )
    SELECT ea.est AS est_click, eb.est AS est_purchase, eu.est AS est_union,
           round(ea.est + eb.est - eu.est, 4) AS est_intersection,
           ex.exact_union, ex.exact_intersection
    FROM ea, eb, eu, ex
    """,
    survey="NS-sketch (HLL set algebra: union by register max, intersection by inclusion-exclusion, audited vs exact)",
)
def a29_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set algebra on HyperLogLog sketches: |clickers ∪ buyers|
    comes from merging the two register tables cell-wise (max — the HLL
    union is EXACT over sketches, losslessly mergeable at any shard
    count), and |clickers ∩ buyers| by inclusion–exclusion over the three
    estimates.  This is the segment-overlap question every audience /
    contamination analysis asks at 100 TB, answered from two 64-row
    register tables instead of a user-level join; the audit columns carry
    the exact counts (affordable at test SF) alongside."""
    from ..operators.sketches import hll_estimate, hll_merge, hll_registers

    ev = load_table(spark, sf_dir, "events")
    ra = hll_registers(ev.where(F.col("event_type") == "click"), "user_id")
    rb = hll_registers(ev.where(F.col("event_type") == "purchase"), "user_id")
    ru = hll_merge(ra, rb)

    def est(regs, name):
        return hll_estimate(regs).select(F.col("est_distinct").alias(name))

    ea, eb, eu = est(ra, "est_click"), est(rb, "est_purchase"), est(ru, "est_union")
    exact_union = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_union"))
    )
    clickers = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    exact_inter = clickers.intersect(buyers).agg(
        F.count("*").cast("bigint").alias("exact_intersection")
    )
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .select(
            "est_click",
            "est_purchase",
            "est_union",
            F.round(
                F.col("est_click") + F.col("est_purchase") - F.col("est_union"), 4
            ).alias("est_intersection"),
        )
        .crossJoin(F.broadcast(exact_union))
        .crossJoin(F.broadcast(exact_inter))
    )


# -------------------------- x41: deterministic weighted sampling


@register(
    "x41_weighted_sample",
    oracle="""
    WITH k AS (
        SELECT doc_id, CAST(length(text) AS DOUBLE) AS weight,
               round(ln((('0x' || substr(md5(concat('13:', doc_id::VARCHAR)), 1, 8))::BIGINT + 1)
                        / 4294967296.0)
                     / CAST(length(text) AS DOUBLE), 8) AS es_key
        FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, weight, es_key,
           CAST(row_number() OVER (ORDER BY es_key DESC, doc_id ASC) AS INTEGER) AS rank
    FROM k ORDER BY es_key DESC, doc_id ASC LIMIT 64
    """,
    survey="NS-sample (Efraimidis-Spirakis weighted sampling without replacement — deterministic hash-derived randomness, one top-k pass)",
)
def x41_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, the Efraimidis–Spirakis
    way: each row draws u ∈ (0,1] and competes with key ln(u)/w — the
    top-k keys are exactly a weighted sample without replacement.  Two
    properties make this the 100 TB sampler: it is ONE top-k pass (no
    sequential reservoir, partials merge as per-partition top-k like any
    argmax), and u is hash-derived from the row id, so the sample is a
    pure function of the data — reproducible across runs, engines, and
    partitionings (the same determinism discipline as x2's hash sample,
    extended to weights).  Here weight = document length: longer docs
    proportionally likelier, the token-budget-biased pick of x8 done
    probabilistically."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("13:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    u = (h + 1) / F.lit(4294967296.0)
    w = F.length("text").cast("double")
    k = d.select(
        "doc_id",
        w.alias("weight"),
        F.round(F.log(u) / w, 8).alias("es_key"),
    )
    top = k.orderBy(F.col("es_key").desc(), F.col("doc_id").asc()).limit(64)
    return top.select(
        "doc_id",
        "weight",
        "es_key",
        F.row_number()
        .over(Window.orderBy(F.col("es_key").desc(), F.col("doc_id").asc()))
        .cast("int")
        .alias("rank"),
    )


# ---------------------- x42: incremental zone-map maintenance


@register(
    "x42_zone_map_maintenance",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           CAST(min(o_orderdate) AS DATE) AS min_date,
           CAST(max(o_orderdate) AS DATE) AS max_date
    FROM orders
    GROUP BY strftime(o_orderdate, '%Y-%m')
    """,
    survey="NS-layout (zone-map manifest maintained incrementally: delta-batch stats merged by min/min-max/max-sum, no base rescan)",
)
def x42_zone_map_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest maintenance without rescanning history: the zone-map
    table (x38's statistic) is ALGEBRAIC — counts add, mins min, maxes
    max — so a delta batch's per-file stats merge into the existing
    manifest with one tiny aggregate over (old manifest ∪ delta stats).
    Here the base manifest covers o_orderkey % 10 != 0 and the delta is
    the remaining tenth; the merged manifest must equal the
    from-scratch manifest over everything (the oracle) bit-for-bit.
    At 100 TB this is how table statistics stay current per ingest:
    O(|delta| + |files|) work, the base data is never read again —
    the same partials discipline as x14's incremental aggregate and the
    streaming sketches."""
    o = load_table(spark, sf_dir, "orders")

    def stats(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("file_id")
        ).agg(
            F.count("*").alias("n_rows"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.min("o_orderdate").alias("min_date"),
            F.max("o_orderdate").alias("max_date"),
        )

    base_manifest = stats(o.where(F.col("o_orderkey") % 10 != 0))
    delta_stats = stats(o.where(F.col("o_orderkey") % 10 == 0))
    return (
        base_manifest.unionByName(delta_stats)
        .groupBy("file_id")
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.min("min_price").alias("min_price"),
            F.max("max_price").alias("max_price"),
            F.min("min_date").alias("min_date"),
            F.max("max_date").alias("max_date"),
        )
    )


# ------------------------------------------- pr5: BFS hop distances


@register(
    "pr5_bfs_hops",
    oracle=f"""
    WITH RECURSIVE
    {_BANDS_CTE},
    cand AS ({_CAND_SQL}),
    verified AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN g ga ON ga.doc_id = c.id_a
        JOIN g gb ON gb.doc_id = c.id_b
        WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                  / len(list_distinct(ga.grams || gb.grams)) >= 0.5
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM verified
        UNION
        SELECT id_b AS a, id_a AS b FROM verified
    ),
    reach(id, r) AS (
        SELECT a, a FROM sym
        UNION
        SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id
    ),
    comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
    src AS (SELECT id FROM comp WHERE id = c),
    walk(id, d) AS (
        SELECT id, 0::BIGINT FROM src
        UNION
        SELECT s.b, walk.d + 1 FROM walk JOIN sym s ON s.a = walk.id
        WHERE walk.d < 20
    )
    SELECT id AS doc_id, min(d) AS hops FROM walk GROUP BY id
    """,
    survey="NS-dedup extended (multi-source BFS: hop distance to each near-dup cluster's canonical representative)",
)
def pr5_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance from each near-dup cluster's canonical
    representative (its min doc_id, d8/d9's survivor) to every member —
    'how far does this duplication chain from its canonical copy', the
    chain-depth signal that says when greedy pairwise dedup (d8) diverges
    from transitive dedup (d9).  Multi-source BFS: all component minima
    seed distance 0 in ONE run (operators/graph.bfs_hops — each round is
    one edge join + one keyed min; rounds = max cluster eccentricity, 1
    row/node state).  The fourth iterative graph algorithm on the shared
    edge pipeline (CC, PageRank, label propagation, BFS); the oracle
    walks the same graph from the same roots via recursive CTE.  The
    roots are the minima of operators/graph.connected_components over the
    same checkpointed edge leaf."""
    from ..operators.graph import bfs_hops, connected_components

    docs = load_table(spark, sf_dir, "documents")
    verified = DD.verified_pairs(docs).transform(ckpt)
    comps = connected_components(verified, "id_a", "id_b")
    sources = comps.where(F.col("id") == F.col("component")).select("id")
    return bfs_hops(verified, sources, "id_a", "id_b").select(
        F.col("id").alias("doc_id"), "hops"
    )


# ----------------------- a30: exact time-decayed counters


@register(
    "a30_time_decayed_counts",
    oracle="""
    WITH anchor AS (SELECT CAST(max(ts) AS DATE) AS d0 FROM events),
    daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    w AS (
        SELECT event_type, n,
               least(CAST(floor(date_diff('day', day, anchor.d0) / 7) AS BIGINT), 9) AS wk
        FROM daily, anchor
    )
    SELECT event_type,
           CAST(sum(n) AS BIGINT) AS n_total,
           CAST(sum(n * (1::BIGINT << CAST(9 - wk AS INTEGER))) AS BIGINT) AS decayed_units,
           CAST(sum(n * (1::BIGINT << CAST(9 - wk AS INTEGER))) AS DOUBLE) / 512.0 AS decayed_count
    FROM w GROUP BY event_type
    """,
    survey="A-std extended (exponentially time-decayed counters in exact integer units — trending metric, mergeable partials)",
)
def a30_time_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending metric: each event contributes 2^-(age_weeks) with a
    7-day half-life (capped at 9 weeks), so recent activity dominates —
    the decayed counter every freshness-aware ranking uses.  The exact-
    integer trick: week-granular decay makes every weight a power of two,
    so scaling by 2^9 turns the whole aggregate into BIGINT arithmetic —
    bit-identical under any partitioning/engine (the v9/x4 micro-unit
    discipline applied to decay), and the partials stay additive/
    mergeable across shards and days like every sketch here.  One
    full-data pass to daily counts; the decay algebra runs on the tiny
    (type × day) relation."""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").cast("date").alias("d0"))
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    w = daily.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        "n",
        F.least(
            F.floor(F.datediff(F.col("d0"), F.col("day")) / 7).cast("bigint"),
            F.lit(9).cast("bigint"),
        ).alias("wk"),
    )
    # python F.shiftleft wants a literal bit count; the SQL form takes an
    # expression — 2^(9-wk) stays exact BIGINT for wk in [0, 9].
    units = F.expr("n * shiftleft(CAST(1 AS BIGINT), CAST(9 - wk AS INT))")
    return w.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum(units).cast("bigint").alias("decayed_units"),
        (F.sum(units).cast("double") / 512.0).alias("decayed_count"),
    )


# ------------------------- a31: co-occurrence lift mining


@register(
    "a31_cooccurrence_lift",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id, event_type FROM events),
    tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
    s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY event_type),
    p AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT p.type_a, p.type_b, sa.n AS n_a, sb.n AS n_b, p.n_both, tot.n_users,
           round(CAST(p.n_both AS DOUBLE) * tot.n_users / (sa.n * sb.n), 6) AS lift
    FROM p
    JOIN s sa ON sa.event_type = p.type_a
    JOIN s sb ON sb.event_type = p.type_b
    CROSS JOIN tot
    """,
    survey="A-std extended (co-occurrence mining: pairwise support + lift over per-user behavior sets)",
)
def a31_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence over user behavior: for every pair of
    event types, how many users do both, and the lift
    P(a,b)/(P(a)·P(b)) that says whether they co-occur beyond chance —
    the association signal behind recommendation and anomalous-pairing
    audits.  Plan: distinct (user, type) first (one shuffle — the only
    full-data pass), then the pair self-join runs on ≤|types| rows per
    user (bounded fan-out, same blocked-pairs shape as d6); marginals
    broadcast back.  Lift's inputs are exact BIGINTs; the one division
    rounds to 6 dp."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id", "event_type").distinct()
    tot = ev.agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    s = u.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n"))
    a = u.select("user_id", F.col("event_type").alias("type_a"))
    b = u.select("user_id", F.col("event_type").alias("type_b"))
    p = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    sa = s.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = s.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        p.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            "n_users",
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_users")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


# ------------------- x43: temperature-scaled mixture allocation

_MIX_BUDGET = 10000


@register(
    "x43_temperature_mixture",
    oracle=f"""
    WITH s AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1e6, 0) AS BIGINT) AS wu
        FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(sum(wu) AS BIGINT) AS wsum_u FROM s),
    q AS (
        SELECT s.source, s.n_docs,
               (s.wu * {_MIX_BUDGET}) // t.wsum_u AS base_quota,
               (s.wu * {_MIX_BUDGET}) % t.wsum_u AS remainder_u
        FROM s, t
    ),
    leftover AS (SELECT CAST({_MIX_BUDGET} - sum(base_quota) AS BIGINT) AS extra FROM q),
    r AS (
        SELECT q.*, row_number() OVER (ORDER BY remainder_u DESC, source ASC) AS rr
        FROM q
    )
    SELECT source, n_docs,
           CAST(base_quota + CASE WHEN rr <= leftover.extra THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM r, leftover
    """,
    survey="NS-sample extended (temperature-scaled mixture quotas: n^0.5 weights + largest-remainder integer allocation, sums exactly to budget)",
)
def x43_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture design for corpus sampling: per-source quotas ∝ n^0.5 —
    the temperature-scaled sampling (τ = 2) that up-weights small
    sources so they aren't drowned by the head, exactly the multilingual
    / multi-source balancing trick LLM data recipes use.  Fractional
    quotas become integers by the largest-remainder method (floor + top
    remainders get the leftover units, ties by source name), so the
    allocation sums to the budget EXACTLY and deterministically — no
    float drift deciding who gets the last example.  All the algebra
    runs on the |sources|-row aggregate; x16's resampler consumes these
    quotas.

    Exact-integer allocation (round 8): the weights are scaled to BIGINT
    micro-units (round(sqrt(n)·1e6) — sqrt is IEEE-correctly-rounded, so
    both engines compute the identical integer) and the floor/remainder
    arithmetic runs as integer DIV/MOD against the exact integer weight
    sum.  The previous double form floored w·B / sum(w) — and when every
    source has equal mass (the uniform 10x tier) that ratio is EXACTLY
    integral, so the last ulp of the double sum(w), which depends on
    partial-aggregation ORDER, decided 51.0 vs 50.999…: the engine and
    the oracle disagreed by one on every row under local-cluster at 10x
    (caught by the round-8 cluster10x gate on its first run).  Integer
    units make the allocation bit-identical under any partitioning,
    topology, or engine — which is what the micro-unit discipline
    (v9/x4/w29) is for."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    s = s.select(
        "source",
        "n_docs",
        F.round(F.sqrt(F.col("n_docs").cast("double")) * 1e6, 0)
        .cast("bigint")
        .alias("wu"),
    )
    t = s.agg(F.sum("wu").cast("bigint").alias("wsum_u"))
    q = s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        F.expr(f"(wu * {_MIX_BUDGET}) DIV wsum_u").alias("base_quota"),
        F.expr(f"(wu * {_MIX_BUDGET}) % wsum_u").alias("remainder_u"),
    )
    leftover = q.agg(
        (F.lit(_MIX_BUDGET) - F.sum("base_quota")).cast("bigint").alias("extra")
    )
    r = q.withColumn(
        "rr",
        F.row_number().over(
            Window.orderBy(F.col("remainder_u").desc(), F.col("source").asc())
        ),
    )
    return r.crossJoin(F.broadcast(leftover)).select(
        "source",
        "n_docs",
        (
            F.col("base_quota")
            + F.when(F.col("rr") <= F.col("extra"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("quota"),
    )


# ----------------- pr6: k-hop neighborhood sampling (GNN prep)


@register(
    "pr6_khop_neighbor_sample",
    oracle=f"""
    WITH
    {_BANDS_CTE},
    cand AS ({_CAND_SQL}),
    verified AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN g ga ON ga.doc_id = c.id_a
        JOIN g gb ON gb.doc_id = c.id_b
        WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                  / len(list_distinct(ga.grams || gb.grams)) >= 0.5
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM verified
        UNION
        SELECT id_b AS a, id_a AS b FROM verified
    ),
    ranked AS (
        SELECT a, b,
               row_number() OVER (
                   PARTITION BY a
                   ORDER BY ('0x' || substr(md5(concat(CAST(a AS VARCHAR), ':', CAST(b AS VARCHAR))), 1, 8))::BIGINT,
                            b
               ) AS rk
        FROM sym
    ),
    hop1 AS (SELECT a AS root, b AS n1 FROM ranked WHERE rk <= 3),
    hop2 AS (
        SELECT h.root, h.n1, r.b AS n2
        FROM hop1 h JOIN ranked r ON r.a = h.n1
        WHERE r.rk <= 3 AND r.b <> h.root
    )
    SELECT root, CAST(1 AS INTEGER) AS hop, CAST(NULL AS BIGINT) AS via, n1 AS neighbor
    FROM hop1
    UNION ALL
    SELECT root, CAST(2 AS INTEGER) AS hop, n1 AS via, n2 AS neighbor
    FROM hop2
    """,
    survey="NS-dedup extended (GraphSAGE-style k-hop neighborhood sampling: deterministic hash-ranked fan-out caps)",
)
def pr6_khop_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GNN training-data prep over the near-dup graph: each node samples
    up to 3 neighbors, and each sampled neighbor samples up to 3 of ITS
    neighbors (root excluded) — the 2-hop GraphSAGE fan-out that bounds
    per-node compute no matter how skewed the degree distribution (the
    hub-cap version of d14's bucket guard).  'Random' ranks are
    md5-derived from the (node, neighbor) pair, so the sample is a pure
    function of the graph — reproducible across engines/partitionings,
    the x41 discipline applied to edges.  Plan: one ranked window over
    the symmetric edge list, hop-2 by self-join of the capped hop-1."""
    docs = load_table(spark, sf_dir, "documents")
    verified = DD.verified_pairs(docs)
    e = verified.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    rank_hash = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("a").cast("string"), F.lit(":"), F.col("b").cast("string")
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    ranked = sym.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("a").orderBy(rank_hash, F.col("b"))
        ),
    ).transform(ckpt)
    hop1 = ranked.where(F.col("rk") <= 3).select(
        F.col("a").alias("root"), F.col("b").alias("n1")
    )
    hop2 = (
        hop1.join(
            ranked.where(F.col("rk") <= 3).select(
                F.col("a").alias("n1"), F.col("b").alias("n2")
            ),
            "n1",
        )
        .where(F.col("n2") != F.col("root"))
    )
    out1 = hop1.select(
        "root",
        F.lit(1).cast("int").alias("hop"),
        F.lit(None).cast("bigint").alias("via"),
        F.col("n1").alias("neighbor"),
    )
    out2 = hop2.select(
        "root",
        F.lit(2).cast("int").alias("hop"),
        F.col("n1").alias("via"),
        F.col("n2").alias("neighbor"),
    )
    return out1.unionByName(out2)


# --------------- a32: rolling distinct count from HLL partials

_HLL_SCALE2 = 1 << 27


@register(
    "a32_rolling_distinct_hll",
    oracle=f"""
    WITH h AS (
        SELECT CAST(ts AS DATE) AS day,
               ('0x' || substr(md5(concat('91:', user_id::VARCHAR)), 1, 8))::BIGINT AS hv
        FROM events
    ),
    r AS (
        SELECT day, hv % 64 AS idx,
               CASE WHEN hv // 64 = 0 THEN 27
                    ELSE 27 - length(bin(hv // 64)) END AS rho
        FROM h
    ),
    daily AS (SELECT day, idx, max(rho) AS reg FROM r GROUP BY day, idx),
    grid AS (SELECT DISTINCT day FROM daily),
    merged AS (
        SELECT g.day, d.idx, max(d.reg) AS reg
        FROM grid g JOIN daily d
          ON d.day BETWEEN g.day - INTERVAL 6 DAY AND g.day
        GROUP BY g.day, d.idx
    ),
    agg AS (
        SELECT day, count(*) AS used,
               CAST(sum(1::BIGINT << (27 - reg)) AS BIGINT) AS z_used
        FROM merged GROUP BY day
    ),
    s AS (
        SELECT day, CAST(64 - used AS BIGINT) AS v_empty,
               CAST(z_used + (64 - used) * {_HLL_SCALE2} AS BIGINT) AS z_scaled
        FROM agg
    ),
    est AS (
        SELECT day, v_empty, z_scaled,
               round(CASE WHEN (0.709 * 64 * 64 * {_HLL_SCALE2}) / z_scaled <= 160.0
                          AND v_empty > 0
                          THEN 64.0 * ln(64.0 / v_empty)
                          ELSE (0.709 * 64 * 64 * {_HLL_SCALE2}) / z_scaled
                     END, 4) AS est_distinct
        FROM s
    ),
    ex AS (
        SELECT g.day, CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_exact
        FROM grid g JOIN events e
          ON CAST(e.ts AS DATE) BETWEEN g.day - INTERVAL 6 DAY AND g.day
        GROUP BY g.day
    )
    SELECT strftime(est.day, '%Y-%m-%d') AS day, est.v_empty, est.z_scaled,
           est.est_distinct, ex.n_exact
    FROM est JOIN ex ON est.day = ex.day
    """,
    survey="NS-sketch extended (rolling 7-day distinct users from mergeable daily HLL partials — no per-window rescan)",
)
def a32_rolling_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day — the DAU/WAU-style rolling
    cardinality — computed the only way it scales: ONE pass builds daily
    64-row HLL register partials, and every day's window answer is a
    cell-wise max over ≤7 register sets (a ≤448-row join per day, never a
    re-scan of the week's events).  Exact rolling distinct at 100 TB
    would re-shuffle every event into 7 windows; the partials make window
    membership a property of the 64-row sketches instead.  The exact
    count rides along as the audit (affordable at test SF)."""
    from ..operators.sketches import hll_estimate, hll_registers

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    daily = hll_registers(ev, "user_id", ["day"])
    grid = daily.select("day").distinct().select(F.col("day").alias("gday"))
    merged = (
        grid.join(
            daily,
            (F.col("day") >= F.date_sub(F.col("gday"), 6))
            & (F.col("day") <= F.col("gday")),
        )
        .groupBy("gday", "idx")
        .agg(F.max("reg").alias("reg"))
        .select(F.col("gday").alias("day"), "idx", "reg")
    )
    est = hll_estimate(merged, ["day"])
    exact = (
        grid.join(
            ev,
            (F.col("day") >= F.date_sub(F.col("gday"), 6))
            & (F.col("day") <= F.col("gday")),
        )
        .groupBy("gday")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
        .select(F.col("gday").alias("day"), "n_exact")
    )
    return est.join(exact, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "v_empty",
        "z_scaled",
        "est_distinct",
        "n_exact",
    )


# -------------------- a33: exact median by histogram bisection


@register(
    "a33_exact_median_bisect",
    oracle="""
    WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
    kth AS (
        SELECT o_totalprice AS median_exact
        FROM orders ORDER BY o_totalprice
        LIMIT 1 OFFSET (SELECT (n + 1) // 2 - 1 FROM t)
    )
    SELECT t.n, CAST((t.n + 1) // 2 AS BIGINT) AS k, kth.median_exact
    FROM t, kth
    """,
    survey="A-std extended (EXACT median without a global sort: histogram-bisection selection, counting passes only)",
)
def a33_exact_median_bisect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact (lower) median of o_totalprice found WITHOUT sorting:
    two 128-bin counting passes narrow the candidate range to ~n/16,384
    values, then one exact rank on that sliver (operators/selection).
    a28's histogram gives a within-one-bin estimate in one pass; this is
    the follow-through when 'approximately' isn't acceptable (billing,
    SLAs) — still no global sort, no exact-percentile buffer, just
    aggregates.  The oracle is the ORDER BY the operator exists to
    avoid; both return the identical data value."""
    from ..operators.selection import kth_smallest

    o = load_table(spark, sf_dir, "orders")
    n = o.count()
    k = (n + 1) // 2
    med = kth_smallest(o, "o_totalprice", k)
    return spark.createDataFrame(
        [(n, k, med)], "n bigint, k bigint, median_exact double"
    )


# --------------- x44: exact deciles without a global sort


@register(
    "x44_distributed_deciles",
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS INTEGER) AS price_decile
    FROM orders
    """,
    survey="W-std extended, NS-layout (exact ntile semantics from bucketed row ids — w9's single-reducer window, distributed)",
)
def x44_distributed_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """w9's exact decile labels WITHOUT w9's single-reducer sort: global
    ranks come from the bucketed row-id assignment (x39 — value-derived
    range buckets, tiny offsets aggregate, intra-bucket window), and
    ntile's exact bucketing rule is then closed-form arithmetic on the
    0-based rank.  ntile(k) FRONT-LOADS the remainder: with q = n div k
    and r = n mod k, the first r buckets get q+1 rows, so
    bucket = rank < r·(q+1) ? rank div (q+1) : r + (rank − r·(q+1)) div q
    — NOT the even-spread (rank·k) div n, which distributes remainder
    rows across all buckets and diverges whenever n mod k ≠ 0.  The
    oracle IS the unpartitioned ntile window; identical output at any n,
    shuffle-bounded plan.  (Price buckets here: fixed 25k-wide ranges —
    any monotone bucketing works, skew only affects task balance, never
    values.)"""
    o = load_table(spark, sf_dir, "orders")
    with_ids = global_row_ids(
        o,
        F.floor(F.col("o_totalprice") / 25000.0).cast("int"),
        ["o_totalprice", "o_orderkey"],
    )
    n = o.agg(F.count("*").alias("_n"))
    return (
        with_ids.crossJoin(F.broadcast(n))
        .select("o_orderkey", ntile_from_rank("row_id", "_n").alias("_q"))
        .select(
            "o_orderkey", (F.col("_q") + 1).cast("int").alias("price_decile")
        )
    )


# -------------------------- x46: A/B test analysis


@register(
    "x46_ab_test_analysis",
    oracle="""
    WITH u AS (
        SELECT user_id,
               ('0x' || substr(md5(concat('ab:', CAST(user_id AS VARCHAR))), 1, 8))::BIGINT % 2 AS variant,
               CASE WHEN 5 * sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > count(*) THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT CAST(count(CASE WHEN variant = 0 THEN 1 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
               CAST(count(CASE WHEN variant = 1 THEN 1 END) AS BIGINT) AS n_b,
               CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
        FROM u
    ),
    z AS (
        SELECT *,
               CAST(conv_a AS DOUBLE) / n_a AS p_a,
               CAST(conv_b AS DOUBLE) / n_b AS p_b,
               CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS p_pool
        FROM s
    )
    SELECT n_a, conv_a, n_b, conv_b,
           round(p_a, 6) AS rate_a, round(p_b, 6) AS rate_b,
           round((p_a - p_b)
                 / sqrt(p_pool * (1.0 - p_pool) * (1.0 / n_a + 1.0 / n_b)), 4) AS z_score,
           abs(round((p_a - p_b)
                 / sqrt(p_pool * (1.0 - p_pool) * (1.0 / n_a + 1.0 / n_b)), 4)) > 1.96 AS significant
    FROM z
    """,
    survey="A-std extended (A/B analysis: hash-bucketed assignment, two-proportion z-test — deterministic experimentation readout)",
)
def x46_ab_test_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation readout at pipeline scale: users hash into
    variants (md5-derived — the same assignment on any engine, the
    production property that lets every system agree who saw what),
    conversion = an above-par purchase share (scale-free, so neither variant saturates at any SF), and the two-proportion pooled
    z-test says whether the difference is noise.  One user-level
    aggregate (the only full-data pass) then scalar arithmetic; the
    z-score rounds to 4 dp with mirrored op order, and the 1.96 gate
    sits far from any rounding boundary on real data."""
    ev = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    u = ev.groupBy("user_id").agg(
        F.when(
            5
            * F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            > F.count("*"),
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).select((h % 2).alias("variant"), "converted")
    s = u.agg(
        F.count(F.when(F.col("variant") == 0, 1)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.count(F.when(F.col("variant") == 1, 1)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    p_pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    zexpr = F.round(
        (p_a - p_b)
        / F.sqrt(
            p_pool
            * (F.lit(1.0) - p_pool)
            * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
        ),
        4,
    )
    return s.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        zexpr.alias("z_score"),
        (F.abs(zexpr) > 1.96).alias("significant"),
    )


# ------------------------------ a34: Benford first-digit audit


@register(
    "a34_benford_audit",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders WHERE o_totalprice >= 1
    ),
    c AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
    ),
    t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c)
    SELECT c.digit, c.n,
           round(c.n / t.total, 6) AS observed_freq,
           round(log10(1.0 + 1.0 / c.digit), 6) AS benford_freq,
           round(abs(c.n / t.total - log10(1.0 + 1.0 / c.digit)), 6) AS abs_dev
    FROM c, t
    """,
    survey="A-std extended (Benford first-digit audit: observed vs log10(1+1/d) — the synthetic-data / fraud smoke alarm)",
)
def a34_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of the price column: leading-digit frequencies
    against log10(1 + 1/d) — naturally-generated multiplicative
    quantities follow it, fabricated or truncated feeds don't, which
    makes the deviation column a one-pass smoke alarm for corrupted or
    synthetic upstream data (TPC-H's uniform prices deviate, visibly and
    deterministically — the audit REPORTS, thresholds are policy).  One
    hash aggregate on the leading digit; all ratios round at 6 dp with
    mirrored arithmetic."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count("*").cast("bigint").alias("n"))
    t = c.agg(F.sum("n").cast("double").alias("total"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("total"), 6).alias("observed_freq"),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_freq"),
        F.round(
            F.abs(
                F.col("n") / F.col("total")
                - F.log10(1.0 + 1.0 / F.col("digit"))
            ),
            6,
        ).alias("abs_dev"),
    )


# --------------------- x49: referential-chain integrity audit


@register(
    "x49_fk_chain_audit",
    oracle="""
    SELECT 'lineitem->orders' AS hop,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders->customer' AS hop,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT) AS n_orphans
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'customer->nation' AS hop,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT) AS n_orphans
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
    survey="A9,J-std extended (referential-chain audit: per-hop orphan counts down the fact-to-dim spine)",
)
def x49_fk_chain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity down the whole star spine in one report:
    lineitem→orders→customer→nation, per-hop row and orphan counts —
    the join-health check run BEFORE a pipeline quietly drops orphans in
    its inner joins (x15 audits one edge; broken upstream loads usually
    break a chain).  Each hop is a broadcast/left join with a null-probe
    count; the dims are broadcast-sized, the fact side never shuffles."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")

    def hop(fact, dim, fk, pk, name):
        return (
            fact.join(dim, fact[fk] == dim[pk], "left")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.count(F.when(dim[pk].isNull(), 1))
                .cast("bigint")
                .alias("n_orphans"),
            )
            .select(F.lit(name).alias("hop"), "n_rows", "n_orphans")
        )

    return (
        hop(li, o.select("o_orderkey"), "l_orderkey", "o_orderkey", "lineitem->orders")
        .unionByName(
            hop(o, c.select("c_custkey"), "o_custkey", "c_custkey", "orders->customer")
        )
        .unionByName(
            hop(c, n, "c_nationkey", "n_nationkey", "customer->nation")
        )
    )


# ------------------------------------------------ x50: l-diversity audit


@register(
    "x50_l_diversity_audit",
    oracle="""
    WITH q AS (
        SELECT c_nationkey, c_mktsegment,
               count(*) AS grp,
               count(DISTINCT o_orderpriority) AS l_div
        FROM customer
        JOIN orders ON o_custkey = c_custkey
        GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(count(CASE WHEN l_div < 3 THEN 1 END) AS BIGINT) AS n_homogeneous,
           CAST(sum(CASE WHEN l_div < 3 THEN grp ELSE 0 END) AS BIGINT) AS n_exposed_rows,
           CAST(min(l_div) AS BIGINT) AS l_diversity
    FROM q
    """,
    survey="NS-privacy extended (l-diversity audit: sensitive-value diversity per quasi-identifier class — the gate k-anonymity alone misses)",
)
def x50_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The privacy gate x34's k-anonymity misses: a class can hold k≥5
    rows yet leak the sensitive attribute anyway if every member SHARES
    it (homogeneity attack).  l-diversity = min distinct sensitive
    values (order priority, standing in for any sensitive label) per
    quasi-identifier class (nation, segment); classes below l=3 are
    homogeneous enough that membership alone discloses the attribute.
    Plan: fact-to-dim join (customer side broadcast at scale — orders is
    the big side), one aggregate with a distinct-count per class, O(classes)
    output at any row count — the same release-gate shape as x34, run
    together with it before publishing."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    q = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").alias("grp"),
            F.countDistinct("o_orderpriority").alias("l_div"),
        )
    )
    return q.agg(
        F.count("*").alias("n_classes"),
        F.count(F.when(F.col("l_div") < 3, 1)).alias("n_homogeneous"),
        F.sum(F.when(F.col("l_div") < 3, F.col("grp")).otherwise(0))
        .cast("bigint")
        .alias("n_exposed_rows"),
        F.min("l_div").cast("bigint").alias("l_diversity"),
    )


# --------------- pr7: modularity of the near-dup partition


@register(
    "pr7_partition_modularity",
    oracle=f"""
    WITH RECURSIVE
    {_BANDS_CTE},
    cand AS ({_CAND_SQL}),
    verified AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN g ga ON ga.doc_id = c.id_a
        JOIN g gb ON gb.doc_id = c.id_b
        WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                  / len(list_distinct(ga.grams || gb.grams)) >= 0.5
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM verified
        UNION
        SELECT id_b AS a, id_a AS b FROM verified
    ),
    reach(id, r) AS (
        SELECT a, a FROM sym
        UNION
        SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id
    ),
    labels AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
    deg AS (SELECT a AS id, count(*) AS d FROM sym GROUP BY a),
    dc AS (
        SELECT l.component, sum(d) AS d_c
        FROM deg JOIN labels l USING (id) GROUP BY l.component
    ),
    m AS (SELECT count(*) AS m FROM verified)
    SELECT CAST(count(*) AS BIGINT) AS n_communities,
           CAST(max(m.m) AS BIGINT) AS n_edges,
           round(CAST(4 * m.m * m.m - sum(d_c * d_c) AS DOUBLE)
                 / (4 * m.m * m.m), 6) AS modularity
    FROM dc CROSS JOIN m GROUP BY m.m
    """,
    survey="NS-dedup extended (partition quality: Newman modularity of the near-dup components, exact-integer arithmetic)",
)
def pr7_partition_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How clustered is the near-dup graph, really?  Newman modularity of
    the connected-component partition: Q = Σ_c [m_c/m − (d_c/2m)²].  For
    a CC partition every edge is intra-community (Σ m_c = m), so
    Q = (4m² − Σ d_c²)/(4m²) — computed in EXACT INTEGERS (one degree
    aggregate, one per-component sum, one scalar) and only converted to
    double for the final ratio, so the oracle matches bit-for-bit with no
    float-summation-order caveat.  Q near 1 = many small tight clusters
    (healthy dedup graph); Q near 0 = one giant hairball (an LSH banding
    bug or a boilerplate epidemic — d22's S-curve audit tells you which).
    Plan: the edges are operators/dedup.verified_pairs, checkpointed;
    the partition is operators/graph.connected_components over them; the
    modularity itself adds two hash aggregates and a broadcast scalar."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    # round 10: referenced by CC (twice), sym (twice) and the edge count —
    # checkpointing computes the LSH verify pipeline once instead of ~5×
    # and keeps the plan leaf-sized (pr5 already used this idiom).
    verified = DD.verified_pairs(docs).transform(ckpt)
    labels = connected_components(verified, "id_a", "id_b")
    sym = verified.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nbr")
    ).unionByName(
        verified.select(F.col("id_b").alias("id"), F.col("id_a").alias("nbr"))
    )
    deg = sym.groupBy("id").agg(F.count("*").alias("d"))
    # deg is NODE-scaled with a scan-ratio static estimate — pin
    # shuffle_hash (round 9, the t14 lesson); labels side is already
    # estimate-safe (localCheckpoint-ed by the CC operator).
    dc = (
        deg.hint("shuffle_hash").join(labels, "id")
        .groupBy("component")
        .agg(F.sum("d").alias("d_c"))
    )
    m = verified.agg(F.count("*").alias("m"))
    return (
        dc.crossJoin(F.broadcast(m))
        .groupBy("m")
        .agg(
            F.count("*").cast("bigint").alias("n_communities"),
            F.sum(F.col("d_c") * F.col("d_c")).alias("s_d2"),
        )
        .select(
            "n_communities",
            F.col("m").cast("bigint").alias("n_edges"),
            F.round(
                (4 * F.col("m") * F.col("m") - F.col("s_d2")).cast("double")
                / (4 * F.col("m") * F.col("m")),
                6,
            ).alias("modularity"),
        )
    )


# --------------- x51: DSIR-style importance resampling


@register(
    "x51_dsir_importance_resample",
    oracle="""
    WITH n AS (
        SELECT doc_id, lang,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ),
    b AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5('ds:' || t.t), 1, 8))::BIGINT % 4096 AS f
        FROM n, LATERAL (SELECT unnest(toks) AS t) t
    ),
    tgt AS (SELECT f, count(*) AS c FROM b WHERE lang = 'en' GROUP BY f),
    raw AS (SELECT f, count(*) AS c FROM b GROUP BY f),
    tot AS (
        SELECT (SELECT sum(c) FROM tgt) AS nt, (SELECT sum(c) FROM raw) AS nr
    ),
    lr AS (
        SELECT raw.f,
               CAST(round(ln(((coalesce(tgt.c, 0) + 1.0) / (tot.nt + 4096))
                            / ((raw.c + 1.0) / (tot.nr + 4096))) * 1e6) AS BIGINT) AS lr_u
        FROM raw LEFT JOIN tgt USING (f) CROSS JOIN tot
    ),
    dw AS (
        SELECT b.doc_id,
               CAST(count(*) AS BIGINT) AS n_feat,
               CAST(sum(lr.lr_u) AS BIGINT) AS logw_u
        FROM b JOIN lr USING (f) GROUP BY b.doc_id
    ),
    keyed AS (
        SELECT doc_id, n_feat, logw_u,
               logw_u + CAST(round(-ln(-ln(
                   ((('0x' || substr(md5('gu:' || doc_id::VARCHAR), 1, 8))::BIGINT
                     % 1000000) + 0.5) / 1000000.0)) * 1e6) AS BIGINT) AS key_u
        FROM dw
    )
    SELECT doc_id, n_feat, logw_u,
           CAST(row_number() OVER (ORDER BY key_u DESC, doc_id ASC) AS INTEGER) AS rank
    FROM keyed QUALIFY rank <= 50
    """,
    survey="NS-text/x extended (DSIR-lite data selection: hashed-ngram importance weights + deterministic Gumbel top-k resampling)",
)
def x51_dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023),
    engine-shaped: estimate target (lang='en') and raw unigram
    distributions over 4096 HASHED features, score every document by the
    summed log-ratio of its features, and draw the 50-doc selection with
    Gumbel-top-k (noise derived from md5(doc_id), so the 'random' draw is
    deterministic and engine-independent).  Log-ratios quantize to
    integer micro-units BEFORE the per-doc sum — integer addition is
    order-independent, so the driver hash matches bit-for-bit (the
    v9/pr1/pr7 discipline).

    100 TB shape: both distributions are 4096-row aggregates; the
    log-ratio table broadcasts; scoring is one exploded-token broadcast
    join + one groupBy(doc_id); selection is TakeOrderedAndProject
    (distributed top-k), with the rank window running over only the 50
    survivors — the corpus never sees a global sort."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    toks = F.split(norm, " ")
    b = d.select(
        "doc_id", "lang", F.explode(toks).alias("t")
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("ds:"), F.col("t"))), 1, 8), 16, 10)
            .cast("bigint")
            % 4096
        ).alias("f"),
    )
    # Round 10 restructure: target and raw histograms ride ONE aggregate
    # over the hashed-feature stream (a conditional count replaces the
    # filtered second pass + left join — every f with no 'en' rows counts
    # 0, exactly what coalesce(ct, 0) produced), and the ≤4096-row result
    # is checkpointed: the old shape re-evaluated the corpus-wide
    # explode+md5 stream once per reference (tgt×2, raw×2 = 4 passes);
    # now it runs once here + once for the scoring probe below.
    g = (
        b.groupBy("f")
        .agg(
            F.count("*").alias("cr"),
            F.count(F.when(F.col("lang") == "en", F.lit(1))).alias("ct"),
        )
        .transform(ckpt)
    )
    tot = g.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    lr = (
        g.crossJoin(F.broadcast(tot))
        .select(
            "f",
            F.round(
                F.log(
                    ((F.col("ct") + 1.0) / (F.col("nt") + 4096))
                    / ((F.col("cr") + 1.0) / (F.col("nr") + 4096))
                )
                * 1e6
            )
            .cast("bigint")
            .alias("lr_u"),
        )
    )
    dw = (
        b.join(F.broadcast(lr), "f")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_feat"),
            F.sum("lr_u").cast("bigint").alias("logw_u"),
        )
    )
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("gu:"), F.col("doc_id").cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % 1000000
        )
        + 0.5
    ) / 1000000.0
    keyed = dw.select(
        "doc_id",
        "n_feat",
        "logw_u",
        (
            F.col("logw_u")
            + F.round(-F.log(-F.log(u)) * 1e6).cast("bigint")
        ).alias("key_u"),
    )
    selected = keyed.orderBy(F.col("key_u").desc(), F.col("doc_id").asc()).limit(50)
    from pyspark.sql import Window as W

    rank_w = W.orderBy(F.col("key_u").desc(), F.col("doc_id").asc())
    return (
        selected.withColumn("rank", F.row_number().over(rank_w).cast("int"))
        .select("doc_id", "n_feat", "logw_u", "rank")
    )


# --------------- x52: curriculum phases from quality deciles


@register(
    "x52_curriculum_phases",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks,
               text
        FROM documents
    ),
    q AS (
        SELECT doc_id,
               round(least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4
                 + (1.0 - CASE WHEN length(text) = 0 THEN 0.0
                               ELSE CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / length(text) END) * 0.3
                 + least((CASE WHEN len(toks) = 0 THEN 0.0
                               ELSE CAST(len(list_filter(toks, x -> list_contains(['the','a','an','of','and','or','to','in','is','it'], x))) AS DOUBLE) / len(toks) END) * 5.0, 1.0) * 0.3, 6)
               AS qs
        FROM t
    ),
    d AS (
        SELECT doc_id, qs,
               CAST(ntile(10) OVER (ORDER BY qs ASC, doc_id ASC) AS INTEGER) AS decile
        FROM q
    )
    SELECT doc_id, qs AS quality_score, decile,
           CASE WHEN decile >= 8 THEN 'phase1_clean'
                WHEN decile >= 4 THEN 'phase2_mixed'
                ELSE 'phase3_noisy' END AS phase
    FROM d
    """,
    survey="NS-text/x extended (curriculum assignment: exact global quality deciles without a global sort -> training phases)",
)
def x52_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction at corpus scale: every document gets its
    EXACT global quality decile (t2's score, x44's distributed-ntile
    machinery — value-derived range buckets + tiny offsets aggregate, no
    single-reducer sort) and a training phase: the cleanest 30% feed
    phase 1, the mid deciles phase 2, the noisiest tail phase 3 — the
    classic easy-to-hard curriculum ordering computed as metadata, so
    the trainer just filters by phase.  The score is rounded to 6 dp
    BEFORE ranking on both engines, pinning the order key bit-for-bit."""
    from ..operators.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    q = d.select(
        "doc_id", F.round(quality_score("text"), 6).alias("qs")
    ).transform(ckpt)  # round 10: referenced by the row-id
    # offsets, the probe AND the count — the multi-regex quality score
    # runs once instead of 3×.  2 cols × |docs| rows.
    with_ids = global_row_ids(
        q,
        F.floor(F.col("qs") * 20).cast("int"),
        ["qs", "doc_id"],
    )
    n = q.agg(F.count("*").alias("_n"))
    with_dec = (
        with_ids.crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("qs").alias("quality_score"),
            (ntile_from_rank("row_id", "_n") + 1).cast("int").alias("decile"),
        )
    )
    return with_dec.select(
        "doc_id",
        "quality_score",
        "decile",
        F.when(F.col("decile") >= 8, "phase1_clean")
        .when(F.col("decile") >= 4, "phase2_mixed")
        .otherwise("phase3_noisy")
        .alias("phase"),
    )


# --------------- a35: exact two-sample KS drift, distributed ECDF


@register(
    "a35_ks_drift",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks, text
        FROM documents
    ),
    q AS (
        SELECT CASE WHEN lang = 'en' THEN 'a' ELSE 'b' END AS grp,
               round(least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4
                 + (1.0 - CASE WHEN length(text) = 0 THEN 0.0
                               ELSE CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / length(text) END) * 0.3
                 + least((CASE WHEN len(toks) = 0 THEN 0.0
                               ELSE CAST(len(list_filter(toks, x -> list_contains(['the','a','an','of','and','or','to','in','is','it'], x))) AS DOUBLE) / len(toks) END) * 5.0, 1.0) * 0.3, 6) AS v
        FROM t
    ),
    vc AS (
        SELECT v,
               count(CASE WHEN grp = 'a' THEN 1 END) AS ca,
               count(CASE WHEN grp = 'b' THEN 1 END) AS cb
        FROM q GROUP BY v
    ),
    c AS (
        SELECT v, sum(ca) OVER (ORDER BY v) AS cuma, sum(cb) OVER (ORDER BY v) AS cumb FROM vc
    ),
    n AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM vc)
    SELECT CAST(n.na AS BIGINT) AS n_a, CAST(n.nb AS BIGINT) AS n_b,
           round(max(abs(CAST(cuma AS DOUBLE) / n.na - CAST(cumb AS DOUBLE) / n.nb)), 6) AS ks_d,
           round(1.358 * sqrt((n.na + n.nb) / (CAST(n.na AS DOUBLE) * n.nb)), 6) AS ks_crit,
           max(abs(CAST(cuma AS DOUBLE) / n.na - CAST(cumb AS DOUBLE) / n.nb))
             > 1.358 * sqrt((n.na + n.nb) / (CAST(n.na AS DOUBLE) * n.nb)) AS drifted
    FROM c CROSS JOIN n GROUP BY n.na, n.nb
    """,
    survey="A-std extended, NS-monitoring (exact two-sample Kolmogorov-Smirnov drift test via a DISTRIBUTED ECDF — no global sort)",
)
def a35_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS test between the English slice's quality-score
    distribution and everyone else's — the drift gate richer than PSI
    (x-family): D = max |ECDF_a − ECDF_b|, compared against the α=0.05
    critical value 1.358·√((n_a+n_b)/(n_a·n_b)).

    The interesting part is the DISTRIBUTED ECDF: the naive cumulative
    sum is a window over a single global sort.  Here the per-distinct-
    value counts (one hash aggregate) get their running totals the x39
    way — value-derived range buckets, a tiny per-bucket offsets relation
    (|buckets| rows, windowed where it fits in one task), broadcast back,
    plus an intra-bucket running sum whose window partitions by bucket.
    Ties are handled exactly (counts aggregate per distinct value BEFORE
    the cumsum, so both ECDFs jump together at a shared value).  At
    100 TB nothing but the bucket list ever sees a single-partition
    window."""
    from ..operators.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    q = d.select(
        F.when(F.col("lang") == "en", "a").otherwise("b").alias("grp"),
        F.round(quality_score("text"), 6).alias("v"),
    )
    vc = q.groupBy("v").agg(
        F.count(F.when(F.col("grp") == "a", 1)).alias("ca"),
        F.count(F.when(F.col("grp") == "b", 1)).alias("cb"),
    )
    from ..operators.prefix import bucketed_running_sums

    c = bucketed_running_sums(
        vc,
        F.floor(F.col("v") * 20).cast("int"),
        ["v"],
        {"ca": "cuma", "cb": "cumb"},
    ).select("v", "cuma", "cumb")
    n = vc.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    crit = 1.358 * F.sqrt(
        (F.col("na") + F.col("nb")) / (F.col("na").cast("double") * F.col("nb"))
    )
    dstat = F.max(
        F.abs(
            F.col("cuma").cast("double") / F.col("na")
            - F.col("cumb").cast("double") / F.col("nb")
        )
    )
    return (
        c.crossJoin(F.broadcast(n))
        .groupBy("na", "nb")
        .agg(
            dstat.alias("_d"),
            F.max(crit).alias("_crit"),
        )
        .select(
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            F.round(F.col("_d"), 6).alias("ks_d"),
            F.round(F.col("_crit"), 6).alias("ks_crit"),
            (F.col("_d") > F.col("_crit")).alias("drifted"),
        )
    )


# --------------- x53: contrastive negative sampling


@register(
    "x53_negative_samples",
    oracle=f"""
    WITH {_BANDS_CTE},
    cand AS ({_CAND_SQL}),
    nd AS (
        SELECT id_a, id_b FROM cand
        UNION ALL
        SELECT id_b AS id_a, id_a AS id_b FROM cand
    ),
    r AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY doc_id) - 1 AS rk
        FROM documents
    ),
    cnt AS (SELECT count(*) AS n_docs FROM documents),
    trials AS (
        SELECT a.doc_id AS anchor_id, a.rk AS ark, t.t,
               ('0x' || substr(md5(concat('neg:', a.doc_id::VARCHAR, ':', t.t::VARCHAR)), 1, 8))::BIGINT % cnt.n_docs AS cand_rk
        FROM r a CROSS JOIN cnt CROSS JOIN (SELECT unnest(range(0, 8)) AS t) t
    ),
    joined AS (
        SELECT tr.anchor_id, tr.t, c.doc_id AS neg_id
        FROM trials tr JOIN r c ON c.rk = tr.cand_rk
        WHERE tr.cand_rk <> tr.ark
    ),
    safe AS (
        SELECT j.anchor_id, j.t, j.neg_id
        FROM joined j
        LEFT JOIN nd ON nd.id_a = j.anchor_id AND nd.id_b = j.neg_id
        WHERE nd.id_a IS NULL
    )
    SELECT anchor_id, neg_id,
           CAST(row_number() OVER (PARTITION BY anchor_id ORDER BY t) AS INTEGER) AS k_idx
    FROM safe QUALIFY k_idx <= 4
    """,
    survey="NS-sim/x extended (contrastive negative sampling: deterministic hash probes by global rank, near-dup exclusion, linear in corpus size)",
)
def x53_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training pair construction at corpus scale: for every
    anchor document, up to 4 negatives drawn by DETERMINISTIC hash probes
    (md5(anchor, trial) mod n → a global rank, resolved by join), with
    LSH near-dup candidates excluded so a 'negative' is never secretly a
    positive — the false-negative poison filter every contrastive
    pipeline needs.

    Scale shape: no per-group sampling windows and no quadratic
    candidate set — 8 trials per anchor is a LINEAR relation joined on
    the rank key (one shuffle), the near-dup exclusion is an anti-join
    against the banded candidate pairs, and ranks come from the
    distributed row-id machinery at 100 TB (row_number here rides the
    doc_id order).  Every draw is reproducible on any engine and any
    partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    sig = DD.minhash_signature(
        docs, "doc_id", "text", parallelism=spark.sparkContext.defaultParallelism
    )
    cand = DD.candidate_pairs(DD.lsh_buckets(sig, "doc_id"), "doc_id")
    nd = cand.select("id_a", "id_b").unionByName(
        cand.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    r = global_row_ids(
        docs.select("doc_id"),
        F.floor(F.col("doc_id") / 50).cast("int"),
        ["doc_id"],
        id_name="rk",
    )
    n = docs.agg(F.count("*").alias("n"))
    trials = (
        r.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("anchor_id"),
            F.col("rk").alias("ark"),
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("t"),
            F.col("n"),
        )
        .select(
            "anchor_id",
            "ark",
            "t",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("neg:"),
                                F.col("anchor_id").cast("string"),
                                F.lit(":"),
                                F.col("t").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.col("n")
            ).alias("cand_rk"),
        )
        .where(F.col("cand_rk") != F.col("ark"))
    )
    # the rank table and the near-dup exclusion set are both
    # CORPUS-scaled with scan-ratio static estimates — pin shuffle_hash
    # so neither rides an auto-broadcast (round 9, the t14 lesson)
    joined = trials.join(
        r.select(
            F.col("rk").alias("cand_rk"), F.col("doc_id").alias("neg_id")
        ).hint("shuffle_hash"),
        "cand_rk",
    )
    ndh = nd.hint("shuffle_hash")
    safe = joined.join(
        ndh,
        (joined["anchor_id"] == ndh["id_a"]) & (joined["neg_id"] == ndh["id_b"]),
        "left_anti",
    )
    wk = Window.partitionBy("anchor_id").orderBy("t")
    return (
        safe.select("anchor_id", "neg_id", "t")
        .withColumn("k_idx", F.row_number().over(wk).cast("int"))
        .where(F.col("k_idx") <= 4)
        .drop("t")
    )


# --------------- x54: column profiler (data-quality manifest)


@register(
    "x54_column_profiler",
    oracle="""
    SELECT 'o_custkey' AS col,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(o_custkey) AS BIGINT) AS n_null,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(min(o_custkey) AS VARCHAR) AS min_val,
           CAST(max(o_custkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderdate) AS BIGINT),
           CAST(count(DISTINCT o_orderdate) AS BIGINT),
           strftime(min(o_orderdate), '%Y-%m-%d'), strftime(max(o_orderdate), '%Y-%m-%d')
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           CAST(round(min(o_totalprice), 6) AS VARCHAR), CAST(round(max(o_totalprice), 6) AS VARCHAR)
    FROM orders
    """,
    survey="A-std extended, NS-monitoring (single-pass column profiler: per-column completeness/cardinality/extrema manifest, the data-quality handshake)",
)
def x54_column_profiler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-quality handshake run before a table is promoted (the
    Deequ-profile shape): per column — row count, null count, exact
    distinct count, min and max (stringified so one manifest holds every
    type).  Spark computes ALL columns' statistics in ONE table pass
    (one aggregate projecting count/count(col)/count_distinct/min/max
    per column), then unpivots the single result row with `stack` — at
    100 TB that is one scan and one 1-row shuffle, not one pass per
    column.  The oracle is the per-column UNION ALL the single-pass plan
    replaces.  (Columns with data-dependent float repr — o_totalprice —
    round before stringifying on both sides.)  Implementation:
    ``operators/profile.column_profile``, the type-generic form also
    exposed as the ``profile`` CLI verb for any table."""
    from ..operators.profile import column_profile

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        # the registry binds o_orderdate as NTZ timestamp (footer-
        # authoritative); profile it as the calendar date it is.
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_orderstatus",
        "o_totalprice",
    )
    return column_profile(o)


# --------------- x55: training shard manifest


@register(
    "x55_shard_manifest",
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
    survey="NS-layout extended (training shard manifest: token-budget shard assignment from distributed cumulative offsets — no global sort)",
)
def x55_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest a trainer actually loads: documents packed into
    ~20k-token shards IN doc_id ORDER, each doc assigned to the shard its
    cumulative start offset falls in, with per-shard doc ranges so a data
    loader can seek straight to its shard.  The cumulative token offset —
    the serial-looking part — is the same distributed prefix-sum the
    engine uses everywhere (x39/a35): value-derived buckets, a tiny
    per-bucket offsets relation, intra-bucket running sums.  At 100 TB no
    single-partition window ever sees the document stream, and the
    manifest is O(shards) rows.  Exact integer arithmetic end-to-end."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(
            F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
        ).alias("n_tok"),
    )
    from ..operators.prefix import bucketed_running_sums

    s = bucketed_running_sums(
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
    return s.groupBy("shard_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


# --------------- x56: CDC changelog apply


@register(
    "x56_cdc_apply",
    oracle="""
    WITH log AS (
        SELECT user_id AS key,
               event_id AS seq,
               CASE WHEN event_type = 'signup' THEN 'I'
                    WHEN event_type = 'error' THEN 'D'
                    ELSE 'U' END AS op,
               CAST(value AS DECIMAL(18,2)) AS payload
        FROM events
    ),
    last AS (
        SELECT key, seq, op, payload,
               row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
        FROM log
    ),
    ops AS (
        SELECT key,
               count(*) AS n_ops,
               count(CASE WHEN op = 'D' THEN 1 END) AS n_deletes
        FROM log GROUP BY key
    )
    SELECT l.key AS user_id,
           CAST(l.payload AS DOUBLE) AS current_value,
           CAST(l.seq AS BIGINT) AS version,
           CAST(o.n_ops AS BIGINT) AS n_ops,
           CAST(o.n_deletes AS BIGINT) AS n_deletes
    FROM last l JOIN ops o USING (key)
    WHERE l.rn = 1 AND l.op <> 'D'
    """,
    survey="S13/x extended (CDC changelog apply: ordered I/U/D stream folded to final table state — the Debezium-consumer shape)",
)
def x56_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold an ordered change-data-capture stream (insert/update/delete,
    one op per sequence number) into final table state — the consumer
    side of a Debezium/binlog feed, and the general form of x4's
    snapshot+delta merge: a key whose LAST op is a delete leaves the
    table; otherwise the last op's payload wins, with op/delete counts
    kept as audit columns.  The events table stands in as the changelog
    (signup→I, error→D, else U; event_id is the total order).

    Scale shape: one shuffle on the key for the arg-max (window rn=1 —
    max_by semantics, no sort of the full log), one for the op counts,
    both partial-aggregated map-side; at 100 TB the changelog is
    processed in one pass regardless of how many ops a key has.  Payload
    comparisons ride exact DECIMAL (the x4 fix's discipline)."""
    from ..functions import dec2

    ev = load_table(spark, sf_dir, "events")
    log = ev.select(
        F.col("user_id").alias("key"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        dec2("value").alias("payload"),
    )
    w = Window.partitionBy("key").orderBy(F.col("seq").desc())
    last = (
        log.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("key", "seq", "op", "payload")
    )
    ops = log.groupBy("key").agg(
        F.count("*").alias("n_ops"),
        F.count(F.when(F.col("op") == "D", 1)).alias("n_deletes"),
    )
    return (
        last.join(ops, "key")
        .where(F.col("op") != "D")
        .select(
            F.col("key").alias("user_id"),
            F.col("payload").cast("double").alias("current_value"),
            F.col("seq").cast("bigint").alias("version"),
            F.col("n_ops").cast("bigint").alias("n_ops"),
            F.col("n_deletes").cast("bigint").alias("n_deletes"),
        )
    )


@register(
    "x57_seeded_epoch_shuffle",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               ('0x' || substr(md5(concat('7:', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT % 8 AS shard,
               ('0x' || substr(md5(concat('101:', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT AS h1,
               ('0x' || substr(md5(concat('102:', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT AS h2
        FROM documents
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h1, doc_id) AS BIGINT)
               AS pos_epoch1,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h2, doc_id) AS BIGINT)
               AS pos_epoch2
    FROM d
    """,
    survey="x-std extended (training data order: seeded deterministic per-epoch shuffle, shard-local ranks)",
)
def x57_seeded_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training order WITHOUT a global sort: every
    document hashes to a shard (stable across epochs — a reader owns the
    same shard every epoch) and gets a per-epoch position by ranking a
    seeded hash WITHIN its shard.  Changing only the epoch seed re-permutes
    every shard; re-running the same seed reproduces the exact byte order —
    the property a resumable 100 TB training job needs from its data
    loader (the reference has no ordering notion at all; its CSV order is
    whatever the cursor returned — buisness_profile_etl/main.py:710-715).

    Scale shape: one md5-based hash per (doc, epoch) in codegen, windows
    partitioned BY SHARD (positions are shard-local offsets, as consumed
    by per-worker data loaders) — no unpartitioned window, no global sort,
    shuffle volume = one hash partition pass.  Epoch seeds are orthogonal
    md5 namespaces, so epoch orders decorrelate without any state."""
    d = load_table(spark, sf_dir, "documents")
    shard = (DD.h32("doc_id", 7) % 8).alias("shard")
    staged = d.select(
        "doc_id",
        shard,
        DD.h32("doc_id", 101).alias("h1"),
        DD.h32("doc_id", 102).alias("h2"),
    )
    w1 = Window.partitionBy("shard").orderBy(F.col("h1").asc(), F.col("doc_id").asc())
    w2 = Window.partitionBy("shard").orderBy(F.col("h2").asc(), F.col("doc_id").asc())
    return staged.select(
        "doc_id",
        "shard",
        F.row_number().over(w1).cast("bigint").alias("pos_epoch1"),
        F.row_number().over(w2).cast("bigint").alias("pos_epoch2"),
    )
