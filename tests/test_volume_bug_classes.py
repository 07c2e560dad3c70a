"""Pin the two volume-dependent bug classes round 5's 10x sweep caught,
with plain unit fixtures that need no scale-probe dir (VERDICT r5 #2).

Class (a) — cross-engine interpolated-quantile boundary ties: two engines
interpolate the same quantile to doubles one ulp apart, so a strict
comparison against the UN-rounded threshold flips every row tied exactly
at the boundary.  The fix (commit 75f2abb) clips at the QUOTED 6-dp
threshold.  The fixture here places the interpolation points a hair above
a 6-dp value and piles rows exactly at that value: with the fix the piled
rows are NOT clipped (threshold == quoted value); reverted, the un-rounded
threshold sits above the pile and every piled row flips.

Class (b) — silent zero-input file streams: a pathGlobFilter of
'{table}.parquet' matches only FILES of that name, so a Spark-written
DIRECTORY-layout table streamed zero input (all 18 st reds at 10x).
stream_source_path resolves both layouts; here every file-stream site runs
against a directory-layout table and must see rows.
"""

from __future__ import annotations

import importlib.util
import math
import os
import shutil

import numpy as np
import plan_audits
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_etl_scripts_showcase__spark.queries import load_all
from data_etl_scripts_showcase__spark.sources import load_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _check_correctness_module():
    spec = importlib.util.spec_from_file_location(
        "cc_for_tests", os.path.join(REPO, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tie_values(base: float) -> list[float]:
    """250 doubles whose p05/p95 interpolation points sit a few ulps
    ABOVE (resp. BELOW) the 6-dp values 'base + 0.145' / 'base + 0.8',
    with 12-row piles exactly at those 6-dp values.

    n=250: p05 position = 0.05*249 = 12.45 (between indices 12 and 13),
    p95 position = 236.55 (between 236 and 237).  Sorted layout:
      idx 0..11   pile at m_lo            (12 rows exactly at the quote)
      idx 12, 13  a_lo < b_lo, both in (m_lo, m_lo + 5e-7)  -> p05 lands
                  strictly above m_lo but rounds to it
      idx 14..235 spread strictly between
      idx 236,237 a_hi < b_hi, both in (m_hi - 5e-7, m_hi)  -> p95 lands
                  strictly below m_hi but rounds to it
      idx 238..249 pile at m_hi           (12 rows exactly at the quote)
    """
    m_lo, m_hi = base + 0.145, base + 0.8
    a_lo = float(np.nextafter(m_lo, np.inf))
    b_lo = float(np.nextafter(a_lo, np.inf))
    b_hi = float(np.nextafter(m_hi, -np.inf))
    a_hi = float(np.nextafter(b_hi, -np.inf))
    middle = [
        base + 0.2 + i * (0.5 / 230.0) for i in range(222)
    ]  # strictly inside (b_lo, a_hi)
    vals = [m_lo] * 12 + [a_lo, b_lo] + middle + [a_hi, b_hi] + [m_hi] * 12
    assert len(vals) == 250 and vals == sorted(vals)
    return vals


@pytest.fixture(scope="module")
def ties_dir(tmp_path_factory) -> str:
    dst = tmp_path_factory.mktemp("sf_quantile_ties")
    for t in TABLES:
        shutil.copy(f"{SRC}/{t}.parquet", str(dst / f"{t}.parquet"))

    # adversarial events: three types, each with boundary-tie piles
    rows = {"event_id": [], "ts": [], "user_id": [], "event_type": [],
            "value": [], "props": []}
    eid = 0
    for k, et in enumerate(["click", "view", "purchase"]):
        for v in _tie_values(float(k)):
            rows["event_id"].append(eid)
            rows["ts"].append(1_700_000_000_000_000 + eid * 60_000_000)
            rows["user_id"].append(eid % 17)
            rows["event_type"].append(et)
            rows["value"].append(v)
            rows["props"].append("{}")
            eid += 1
    src_schema = pq.ParquetFile(f"{SRC}/events.parquet").schema_arrow
    tbl = pa.table(
        {
            "event_id": pa.array(rows["event_id"], pa.int64()),
            "ts": pa.array(rows["ts"], src_schema.field("ts").type),
            "user_id": pa.array(rows["user_id"], pa.int64()),
            "event_type": pa.array(rows["event_type"], pa.string()),
            "value": pa.array(rows["value"], pa.float64()),
            "props": pa.array(rows["props"], pa.string()),
        }
    )
    pq.write_table(tbl, str(dst / "events.parquet"))

    # tie-heavy orders: 13 distinct prices over 1497 rows, n % 10 != 0,
    # so every decile boundary and the median land inside tie runs
    o = pq.read_table(f"{SRC}/orders.parquet").slice(0, 1497).to_pydict()
    o["o_totalprice"] = [
        float((k % 13) * 1000 + 500) for k in o["o_orderkey"]
    ]
    pq.write_table(
        pa.table(o, schema=pq.read_table(f"{SRC}/orders.parquet").slice(0, 0).schema),
        str(dst / "orders.parquet"),
    )
    return str(dst)


class TestQuantileBoundaryTies:
    def test_fixture_is_adversarial(self, spark, ties_dir):
        """Precondition: Spark's UN-rounded p05/p95 really do differ from
        their 6-dp rounding, in the directions that flip tied rows — else
        the fixture tests nothing."""
        ev = load_table(spark, ties_dir, "events")
        raw = ev.groupBy("event_type").agg(
            F.percentile("value", F.lit(0.05)).alias("p05"),
            F.percentile("value", F.lit(0.95)).alias("p95"),
        )
        for r in raw.collect():
            assert r.p05 != round(r.p05, 6) and r.p05 > round(r.p05, 6), r
            assert r.p95 != round(r.p95, 6) and r.p95 < round(r.p95, 6), r

    def test_x10_clips_at_quoted_thresholds(self, spark, ties_dir):
        """The piled rows sit exactly AT the quoted thresholds, so with
        the 6-dp clip contract nothing is outside them; comparing against
        the un-rounded interpolation (the reverted behavior) counts all
        12 piled rows per side per type."""
        out = load_all()["x10_winsorized_stats"].fn(spark, ties_dir).collect()
        assert len(out) == 3
        for r in out:
            assert r.n_clipped_low == 0, r
            assert r.n_clipped_high == 0, r
            assert math.isclose(r.p05 % 1, 0.145, rel_tol=0, abs_tol=1e-12)
            assert math.isclose(r.p95 % 1, 0.8, rel_tol=0, abs_tol=1e-12)

    @pytest.mark.parametrize(
        "name",
        [
            "x10_winsorized_stats",
            "a14_quantiles",
            "a21_approx_quantile_check",
            "a33_exact_median_bisect",
            "x44_distributed_deciles",
        ],
    )
    def test_matches_oracle_on_boundary_ties(self, spark, ties_dir, name):
        """Every query that computes or compares against an interpolated
        (or rank-selected) quantile must value-match its DuckDB oracle on
        the tie fixture — the cross-engine agreement that broke at 10x."""
        cc = _check_correctness_module()
        q = load_all()[name]
        sdf = q.fn(spark, ties_dir).toPandas()
        odf = cc.duck_connection(ties_dir).execute(q.oracle).df()
        errs = cc.compare(name, sdf, odf)
        assert not errs, errs


@pytest.fixture(scope="module")
def dir_layout_dir(tmp_path_factory) -> str:
    """sf0.001 with events+documents stored as Spark-style DIRECTORIES of
    part files — the layout that silently streamed zero input before
    stream_source_path (commit 75f2abb)."""
    dst = tmp_path_factory.mktemp("sf_dir_layout")
    for t in TABLES:
        if t in ("events", "documents"):
            part_dir = dst / f"{t}.parquet"
            os.makedirs(str(part_dir))
            tbl = pq.read_table(f"{SRC}/{t}.parquet")
            half = tbl.num_rows // 2
            pq.write_table(tbl.slice(0, half), str(part_dir / "part-00000.parquet"))
            pq.write_table(tbl.slice(half), str(part_dir / "part-00001.parquet"))
        else:
            shutil.copy(f"{SRC}/{t}.parquet", str(dst / f"{t}.parquet"))
    return str(dst)


class TestStreamSourcesSeeDirectoryTables:
    """Every file-stream site must read a DIRECTORY-layout table (rows>0).
    Covers the five readStream sites: events_stream (st1 and the whole
    events-based st family) and the four documents-based sites (st18-21).
    Reverting stream_source_path turns each into a silent empty stream."""

    def test_events_stream_sees_rows(self, spark, dir_layout_dir):
        out = load_all()["st1_stream_tumbling_counts"].fn(spark, dir_layout_dir)
        assert out.count() > 0

    @pytest.mark.parametrize(
        "name,check",
        [
            ("st18_streaming_dataset_card", lambda df: df.collect()[0].n_docs > 0),
            ("st19_stream_exact_dedup", lambda df: df.count() > 0),
            ("st20_stream_neardup_gate", lambda df: df.count() > 0),
            ("st21_stream_shard_manifest", lambda df: df.count() > 0),
        ],
    )
    def test_documents_stream_sees_rows(self, spark, dir_layout_dir, name, check):
        out = load_all()[name].fn(spark, dir_layout_dir)
        assert check(out)


@pytest.fixture(scope="module")
def uniform_sources_dir(tmp_path_factory) -> str:
    """Documents with 16 sources x 40 docs each: every source's true
    quota share is EXACTLY 10000/16 = 625 — the integral boundary where
    the pre-r8 double-floor allocation let the last ulp of sum(w)
    (partial-aggregation order, i.e. topology) decide floor(625.0) vs
    floor(624.999...).  Caught live by the cluster10x gate (SCALE.md
    round 8)."""
    dst = tmp_path_factory.mktemp("sf_uniform_sources")
    for t in TABLES:
        shutil.copy(f"{SRC}/{t}.parquet", str(dst / f"{t}.parquet"))
    n_src, per = 16, 40
    doc_ids = list(range(n_src * per))
    tbl = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(["uniform text"] * len(doc_ids), pa.string()),
            "lang": pa.array(["en"] * len(doc_ids), pa.string()),
            "source": pa.array(
                [f"src{d % n_src:02d}" for d in doc_ids], pa.string()
            ),
            "n_chars": pa.array([12] * len(doc_ids), pa.int64()),
        }
    )
    pq.write_table(tbl, str(dst / "documents.parquet"))
    return str(dst)


class TestExactIntegerAllocation:
    """x43's largest-remainder allocation must be bit-identical under any
    partitioning: integer micro-unit weights, integer DIV/MOD — never a
    float floor at an exactly-integral boundary."""

    def test_uniform_sources_get_exactly_equal_quotas(
        self, spark, uniform_sources_dir
    ):
        rows = (
            load_all()["x43_temperature_mixture"]
            .fn(spark, uniform_sources_dir)
            .collect()
        )
        quotas = {r.source: r.quota for r in rows}
        assert len(quotas) == 16
        assert set(quotas.values()) == {625}, quotas
        assert sum(quotas.values()) == 10000

    def test_allocation_stable_across_shuffle_partitioning(
        self, spark, uniform_sources_dir
    ):
        fn = load_all()["x43_temperature_mixture"].fn
        before = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            results = []
            for parts in ("1", "7", "32"):
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                results.append(
                    sorted(
                        (r.source, r.quota)
                        for r in fn(spark, uniform_sources_dir).collect()
                    )
                )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)
        assert results[0] == results[1] == results[2]


class TestBroadcastAuditMatchers:
    """Class (c) — t14-class content broadcasts (round 9) and the sweep
    audit that polices them (plan_audits.content_broadcasts).  Pins the
    flag/whitelist decision logic on synthetic plan text so a whitelist
    regression (ADVICE r9: the old matcher pinned an exact Spark-internal
    mode string) is a unit failure, not a noisy sweep case."""

    def _plan(self, header_mode, subtree_lines):
        header = f"BroadcastExchange {header_mode}, [plan_id=1]"
        return header, "\n".join(subtree_lines)

    def test_flags_content_explode_broadcast(self):
        plan = self._plan(
            "HashedRelationBroadcastMode(List(input[0, bigint, true]),false)",
            ["+- HashAggregate(keys=[bg#12], functions=[count(1)])",
             "   +- Generate explode(tokens#3), ..."],
        )
        assert plan_audits.is_content_broadcast(*plan)

    def test_whitelists_lsh_bucket_selfjoin_by_key_attrs(self):
        # NOT the old literal prefix — a re-worded mode header must still
        # whitelist as long as the 2-key (band, bucket) shape is there.
        plan = self._plan(
            "HashedRelationBroadcastMode(List(input[0, int, false], "
            "input[1, string, false]), isNullAware=false)",
            ["+- Project [band#5, bucket#6, doc_id#7L]",
             "   +- Generate explode(sig#2), ..."],
        )
        assert not plan_audits.is_content_broadcast(*plan)

    def test_whitelists_enrichment_merchant_pivot(self):
        plan = self._plan(
            "HashedRelationBroadcastMode(List(input[0, bigint, true]),false)",
            ["+- HashAggregate(keys=[merchant_id#90L], "
             "functions=[pivotfirst(metric#14, sum(vi)#25L, ...)])",
             "   +- Generate explode(metrics#8), ..."],
        )
        assert not plan_audits.is_content_broadcast(*plan)

    def test_one_key_band_bucket_lookalike_still_flagged(self):
        # A 1-key broadcast whose subtree merely MENTIONS band/bucket
        # attributes is not the adjudicated self-join.
        plan = self._plan(
            "HashedRelationBroadcastMode(List(input[0, int, false]),false)",
            ["+- HashAggregate(keys=[band#5, bucket#6], functions=[collect_list(gram#9)])",
             "   +- Generate explode(shingles#2), ..."],
        )
        assert plan_audits.is_content_broadcast(*plan)


class TestBroadcastAuditLivePlans:
    """The same audit on plans Spark really builds: red on a broadcast
    token-count table, green on a broadcast scalar over the same tokens
    (row-bounded), and green on the two adjudicated shapes — the LSH
    (band, bucket) self-join without candidate_pairs' checkpoint, and the
    e1 shred's merchant pivot.  Each case first shows the plan does hold
    a content-derived broadcast, so a green result is the whitelist or
    the bound clearing it."""

    @staticmethod
    def _frame(spark, sf_dir, shape):
        from data_etl_scripts_showcase__spark.enrichment import enrich, mock_fetch_page
        from data_etl_scripts_showcase__spark.operators import dedup as DD
        from data_etl_scripts_showcase__spark.plans.pipelines import shred_enriched

        docs = load_table(spark, sf_dir, "documents")
        toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        if shape == "token_counts":
            counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
            return toks.join(F.broadcast(counts), "tok")
        if shape == "token_scalar":
            vocab = toks.agg(F.countDistinct("tok").alias("vsz"))
            return toks.crossJoin(F.broadcast(vocab))
        if shape == "lsh_selfjoin":
            bands = DD.lsh_buckets(DD.minhash_signature(docs, "doc_id", "text"), "doc_id")
            a = bands.select("band", "bucket", F.col("doc_id").alias("id_a"))
            b = bands.select("band", "bucket", F.col("doc_id").alias("id_b"))
            return a.join(F.broadcast(b), ["band", "bucket"])
        keys = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("merchant_id")
        ).where("merchant_id < 40")  # a plan no other test caches
        return shred_enriched(enrich(keys, "merchant_id", mock_fetch_page), "merchant_id")

    @pytest.mark.parametrize(
        "shape, flagged",
        [
            ("token_counts", True),
            ("token_scalar", False),
            ("lsh_selfjoin", False),
            ("merchant_pivot", False),
        ],
    )
    def test_audit_on_content_broadcast(self, spark, sf_dir, shape, flagged):
        jplan = self._frame(spark, sf_dir, shape)._jdf.queryExecution().executedPlan()
        assert any(
            plan_audits.CONTENT_RE.search(n.toString().partition("\n")[2])
            for n in plan_audits.walk(jplan)
            if plan_audits._name(n) == "BroadcastExchangeExec"
        )
        assert bool(plan_audits.content_broadcasts(jplan)) == flagged
