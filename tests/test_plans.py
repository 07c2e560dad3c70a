"""Physical-plan regression tests (the 100 TB story, SURVEY.md §4).

Correctness tests prove the answers; these prove the PLANS — broadcast
where a side is small, predicate/projection pushdown into the parquet
scan, map-side partial aggregation, no accidental sort-merge joins or
extra shuffles.  A regression here is a regression at 1000 executors even
when every oracle still passes.
"""

from __future__ import annotations

import contextlib
import io

import plan_audits
import pytest

from data_etl_scripts_showcase__spark.queries import FRAGMENTS, load_all

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = load_all()[name].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class TestJoinStrategies:
    def test_flagship_semi_join_is_broadcast(self, spark):
        """J1: the id-list semi-join must be a broadcast hash join (the small
        filtered id side ships to executors; the big fact side never shuffles)."""
        plan = plan_of(spark, "flagship_active_customer_snapshot")
        assert "BroadcastHashJoin LeftSemi" in plan
        assert "SortMergeJoin" not in plan

    def test_multiway_enrichment_broadcasts_all_dims(self, spark):
        """J2: every dimension of the N-way left enrichment is broadcast —
        the orders fact flows through zero shuffles."""
        plan = plan_of(spark, "j2_multiway_left_enrichment")
        assert plan.count("BroadcastHashJoin LeftOuter") == 3
        assert "SortMergeJoin" not in plan
        assert "Arguments: hashpartitioning" not in plan

    def test_lsh_candidate_join_shuffles_on_bucket(self, spark):
        """LSH candidate generation is an equality self-join — it must hash
        partition on the bucket key, not fall back to a nested-loop join."""
        plan = plan_of(spark, "d3_lsh_candidate_pairs")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


class TestScanPushdown:
    def test_q1_pushes_filter_and_prunes_columns(self, spark):
        """TPC-H Q1: shipdate predicate reaches the parquet scan; the scan
        reads only the 7 referenced columns (not l_orderkey etc.)."""
        plan = plan_of(spark, "q1_pricing_summary")
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
        assert "l_orderkey" not in plan  # column pruning reached the scan

    def test_flagship_prunes_customer_scan(self, spark):
        """Customer scan reads only (c_name, c_acctbal) out of 8 columns and
        ships the acctbal predicate into the reader."""
        plan = plan_of(spark, "flagship_active_customer_snapshot")
        assert "ReadSchema: struct<c_name:string,c_acctbal:double>" in plan
        assert "GreaterThan(c_acctbal,0.0)" in plan


class TestAggregationShape:
    def test_q1_partial_final_aggregation(self, spark):
        """Q1 aggregates map-side (partial_sum) before its single shuffle —
        shuffle volume is O(groups), not O(rows)."""
        plan = plan_of(spark, "q1_pricing_summary")
        assert "partial_sum" in plan
        assert plan.count("Arguments: hashpartitioning") == 1

    def test_exact_dedup_single_shuffle(self, spark):
        """d1: exact dedup is ONE shuffle keyed on the md5 fingerprint."""
        plan = plan_of(spark, "d1_exact_dedup")
        assert plan.count("Arguments: hashpartitioning") == 1

    def test_minhash_signature_single_shuffle(self, spark):
        """d2 (round 11, conscious re-pin): shingle explode + 16 permutation
        mins ride ONE groupBy shuffle with map-side partial mins.  Round
        10's zero-shuffle array-fold form was A/B-measured slower (the
        per-row HOF cost beat the map-side-combined exchange it removed —
        same cliff as the phash/simhash folds), so the r9 shape is back
        and pinned again."""
        plan = plan_of(spark, "d2_minhash_signature")
        assert plan.count("Arguments: hashpartitioning") == 1
        assert "partial_min" in plan


class TestCustomJoinOps:
    def test_interval_join_is_equality_join(self, spark):
        """The banded interval join must compile to a hash equality join —
        the whole point is avoiding the nested-loop plan a raw BETWEEN
        predicate forces."""
        plan = plan_of(spark, "j8_interval_join")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_asof_join_single_shuffle(self, spark):
        """As-of join = union + window: exactly one hash shuffle on the key
        (plus the window sort), never a range-join candidate explosion."""
        plan = plan_of(spark, "j7_asof_join")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


class TestBucketedJoins:
    def test_cobucketed_join_has_no_exchange(self, spark, tmp_path):
        """Bucketed storage must make the recurring fact-to-fact join
        shuffle-free: both scans expose their on-disk hash partitioning, so
        the sort-merge join plan contains ZERO Exchange operators (and with
        sortBy, zero sorts).  This is the 100 TB amortization story —
        the shuffle is paid once at write time, never at read time."""
        import contextlib
        import io

        from data_etl_scripts_showcase__spark.sinks import (
            cobucketed_join,
            write_bucketed,
        )
        from data_etl_scripts_showcase__spark.sources import load_table

        o = load_table(spark, SF, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
        c = load_table(spark, SF, "customer").select(
            "c_custkey", "c_mktsegment"
        ).withColumnRenamed("c_custkey", "o_custkey")
        write_bucketed(o, "b_orders", ["o_custkey"], 8, path=str(tmp_path / "bo"))
        write_bucketed(c, "b_cust", ["o_custkey"], 8, path=str(tmp_path / "bc"))
        try:
            # force the big-big path: no broadcast allowed
            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = cobucketed_join(spark, "b_orders", "b_cust", on=["o_custkey"])
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                j.explain("formatted")
            plan = buf.getvalue()
            assert "Exchange" not in plan, plan
            assert j.count() == o.count()  # inner join, FK complete
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_cust")

    def test_x18_only_shuffle_is_the_final_groupby(self, spark):
        """The registered bucketed-join query: the fact-dim join itself is
        exchange-free (bucketed scans satisfy the join distribution); the
        ONLY Exchange in the whole plan is the final 5-group aggregate."""
        plan = plan_of(spark, "x18_bucketed_colocated_join")
        assert "BroadcastExchange" not in plan, plan
        assert plan.count("Exchange (") == 1, plan  # tree node occurrences
        assert "SortMergeJoin" in plan

    def test_bucketed_groupby_has_no_exchange(self, spark, tmp_path):
        """A groupBy on the bucket key also rides the stored partitioning —
        aggregation without a shuffle."""
        import contextlib
        import io

        from data_etl_scripts_showcase__spark.sinks import write_bucketed
        from data_etl_scripts_showcase__spark.sources import load_table
        from pyspark.sql import functions as F

        li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
        write_bucketed(li, "b_li", ["l_orderkey"], 8, path=str(tmp_path / "bl"))
        try:
            agg = (
                spark.table("b_li")
                .groupBy("l_orderkey")
                .agg(F.sum("l_quantity").alias("q"))
            )
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                agg.explain("formatted")
            assert "Exchange" not in buf.getvalue()
            assert agg.count() > 0
        finally:
            spark.sql("DROP TABLE IF EXISTS b_li")


class TestTpchShapePlans:
    def test_q14_pushes_month_filter_and_broadcasts_part(self, spark):
        """Q14: the one-month shipdate range must reach the parquet scan
        (PushedFilters), and the part dimension must broadcast — the month
        of lineitem never shuffles."""
        plan = plan_of(spark, "q14_promo_revenue_share")
        assert "GreaterThanOrEqual(l_shipdate,1996-09-01" in plan
        assert "LessThan(l_shipdate,1996-10-01" in plan
        assert "BroadcastHashJoin" in plan

    def test_q18_aggregates_before_joining(self, spark):
        """Q18: the lineitem quantity rollup must run BEFORE the joins (the
        4× row reduction is the plan's whole value) — a partial aggregate
        must appear under the first join's probe side."""
        plan = plan_of(spark, "q18_large_volume_orders")
        assert "partial_sum" in plan
        # the HAVING filter on the aggregated sum_qty exists pre-join
        assert "sum_qty" in plan

    def test_q4_exists_is_semi_join(self, spark):
        """Q4: correlated EXISTS must compile to a LeftSemi join (one
        output row per order, no DISTINCT, no duplicate-row blowup)."""
        plan = plan_of(spark, "q4_order_priority_check")
        assert "LeftSemi" in plan

    def test_x5_profile_scans_once(self, spark):
        """x5: the unpivot profile must scan the orders file exactly once —
        that is its advantage over the per-column UNION ALL oracle."""
        plan = plan_of(spark, "x5_profile_columns")
        # each scan node lists its file index once in the details section
        assert plan.count("Location: InMemoryFileIndex") == 1


class TestPipelineOpPlans:
    def test_contamination_broadcasts_benchmark_side(self, spark):
        """d10: the eval-set shingle table must be broadcast — the corpus
        shingle stream (the 100 TB side) must never shuffle for the join."""
        plan = plan_of(spark, "d10_ngram_contamination")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_tfidf_shuffle_joins_df_table(self, spark):
        """t8 (round-9 contract, superseding the r2 broadcast pin): the
        document-frequency table is VOCABULARY-sized — content-keyed —
        so it must ride a shuffled-hash join, never a broadcast (the t14
        cluster-longdocs lesson); no sort-merge join anywhere."""
        plan = plan_of(spark, "t8_tfidf_top_terms")
        assert "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" not in plan

    def test_pii_scrub_is_shuffle_free(self, spark):
        """t9: redaction is a pure map stage — zero Exchange operators."""
        plan = plan_of(spark, "t9_pii_scrub")
        assert "Exchange" not in plan

    def test_scd2_windows_share_one_shuffle(self, spark):
        """x9: the lag and lead/row_number windows sort on the same
        (user_id → ts) spec, so the plan has exactly one hashpartitioning
        Exchange (AQE may add nothing else)."""
        plan = plan_of(spark, "x9_scd2_history")
        assert plan.count("Exchange (") == 1  # one tree node
        assert plan.count("Sort (") == 1  # second window reuses the sort

    def test_winsorize_broadcasts_percentiles(self, spark):
        """x10: the per-group percentile table (rows == |event types|) is
        broadcast back onto the fact scan."""
        plan = plan_of(spark, "x10_winsorized_stats")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestNewOpPlans:
    def test_w19_is_one_aggregate_no_window(self, spark):
        """OHLC bars must be a single hash aggregate: no Window operator,
        no Sort, exactly one Exchange (the groupBy)."""
        plan = plan_of(spark, "w19_ohlc_bars")
        assert "Window" not in plan, plan
        assert plan.count("Exchange (") == 1, plan

    def test_j9_forward_asof_single_shuffle_no_range_join(self, spark):
        """Forward as-of must stay union+window: one hashpartitioning on
        the key, no BroadcastNestedLoopJoin / CartesianProduct."""
        plan = plan_of(spark, "j9_asof_forward_tolerance")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert plan.count("hashpartitioning") >= 1

    def test_a24_sketch_probe_broadcasts_grid(self, spark):
        """The count-min grid (<=1Ki rows) must broadcast at probe time."""
        plan = plan_of(spark, "a24_countmin_frequency")
        assert "BroadcastHashJoin" in plan


class TestFragmentRegistry:
    def test_every_fragment_names_a_registered_query(self):
        """A typo'd fragment key would be silently orphaned — the audits
        would fall back to the frame q.fn returned, which for streaming
        jobs is a meaningless memory-sink scan.  Keys must match the
        registry."""
        registry = load_all()
        orphans = sorted(set(FRAGMENTS) - set(registry))
        assert not orphans, f"fragments with no registered query: {orphans}"

    def test_fragment_coverage_plus_skips_is_exhaustive(self):
        """Every action-executing query is either fragment-audited or a
        justified SKIP — if someone adds a new streaming/write query
        without a fragment, the audits walk its sink read-back; this test
        is the reminder that a fragment (or a justified skip) is part of
        the contract.  Heuristic: queries whose builder source mentions a
        terminal action."""
        import inspect

        registry = load_all()
        action_re = (
            "run_to_memory(", ".start()", "write.mode(", "write.parquet(",
            ".writeStream", "write_bucketed(", "write_csv(", "write_orc(",
            "write_text(", "write_snapshot(", "write_json_archive(",
            "reconcile(",
        )
        covered = set(FRAGMENTS) | plan_audits.SKIP
        missing = []
        for name, q in sorted(registry.items()):
            src = inspect.getsource(q.fn)
            if any(tok in src for tok in action_re) and name not in covered:
                missing.append(name)
        # Queries that execute a bounded action at build but whose RETURNED
        # frame is itself the meaningful, auditable plan: read-back
        # aggregates/joins over just-written tiny fixtures (e.g. io12's
        # returned frame IS the DPP star join; x33's IS the time-travel
        # read).  Unlike streaming memory-sink scans these plans carry the
        # query's real operator tree, so auditing via q.fn is correct —
        # the write cost at sf0.001 is the only downside.  ENUMERATED
        # EXPLICITLY (no prefix wildcards): a NEW action-executing query
        # must either register a fragment, join the justified SKIP, or be
        # consciously added here.
        tolerated = {
            "e4_enrichment_cross_run_cache",
            "io10_compaction_roundtrip",
            "io11_compressed_csv_roundtrip",
            "io12_dpp_star_join",
            "io13_parquet_bloom_roundtrip",
            "io14_format_migration_audit",
            "io15_version_retention",
            "x33_snapshot_time_travel",
        }
        assert not (set(missing) - tolerated), sorted(set(missing) - tolerated)


class TestEngineWidePlanAudit:
    """Negative control for the sweep's cartesian audit
    (plan_audits.has_cartesian, run on every query by
    tests/test_oracle_equivalence.py): a predicate that stopped matching
    would pass silently inside the 325 green sweep cases."""

    def test_audit_flags_a_data_cartesian(self, spark):
        from data_etl_scripts_showcase__spark.sources import load_table

        nation = load_table(spark, SF, "nation")
        region = load_table(spark, SF, "region")
        bad = nation.hint("shuffle_replicate_nl").crossJoin(region)
        bad.collect()
        assert plan_audits.has_cartesian(bad._jdf.queryExecution().executedPlan())


class TestDynamicPartitionPruning:
    def test_dpp_prunes_fact_partitions_from_dim_filter(self, spark, tmp_path):
        """Dynamic partition pruning: a selective filter on the DIMENSION
        prunes the partitioned FACT's directories at runtime — the scan
        carries a dynamicpruning subquery instead of reading all
        partitions.  At 100 TB this is the difference between scanning a
        full fact table and only the partitions the dim filter selects."""
        import contextlib
        import io

        from data_etl_scripts_showcase__spark.sources import load_table
        from pyspark.sql import functions as F

        base = str(tmp_path / "orders_part")
        o = load_table(spark, SF, "orders")
        o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(base)

        fact = spark.read.parquet(base)
        # the dim filter is on a NON-join attribute, so the fact-side
        # partition filter cannot be inferred statically — only DPP's
        # runtime subquery can prune (a join-key filter would be folded
        # into a static PartitionFilter by constraint propagation instead)
        dim = (
            load_table(spark, SF, "orders")
            .select("o_orderpriority")
            .distinct()
            .withColumn("urgency_code", F.substring("o_orderpriority", 1, 1))
            .where(F.col("urgency_code") == "1")
        )
        j = fact.join(dim, "o_orderpriority").groupBy("o_orderpriority").count()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "dynamicpruning" in plan.lower(), plan
        got = j.collect()
        assert len(got) == 1 and got[0]["o_orderpriority"] == "1-URGENT"


class TestScaleOpsPlans:
    def test_bloom_prejoin_broadcasts_filter(self, spark):
        """x27: the bit set must broadcast; neither key set sort-merge joins."""
        plan = plan_of(spark, "x27_bloom_prejoin")
        assert "BroadcastExchange" in plan
        assert "SortMergeJoin" not in plan

    def test_hll_registers_partial_max(self, spark):
        """a25: register build must partial-aggregate map-side (≤64 rows per
        group leave each task before the exchange)."""
        plan = plan_of(spark, "a25_hll_distinct_sketch")
        assert "partial_max" in plan

    def test_not_in_is_null_aware_single_column(self, spark):
        """j11: NOT IN compiles to a BroadcastHashJoin LeftAnti with NO join
        condition — the single-column null-aware anti join, not a cartesian
        fallback."""
        plan = plan_of(spark, "j11_not_in_null_aware")
        assert "BroadcastHashJoin LeftAnti" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_zorder_is_pure_codegen(self, spark):
        """x26: the Morton interleave must stay inside whole-stage codegen —
        no UDF/BatchEvalPython node anywhere in the plan."""
        plan = plan_of(spark, "x26_zorder_layout")
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "HashAggregate" in plan  # layouts are plain hash aggregates

    def test_duplicate_spans_partial_combines(self, spark):
        """d17: the window-hash duplicate detection aggregates with map-side
        partials (the |tokens|-row explode collapses before the shuffle)."""
        plan = plan_of(spark, "d17_duplicate_spans")
        assert "partial_count" in plan


class TestBandJoinPlan:
    def test_band_join_is_not_cartesian(self, spark):
        """j12: the |a-b|<=eps predicate must run as a bucketed equality
        join, never a nested-loop/cartesian plan."""
        plan = plan_of(spark, "j12_band_join")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestRound2Plans:
    def test_global_row_ids_no_global_sort_of_data(self, spark):
        """x39: the table-wide window must partition by bucket; the only
        SinglePartition exchange feeds the tiny offsets aggregate, which
        then broadcasts back."""
        plan = plan_of(spark, "x39_global_row_ids")
        assert "hashpartitioning(_bkt" in plan
        assert "BroadcastExchange" in plan
        # the data path (scan -> final window) must not be single-partition:
        # the one SinglePartition exchange sits under a HashAggregate.
        assert plan.count("SinglePartition") <= 1

    def test_phash_banding_is_hash_join(self, spark):
        """mm10: hamming candidate generation is an equality join on the
        (band, byte) key — never a nested-loop/cartesian plan."""
        plan = plan_of(spark, "mm10_phash_neardup")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_join_size_estimate_joins_sketches_not_rows(self, spark):
        """x40: the estimate join must consume aggregated relations (grids /
        per-key counts), proven by partial aggregates on both inputs."""
        plan = plan_of(spark, "x40_join_size_estimate")
        assert "partial_count" in plan or "partial_sum" in plan
        assert "CartesianProduct" not in plan

    def test_matryoshka_first_pass_reads_head_slice(self, spark):
        """v14: the corpus-wide stage projects slice(embedding, 1, 16); the
        full embedding appears only via the shortlist rerank joins."""
        plan = plan_of(spark, "v14_matryoshka_retrieval")
        assert "slice(embedding" in plan
        # the corpus-wide stage is a broadcast of the bounded 8-query side
        # (documented pattern); a true data-by-data product would surface as
        # CartesianProduct.
        assert "CartesianProduct" not in plan


class TestRound3Plans:
    """Plan-shape assertions for the operators that landed after the last
    test_plans refresh (x49, u5, st18, t25/x48) — their shuffle/broadcast
    claims are asserted like every other family's."""

    def test_x49_fk_chain_dims_broadcast_no_cartesian(self, spark):
        """Each referential hop is a (broadcast at this SF) left join with a
        null-probe count — three hops, no cartesian, no accidental SMJ."""
        plan = plan_of(spark, "x49_fk_chain_audit")
        assert plan.count("BroadcastHashJoin LeftOuter") == 3
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan

    def test_u5_symmetric_difference_no_nested_loop(self, spark):
        """Both EXCEPTs run over deduplicated key relations — hash-based
        plans only, never a nested-loop/cartesian fallback, and the
        distincts aggregate before the set difference (fact rows never
        reach the except)."""
        plan = plan_of(spark, "u5_symmetric_difference")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "HashAggregate" in plan

    def test_t25_cdc_is_fully_map_side(self, spark):
        """CDC chunking (VERDICT r6 #1, re-fixed round 7): one narrow
        vectorized Arrow pass — the plan has ZERO Exchange, ZERO Window
        and ZERO Generate.  (v1 shuffled full text once per boundary row;
        v2's higher-order-function form was shuffle-free but still
        quadratic CPU — a lambda referencing the row's text column
        re-evaluates the column access per element.  See
        operators/chunking.py for the microbenchmarks.)"""
        plan = plan_of(spark, "t25_content_defined_chunks")
        assert "Exchange" not in plan, plan
        assert "Window" not in plan, plan
        assert "Generate" not in plan, plan
        assert "MapInPandas" in plan  # the single vectorized Arrow pass

    def test_x48_chunk_dedup_single_small_shuffle(self, spark):
        """x48 = t25's map-side chunk stream + a per-source distinct-count:
        the ONLY exchanges key on source (partial agg, then distinct-agg
        replan under AQE), and none of them carries the text column."""
        plan = plan_of(spark, "x48_chunk_dedup_ratio")
        assert "Window" not in plan, plan
        assert "hashpartitioning(source" in plan
        assert "hashpartitioning(doc_id" not in plan
        assert "CartesianProduct" not in plan

    def test_st18_card_reader_merges_partials_not_corpus(self, spark):
        """The streamed dataset card is read by MERGING partial rows —
        the reader's plan must scan the partials sink, never rescan the
        documents corpus."""
        df = load_all()["st18_streaming_dataset_card"].fn(spark, SF)
        import contextlib, io
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "documents.parquet" not in plan
        assert "st18_card_" in plan  # the partials sink is the only scan


class TestRound3NewOpPlans:
    """Shuffle/broadcast claims of the round-3 query additions."""

    def test_t27_quality_classifier_is_shuffle_free(self, spark):
        """The hashed-linear classifier is per-row array expressions only —
        no Exchange anywhere: scoring is one embarrassingly parallel scan."""
        plan = plan_of(spark, "t27_hashed_linear_quality")
        assert "Exchange" not in plan
        assert "Generate" not in plan  # no explode either

    def test_v17_broadcasts_probe_codebook_dtable(self, spark):
        """The composed ANN path broadcasts every small side (probe cells,
        codebook, distance table, query vector); the only corpus-sized
        join (encoded codes <-> cell assignment, both keyed on vec_id) may
        sort-merge — co-partitioned big-big is the right plan at scale —
        but nothing falls back to an unbounded cartesian."""
        plan = plan_of(spark, "v17_ivf_adc_rerank")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        # the only nested-loop joins are broadcasts of 1-row sides (the
        # query vector / probe scalars), same class the engine-wide
        # cartesian audit allows.
        import re

        for m in re.finditer(r"BroadcastNestedLoopJoin (\w+)", plan):
            assert m.group(1) == "Cross"

    def test_v12_assignment_is_vectorized_and_shuffles_cells_only(self, spark):
        """The round-8 IVF assignment rewrite: cell assignment runs as a
        vectorized Arrow pass (MapInPandas over a broadcast centroid
        matrix) with ZERO Exchange of its own — the only shuffle in v12
        keys on the tiny (cell, flags) projection for the occupancy agg,
        and nothing degenerates to a cartesian/nested-loop."""
        plan = plan_of(spark, "v12_ivf_incremental")
        assert "MapInPandas" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # no shuffle may carry the embedding payload (the r6 amplification
        # shape): the payload audit checks engine-wide, pin it locally too
        assert "hashpartitioning(embedding" not in plan

    def test_x50_l_diversity_broadcasts_dim(self, spark):
        """Orders is the big side; the customer quasi-identifier dim is
        broadcast, and the readout is a two-phase aggregate."""
        plan = plan_of(spark, "x50_l_diversity_audit")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "HashAggregate" in plan

    def test_d23_broadcasts_benchmark_chunks(self, spark):
        """Substring contamination joins the corpus chunk stream against a
        BROADCAST benchmark chunk table (d10's shape at chunk granularity);
        the corpus side never shuffles for the join."""
        plan = plan_of(spark, "d23_chunk_contamination")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan

    def test_a35_ecdf_has_no_single_partition_data_window(self, spark):
        """The distributed ECDF must confine single-partition windows to
        the tiny bucket-offsets relation: the per-value running sums
        partition by bucket (hashpartitioning), and the only
        SinglePartition exchanges feed the |buckets|-row offsets and the
        1-row totals — never the value stream."""
        plan = plan_of(spark, "a35_ks_drift")
        assert "hashpartitioning(_bkt" in plan
        assert "CartesianProduct" not in plan

    def test_x53_trials_join_by_rank_no_cartesian(self, spark):
        """Negative sampling is linear: the 8-trials-per-anchor relation
        joins candidates by the rank key (hash join), the near-dup veto is
        an anti join — nothing degenerates to a cartesian."""
        plan = plan_of(spark, "x53_negative_samples")
        assert "CartesianProduct" not in plan
        assert "LeftAnti" in plan

    def test_x54_profiler_two_sort_free_passes(self, spark):
        """Round 11 (conscious re-pin): the profiler is TWO single-pass
        aggregates — an Expand-free extrema/count fold (string min/max
        buffers force SortAggregate, but with empty grouping keys it
        sorts nothing) and a distinct-count pass whose Expand stream
        stays in HashAggregate — meeting in a broadcast join.  The r10
        single-aggregate form mixed the two, which forced SortAggregate
        over the 5×N Expand stream and sorted the corpus twice (the
        driver's #5 headline cost at 2.2 s; this shape re-measured
        ~3x faster).  Pins: exactly two scans, distinct pass hash-
        aggregated, and NO Sort operator anywhere — the oracle's
        per-column UNION ALL would scan four times."""
        plan = plan_of(spark, "x54_column_profiler")
        assert plan.count("orders.parquet") == 2
        assert "HashAggregate" in plan
        assert ") Sort\n" not in plan

    def test_x55_shard_offsets_partition_by_bucket(self, spark):
        """Shard assignment's prefix sum rides the bucket machinery: the
        document stream's window partitions by bucket (hashpartitioning),
        never a global single-partition sort of the corpus."""
        plan = plan_of(spark, "x55_shard_manifest")
        assert "hashpartitioning(_bkt" in plan
        assert "CartesianProduct" not in plan

    def test_d24_savings_single_corpus_shuffle_then_digest_join(self, spark):
        """The payoff report's only corpus-wide shuffle keys on the md5
        fingerprint; the rep table joins back on the digest without a
        cartesian or nested loop."""
        plan = plan_of(spark, "d24_dedup_savings_report")
        assert "hashpartitioning(fp" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestBucketPruning:
    def test_point_lookup_scans_one_bucket(self, spark, tmp_path):
        """Bucketed storage prunes at the FILE level for key-equality
        predicates: a point lookup on the bucket key must read 1 of the 8
        buckets (SelectedBucketsCount), not scan the table — the lookup
        path that makes a bucketed fact table also a key-value store."""
        import contextlib
        import io

        from data_etl_scripts_showcase__spark.sinks import write_bucketed
        from data_etl_scripts_showcase__spark.sources import load_table
        from pyspark.sql import functions as F

        o = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
        write_bucketed(o, "b_o_prune", ["o_orderkey"], 8, path=str(tmp_path / "bp"))
        prev = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        try:
            # autoBucketedScan turns the bucketed layout off when no
            # JOIN/AGG consumes the distribution — but a point lookup
            # benefits from bucket PRUNING, so pin the bucketed scan on.
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
            )
            q = spark.table("b_o_prune").where(F.col("o_orderkey") == 7)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                q.explain("formatted")
            plan = buf.getvalue()
            assert "SelectedBucketsCount: 1 out of 8" in plan, plan
        finally:
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled", prev
            )
            spark.sql("DROP TABLE IF EXISTS b_o_prune")

    def test_j14_nearest_asof_no_range_explosion(self, spark):
        """The nearest as-of composes two union+window passes — no
        nested-loop or cartesian candidate join anywhere in the plan."""
        plan = plan_of(spark, "j14_nearest_asof_join")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_w29_attribution_join_keys_on_user(self, spark):
        """Multi-touch attribution's touch join is an equality join on the
        user key (the 24h bound rides as a residual filter), and the final
        rollup partial-aggregates map-side."""
        plan = plan_of(spark, "w29_multitouch_attribution")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "partial_count" in plan or "partial_sum" in plan


class TestRound4Plans:
    """Round-4 scale fixes: top-k selection shapes and the engine-wide
    unpartitioned-window audit (VERDICT r3 items 1-2)."""

    def test_v11_topk_is_take_ordered(self, spark):
        """v11's final top-5 over the FULL ADC-scored corpus must compile
        to TakeOrderedAndProject (parallel per-partition partial top-k,
        tiny driver merge) — never an unpartitioned row_number over an
        input that grows with the corpus.  The rank window then runs over
        only k rows."""
        plan = plan_of(spark, "v11_pq_adc_topk")
        assert "TakeOrderedAndProject" in plan

    def test_v17_both_selection_stages_take_ordered(self, spark):
        """v17 selects twice (ADC shortlist top-20, exact-rerank top-5);
        BOTH must be TakeOrderedAndProject — the probed shortlist still
        scales with corpus size / nlist."""
        plan = plan_of(spark, "v17_ivf_adc_rerank")
        assert plan.count("TakeOrderedAndProject") >= 2

    def test_x11_heavy_hitters_limit_first(self, spark):
        """The skew diagnostic is exactly the query that meets
        high-cardinality keys: its top-10 selection must be a
        TakeOrderedAndProject over the key counts, not a global window
        over all |distinct keys| rows."""
        plan = plan_of(spark, "x11_heavy_hitters")
        assert "TakeOrderedAndProject" in plan


class TestEngineWideWindowAudit:
    """Controls for the sweep's unbounded-global-window audit
    (plan_audits.has_unbounded_global_window): red on a global rank over
    a raw scan and over join(scan, broadcast scalar agg) — the
    branch-aware case, where an aggregate below the window must not
    count as bounding it — and green on a limit-first global rank."""

    @pytest.mark.parametrize(
        "shape, flagged",
        [("scan", True), ("scan_join_scalar", True), ("limit_first", False)],
    )
    def test_audit_on_global_rank(self, spark, shape, flagged):
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        from data_etl_scripts_showcase__spark.sources import load_table

        o = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
        scalar = o.agg(F.max("o_totalprice").alias("top"))
        ranked = {
            "scan": o,
            "scan_join_scalar": o.crossJoin(F.broadcast(scalar)),
            "limit_first": o.orderBy(F.desc("o_totalprice")).limit(10),
        }[shape].withColumn("r", F.rank().over(W.orderBy(F.desc("o_totalprice"))))
        ranked.collect()
        jplan = ranked._jdf.queryExecution().executedPlan()
        assert plan_audits.has_unbounded_global_window(jplan) == flagged


class TestEngineWideShufflePayloadAudit:
    """Controls for the sweep's payload-shuffle audit
    (plan_audits.offending_exchanges) and for the checkpoint-segment
    capture it relies on to see past checkpoint leaves."""

    def test_audit_flags_the_pre_rewrite_chunk_shape(self, spark):
        """Negative control: the audit must be RED on the exact shape the
        r6 verdict flagged — per-position explode carrying text into a
        per-doc window (the pre-rewrite t25).  A vacuous audit would pass
        both shapes."""
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        from data_etl_scripts_showcase__spark.sources import load_table

        d = load_table(spark, SF, "documents").where(F.length("text") >= 8)
        pos = d.select(
            "doc_id",
            "text",
            F.explode(
                F.expr("sequence(1, greatest(length(text) - 7, 1))")
            ).alias("i"),
        )
        # the defect: the chunk digest depends on the WINDOW output
        # (lead(i)), so text cannot be projected away before the exchange
        w = W.partitionBy("doc_id").orderBy("i")
        bad = pos.withColumn(
            "chunk_len",
            F.coalesce(F.lead("i").over(w), F.length("text") + 1) - F.col("i"),
        ).select(
            "doc_id", F.md5(F.expr("substring(text, i, chunk_len)")).alias("h")
        )
        jplan = bad._jdf.queryExecution().executedPlan()
        assert plan_audits.offending_exchanges(jplan)

    def test_checkpoint_segments_are_captured(self, spark):
        """Coverage proof for the blind-spot fix: building pr4 (whose
        edge pipeline is checkpointed) inside ckpt.capture() must yield
        checkpoint segments, and at least one segment must contain a
        ShuffleExchange — i.e. the sweep's audits really do see plan
        regions the final executedPlan no longer shows.  The block owns
        its segments: they are dropped on exit, and a build outside any
        block records nothing."""
        from data_etl_scripts_showcase__spark import ckpt

        build = load_all()["pr4_cc_alternating"].fn
        with ckpt.capture() as segments:
            build(spark, SF)
            assert segments, "no checkpoint segments captured"
            assert any(
                "Exchange" in jp.toString() for _, jp in segments
            ), "captured segments show no exchanges — capture is vacuous"
        assert not segments
        assert ckpt._segments is None


class TestContentKeyedCountJoins:
    """Round 9 (cluster-longdocs catch): count tables keyed by corpus
    CONTENT — distinct bigrams, context words, vocabulary terms — must
    never ride a size-estimate-gated broadcast.  Catalyst's static
    estimate for them is a fixed ratio of the pruned text scan, so it
    undershoots arbitrarily as documents grow; at x32 doc length the
    resulting auto-broadcast killed 6 GB executors while every
    single-JVM tier stayed green.  The joins are pinned shuffled-hash."""

    def test_t14_count_tables_never_broadcast(self, spark):
        plan = plan_of(spark, "t14_bigram_lm_score")
        assert "ShuffledHashJoin" in plan
        # the only broadcast allowed is the 1-row vocab-size cross join
        assert "BroadcastHashJoin" not in plan

    def test_t8_df_table_never_broadcast(self, spark):
        plan = plan_of(spark, "t8_tfidf_top_terms")
        assert "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan

    def test_d8_d12_drop_lists_never_statically_broadcast(self, spark):
        """ADVICE r9: d8/d12 deliberately leave the drop/loser-list join
        to AQE — safe ONLY while the STATIC plan is shuffle-side (a
        statically-planned BroadcastExchange is a leaf query stage AQE
        cannot demote, the t14 lesson).  Catalyst's static estimate for
        the distinct-over-joins IS large enough to plan SortMergeJoin
        first; this pins that assumption so an estimator change can't
        silently re-introduce the executor-memory risk.  The drop list
        scales with the corpus's duplicate mass, so a broadcast pinned at
        plan time would OOM on a heavily-duplicated crawl."""
        from data_etl_scripts_showcase__spark.queries import load_all

        registry = load_all()
        for name in ("d8_dedup_survivors", "d12_semantic_dedup"):
            jdf = registry[name].fn(spark, SF)._jdf
            static = jdf.queryExecution().sparkPlan().toString()
            outer = [
                ln for ln in static.splitlines() if "LeftOuter" in ln
            ]
            assert outer, f"{name}: expected a LeftOuter drop-list join"
            for ln in outer:
                assert "SortMergeJoin" in ln or "ShuffledHashJoin" in ln, (
                    f"{name}: drop-list join statically planned as a "
                    f"broadcast — AQE cannot demote it: {ln.strip()}"
                )
