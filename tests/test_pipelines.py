"""End-to-end pipeline + sink tests (SURVEY.md §5 t3 golden/e2e)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_etl_scripts_showcase__spark.plans import (
    enrichment_pipeline,
    filtered_snapshot_pipeline,
    snapshot_pipeline,
)
from data_etl_scripts_showcase__spark.sinks import (
    ReconciliationError,
    promote_view,
    read_snapshot,
    reconcile,
    upsert_run_metrics,
    write_snapshot,
)

SF = "/root/testdata/sf0.001"


class TestSnapshotSink:
    def test_write_read_promote_roundtrip(self, spark, tmp_path):
        base = str(tmp_path / "snap")
        df = spark.range(5).withColumn("v", F.col("id") * 2)
        write_snapshot(df, base, "2026-01-01")
        write_snapshot(df.where("id < 3"), base, "2026-01-02")
        assert read_snapshot(spark, base, "2026-01-01").count() == 5
        assert read_snapshot(spark, base).count() == 8
        promoted = promote_view(spark, base, "latest_snap")
        assert promoted.count() == 3  # latest ds wins
        assert spark.table("latest_snap").count() == 3

    def test_dynamic_overwrite_is_per_partition(self, spark, tmp_path):
        base = str(tmp_path / "snap2")
        write_snapshot(spark.range(4), base, "2026-01-01")
        write_snapshot(spark.range(9), base, "2026-01-02")
        # rewriting day 2 must not touch day 1
        write_snapshot(spark.range(2), base, "2026-01-02")
        assert read_snapshot(spark, base, "2026-01-01").count() == 4
        assert read_snapshot(spark, base, "2026-01-02").count() == 2

    def test_dynamic_overwrite_does_not_leak_into_the_session(self, spark, tmp_path):
        """Dynamic overwrite is an option of the snapshot write, not of the
        session: a later plain partitioned overwrite still replaces the
        whole directory, stale partitions included."""
        key = "spark.sql.sources.partitionOverwriteMode"
        before = spark.conf.get(key)
        write_snapshot(spark.range(3), str(tmp_path / "snap3"), "2026-01-01")
        assert spark.conf.get(key) == before
        base = str(tmp_path / "plain")
        spark.range(4).withColumn("p", F.lit("stale")).write.partitionBy("p").parquet(base)
        spark.range(2).withColumn("p", F.lit("fresh")).write.mode(
            "overwrite"
        ).partitionBy("p").parquet(base)
        assert [d for d in os.listdir(base) if d.startswith("p=")] == ["p=fresh"]


class TestQualityGate:
    def test_reconcile_passes_and_raises(self, spark):
        a, b = spark.range(10), spark.range(10)
        assert reconcile(a, b) == 10
        with pytest.raises(ReconciliationError, match="input_rows=10 output_rows=9"):
            reconcile(a, b.where("id > 0"))

    def test_run_metrics_merge_on_key(self, spark, tmp_path):
        path = str(tmp_path / "metrics")
        upsert_run_metrics(spark, path, "2026-01-01", {"active": 5})
        upsert_run_metrics(spark, path, "2026-01-02", {"active": 7})
        out = upsert_run_metrics(spark, path, "2026-01-01", {"active": 9})
        rows = {r.run_date: r.active for r in out.collect()}
        assert rows == {"2026-01-01": 9.0, "2026-01-02": 7.0}


class TestPipelines:
    def test_snapshot_pipeline(self, spark, tmp_path):
        base = str(tmp_path / "p1")
        out = snapshot_pipeline(spark, SF, "region", base, "2026-01-01")
        assert read_snapshot(spark, base, "2026-01-01").count() == out.count() == 5

    def test_filtered_snapshot_pipeline(self, spark, tmp_path):
        base = str(tmp_path / "p2")
        out = filtered_snapshot_pipeline(spark, SF, base, "2026-01-01")
        got = read_snapshot(spark, base, "2026-01-01")
        assert got.count() == out.count() > 0
        row = got.limit(1).collect()[0]
        assert row.geolocation is None
        assert row.is_open in (0, 1)

    def test_enrichment_pipeline_golden(self, spark):
        out = enrichment_pipeline(spark, SF, limit_keys=8).orderBy("merchant_id")
        rows = out.collect()
        assert len(rows) == 8
        r0 = {r.merchant_id: r for r in rows}[0]
        # golden values for key '0' (pure function of md5 — stable forever)
        import hashlib

        h = hashlib.md5(b"loc:0").hexdigest()
        assert r0.business_name == "Biz 0"
        assert r0.overall_rating == round((10 + int(h[:4], 16) % 41) / 10.0, 1)
        assert r0.review_count == int(h[4:8], 16) % 500
        assert r0.profile_status in {
            "suspended",
            "processing",
            "verified",
            "duplicate",
            "verification_required",
        }
        assert r0.total_actions == r0.CALL_CLICKS + r0.WEBSITE_CLICKS + r0.DIRECTIONS
        assert r0.offer_count + r0.standard_count == 1 + int(h[:4], 16) % 4

    def test_enrichment_pagination_merges_all_pages(self, spark):
        # keys with n_posts > PAGE_SIZE force the nextPageToken loop
        out = enrichment_pipeline(spark, SF, limit_keys=40)
        mx = out.agg(
            F.max(F.col("offer_count") + F.col("standard_count")).alias("m")
        ).collect()[0].m
        assert mx > 2  # saw a key with more posts than one page holds


class TestInsightsSchemaParity:
    def test_projection_matches_reference_fieldnames_exactly(self, spark):
        """S5 output-fidelity pin: the flagship sink schema equals the
        reference's declared 40-name insights CSV header
        (main.py:711), name-for-name and in order."""
        from data_etl_scripts_showcase__spark.plans import (
            INSIGHT_FIELDNAMES,
            insights_projection,
        )

        wide = enrichment_pipeline(spark, SF, limit_keys=5)
        out = insights_projection(wide, "2026-01-02", "2026-01-01")
        assert out.columns == INSIGHT_FIELDNAMES
        assert len(INSIGHT_FIELDNAMES) == 40

    def test_csv_sink_roundtrips_the_declared_header(self, spark, tmp_path):
        """The header the CSV sink writes IS the declared list — and the
        token columns are NULL (credentials never persisted)."""
        from data_etl_scripts_showcase__spark.plans import (
            INSIGHT_FIELDNAMES,
            insights_projection,
        )
        from data_etl_scripts_showcase__spark.sources.files import write_csv

        wide = enrichment_pipeline(spark, SF, limit_keys=5)
        out = insights_projection(wide, "2026-01-02", "2026-01-01")
        path = str(tmp_path / "insights_csv")
        write_csv(out, path)
        back = spark.read.csv(path, header=True)  # header-only read
        assert back.columns == INSIGHT_FIELDNAMES
        assert out.where(F.col("GoogleAccessToken").isNotNull()).count() == 0


class TestTargetedDelete:
    def test_only_affected_partitions_rewritten(self, spark, tmp_path):
        """File-level proof of the rewrite-only-what-contains-the-key rule:
        partitions without the doomed keys keep their original files."""
        import os

        from data_etl_scripts_showcase__spark.sinks import targeted_delete
        from data_etl_scripts_showcase__spark.sources import load_table

        base = str(tmp_path / "events_parts")
        ev = load_table(spark, SF, "events").withColumn(
            "ds", F.date_format("ts", "yyyy-MM-dd")
        )
        ev.write.mode("overwrite").partitionBy("ds").parquet(base)

        # pick a user present in SOME days only, so both cases exist
        days_with = {
            r.ds for r in ev.where(F.col("user_id") == 3).select("ds").distinct().collect()
        }
        all_days = {r.ds for r in ev.select("ds").distinct().collect()}
        assert days_with and days_with != all_days

        def files(ds):
            d = os.path.join(base, f"ds={ds}")
            return {
                f: os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d)
                if f.endswith(".parquet")
            }

        untouched_day = sorted(all_days - days_with)[0]
        before = files(untouched_day)

        rewritten = targeted_delete(
            spark, base, part_col="ds", key_col="user_id", keys=[3]
        )
        assert set(rewritten) == days_with
        assert files(untouched_day) == before  # same files, same mtimes

        back = spark.read.parquet(base)
        assert back.where(F.col("user_id") == 3).count() == 0
        assert back.count() == ev.where(F.col("user_id") != 3).count()


class TestCompaction:
    def test_compacts_fragmented_partitions_only(self, spark, tmp_path):
        """Streaming-append fragmentation → compaction leaves 1 file per
        oversized partition, preserves the data exactly, and does not touch
        partitions already compact."""
        import os

        from data_etl_scripts_showcase__spark.sinks import (
            compact_partitions,
            partition_file_stats,
        )
        from data_etl_scripts_showcase__spark.sources import load_table

        base = str(tmp_path / "frag")
        ev = load_table(spark, SF, "events").withColumn(
            "ds", F.date_format("ts", "yyyy-MM-dd")
        )
        days = sorted(r.ds for r in ev.select("ds").distinct().collect())
        frag_days, ok_day = set(days[:3]), days[3]
        # fragment 3 days into many small files; day 4 written compact
        ev.where(F.col("ds").isin(list(frag_days))).repartition(8).write.mode(
            "append"
        ).partitionBy("ds").parquet(base)
        ev.where(F.col("ds") == ok_day).coalesce(1).write.mode(
            "append"
        ).partitionBy("ds").parquet(base)

        def files(ds):
            d = os.path.join(base, f"ds={ds}")
            return {
                f: os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d)
                if f.endswith(".parquet")
            }

        before_ok = files(ok_day)
        n_before = spark.read.parquet(base).count()
        sum_before = spark.read.parquet(base).select(F.sum("event_id")).collect()[0][0]

        rewritten = compact_partitions(spark, base, "ds", max_files=1)
        assert set(rewritten) == frag_days
        assert files(ok_day) == before_ok  # untouched partition preserved

        stats = {
            str(r.ds): r.n_files  # partition values bind back as DATE
            for r in partition_file_stats(spark, base, "ds").collect()
        }
        assert all(stats[d] == 1 for d in frag_days)
        after = spark.read.parquet(base)
        assert after.count() == n_before
        assert after.select(F.sum("event_id")).collect()[0][0] == sum_before
        # idempotent: second run finds nothing to do
        assert compact_partitions(spark, base, "ds", max_files=1) == []


class TestCli:
    def test_cli_snapshot_and_forget(self, spark, tmp_path):
        """The reference's run-a-script surface: snapshot a table, then
        delete a key through the CLI verbs."""
        from data_etl_scripts_showcase__spark.__main__ import main

        out = str(tmp_path / "cli_snap")
        rc = main(
            ["--sf-dir", SF, "snapshot", "--table", "nation",
             "--out", out, "--ds", "2026-02-01"]
        )
        assert rc == 0
        snap = spark.read.parquet(out)
        assert snap.where(F.col("n_nationkey") == 5).count() == 1

        rc = main(
            ["forget", "--path", out, "--part-col", "ds",
             "--key-col", "n_nationkey", "--keys", "5"]
        )
        assert rc == 0
        assert spark.read.parquet(out).where(F.col("n_nationkey") == 5).count() == 0

    def test_cli_unknown_query_is_an_error(self, spark):
        from data_etl_scripts_showcase__spark.__main__ import main

        assert main(["query", "--name", "nope_not_a_query"]) == 2

    def test_cli_compact(self, spark, tmp_path):
        from data_etl_scripts_showcase__spark.__main__ import main
        from data_etl_scripts_showcase__spark.sources import load_table

        base = str(tmp_path / "cli_frag")
        ev = load_table(spark, SF, "events").withColumn(
            "ds", F.date_format("ts", "yyyy-MM-dd")
        )
        ev.repartition(6).write.mode("overwrite").partitionBy("ds").parquet(base)
        n_before = spark.read.parquet(base).count()
        rc = main(["compact", "--path", base, "--part-col", "ds"])
        assert rc == 0
        assert spark.read.parquet(base).count() == n_before


class TestFingerprintCli:
    def test_cli_fingerprint_match_and_mismatch(self, spark, tmp_path, capsys):
        """fingerprint verb: a faithful copy matches whatever the row order;
        a corrupted copy is caught (exit 1)."""
        from data_etl_scripts_showcase__spark.__main__ import main
        from data_etl_scripts_showcase__spark.sources import load_table

        sf = "/root/testdata/sf0.001"
        src = load_table(spark, sf, "region")
        good = str(tmp_path / "good")
        # shuffle row order and file layout — fingerprint must not care
        src.orderBy(F.rand(seed=1)).repartition(3).write.parquet(good)
        rc = main(["--sf-dir", sf, "fingerprint", "--table", "region", "--against", good])
        assert rc == 0
        assert "MATCH" in capsys.readouterr().out

        bad = str(tmp_path / "bad")
        src.withColumn(
            "r_name",
            F.when(F.col("r_regionkey") == 0, F.lit("CORRUPTED")).otherwise(
                F.col("r_name")
            ),
        ).write.parquet(bad)
        rc = main(["--sf-dir", sf, "fingerprint", "--table", "region", "--against", bad])
        assert rc == 1


class TestVersionRetention:
    def test_expired_versions_unresolvable_kept_intact(self, spark, tmp_path):
        import os

        from data_etl_scripts_showcase__spark.sinks.retention import (
            expire_versions,
        )
        from data_etl_scripts_showcase__spark.streaming.jobs import (
            read_snapshot_as_of,
        )

        base = str(tmp_path / "vers")
        os.makedirs(base)
        df = spark.range(10)
        for v in range(4):
            df.limit(v + 1).write.parquet(os.path.join(base, f"v{v:09d}"))
        dropped = expire_versions(base, keep_last=2)
        assert dropped == ["v000000000", "v000000001"]
        # kept versions still resolve, newest-at-or-before semantics hold
        assert read_snapshot_as_of(spark, base, 3).count() == 4
        assert read_snapshot_as_of(spark, base, 2).count() == 3
        # travel before the retained window must fail loudly, not return
        # silently wrong history
        import pytest as _pytest

        with _pytest.raises(ValueError):
            read_snapshot_as_of(spark, base, 1)

    def test_keep_more_than_existing_is_noop(self, spark, tmp_path):
        import os

        from data_etl_scripts_showcase__spark.sinks.retention import (
            expire_versions,
        )

        base = str(tmp_path / "vers2")
        os.makedirs(base)
        spark.range(3).write.parquet(os.path.join(base, "v000000000"))
        assert expire_versions(base, keep_last=5) == []
        assert os.path.isdir(os.path.join(base, "v000000000"))
