"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads as W  # noqa: E402


# -- self time from nested spans ---------------------------------------------
def _span(layer, parent, start, end, jobs=0):
    return layers.Span(layer, layer, parent, start, end, jobs=jobs)


def test_self_time_subtracts_children_and_build_excludes_sources():
    spans = [
        _span("queries", None, 0.0, 10.0, jobs=1),  # 0: build, 10 s
        _span("sources", 0, 1.0, 3.0, jobs=2),  # 1: load inside build, 2 s
        _span("operators.graph", 0, 4.0, 9.0, jobs=5),  # 2: 5 s
        _span("operators.graph", 2, 5.0, 6.0),  # 3: nested same layer, 1 s
        _span("execution", None, 10.0, 14.0, jobs=3),  # 4: 4 s
    ]
    m = layers.layer_metrics(spans)
    assert m["queries.self_s"] == pytest.approx(10 - 2 - 5)
    assert m["operators.graph.self_s"] == pytest.approx(5.0)  # 4 + 1
    assert m["operators.graph.incl_s"] == pytest.approx(5.0)  # outermost only
    assert m["operators.graph.calls"] == 2
    assert m["sources.incl_s"] == pytest.approx(2.0)
    assert m["queries.build_s"] == pytest.approx(10 - 2)
    assert m["queries.build_jobs"] == 1 + 5
    assert m["sources.jobs"] == 2
    assert m["execution.incl_s"] == pytest.approx(4.0)
    total_self = sum(v for k, v in m.items() if k.endswith(".self_s"))
    assert total_self == pytest.approx(14.0)  # self times partition the op


# -- percentiles and sample counts -------------------------------------------
def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 50) == pytest.approx(2.5)
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(list(range(101)), 90) == pytest.approx(90.0)


@pytest.mark.parametrize(
    "n, tail", [(5, None), (39, None), (40, 75), (100, 90), (200, 95), (1000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, tail):
    assert stats.tail_percentile(n) == tail


def test_describe_reports_sample_count():
    line = stats.describe("op latency", [float(i) for i in range(1, 41)])
    assert line.startswith("op latency: p50=20.5000s")
    assert "p75=" in line and line.endswith("(n=40)")
    assert "p75" not in stats.describe("pass", [1.0, 2.0, 3.0])


# -- output checks -------------------------------------------------------------
def test_mismatches_tolerates_float_noise_only():
    want = {"rows": 3, "fp": 42, "fsum": [1.0e9, None]}
    assert check.mismatches(want, {"rows": 3, "fp": 42, "fsum": [1.0e9 + 1e-4, None]}) == []
    assert check.mismatches(want, {"rows": 3, "fp": 43, "fsum": [1.0e9, None]})
    assert check.mismatches(want, {"rows": 3, "fp": 42, "fsum": [1.1e9, None]})
    assert check.mismatches(None, {"rows": 3}) == ["no expected value stored"]


class _FakeCatalog:
    def listTables(self):
        return []


def _fake_ctx(tmp_path):
    spark = types.SimpleNamespace(catalog=_FakeCatalog())
    eng = types.SimpleNamespace(quality=types.SimpleNamespace(table_fingerprint=None))
    return W.Ctx(spark, eng, str(tmp_path / "data"), str(tmp_path / "out"), {})


def test_fingerprint_mismatch_counts_as_failed_operation(tmp_path, monkeypatch):
    outputs = {"good": {"rows": 1, "fp": 7, "fsum": []}, "bad": {"rows": 1, "fp": 8, "fsum": []}}
    monkeypatch.setattr(check, "fingerprint", lambda df, _fp: outputs[df.name])
    ops = [
        W.Op(name, 0, lambda ctx: None, lambda ctx, n=name: types.SimpleNamespace(name=n, is_cached=False))
        for name in ("good", "bad")
    ]
    expected = check.Expected(str(tmp_path / "expected.json"))
    expected.put("wl", "v0", "good", {"rows": 1, "fp": 7, "fsum": []})
    expected.put("wl", "v0", "bad", {"rows": 1, "fp": 7, "fsum": []})
    res = run.run_pass(_fake_ctx(tmp_path), ops, expected, "v0", "wl")
    assert (res.attempted, res.failed) == (2, 1)
    assert len(res.latencies) == 2


def test_raising_operation_counts_as_failed(tmp_path):
    def boom(ctx):
        raise RuntimeError("no")

    ops = [W.Op("x", 0, boom, lambda ctx: None)]
    res = run.run_pass(_fake_ctx(tmp_path), ops)
    assert (res.attempted, res.failed, res.latencies) == (1, 1, [])


def test_expected_round_trips(tmp_path):
    path = str(tmp_path / "e.json")
    e = check.Expected(path)
    e.put("wl", "v1", "op", {"rows": 2, "fp": 3, "fsum": [0.5]})
    e.save()
    assert check.Expected(path).get("wl", "v1", "op") == {"rows": 2, "fp": 3, "fsum": [0.5]}
    with open(path) as f:
        json.load(f)


# -- seeded order -----------------------------------------------------------
def test_pass_order_is_seeded_and_keeps_stages():
    ops = [W.Op(f"a{i}", 0, None, None) for i in range(6)] + [
        W.Op(f"b{i}", 1, None, None) for i in range(3)
    ]
    order = [op.name for op in W.pass_order(ops, 7, 1)]
    assert order == [op.name for op in W.pass_order(ops, 7, 1)]
    assert {n[0] for n in order[:6]} == {"a"} and {n[0] for n in order[6:]} == {"b"}
    orders = {tuple(op.name for op in W.pass_order(ops, s, 1)) for s in range(10)}
    assert len(orders) > 1


# -- one planning per registry operation ---------------------------------------
class _FakeQE:
    """A JVM QueryExecution stand-in that counts how often it plans."""

    def __init__(self):
        self.plannings = 0
        self.rows_counted = 0
        self._planned = False

    def executedPlan(self):
        if not self._planned:
            self._planned = True
            self.plannings += 1
        return "plan"

    def toRdd(self):
        self.executedPlan()
        return types.SimpleNamespace(count=self._count)

    def _count(self):
        self.rows_counted += 1
        return 3

    def tracker(self):
        phase = types.SimpleNamespace(durationMs=lambda: 5)
        some = types.SimpleNamespace(isDefined=lambda: True, get=lambda: phase)
        return types.SimpleNamespace(phases=lambda: {"analysis": some, "optimization": some,
                                                     "planning": some})


class _FakeSc:
    def setLocalProperty(self, key, value):
        pass


@pytest.mark.parametrize("traced", [False, True])
def test_query_plans_once_and_runs_the_plan_it_reports(traced, tmp_path, monkeypatch):
    qe = _FakeQE()
    # No ``write`` attribute: a write command would build a second plan.
    df = types.SimpleNamespace(_jdf=types.SimpleNamespace(queryExecution=lambda: qe))
    registry = {"q1_x": types.SimpleNamespace(fn=lambda spark, sf_dir: df)}
    spark = types.SimpleNamespace(sparkContext=_FakeSc())
    monkeypatch.setattr(layers, "executor_totals", lambda sc: (0.0, 0.0))
    tracer = layers.Tracer(spark.sparkContext, enabled=traced)
    ctx = W.Ctx(spark, types.SimpleNamespace(registry=registry), "", str(tmp_path), {}, tracer)
    W.run_query(ctx, "q1_x")
    assert (qe.plannings, qe.rows_counted) == (1, 1)
    if traced:
        assert tracer.counts["catalyst.planning_s"] == pytest.approx(0.005)


# -- the scale-up ---------------------------------------------------------------
def test_scale_up_invariants_facts_times_r_and_dimensions_unchanged():
    src = {"region": 5, "nation": 25, "customer": 1500, "lineitem": 60000}
    good = {"region": 5, "nation": 25, "customer": 30000, "lineitem": 1200000}
    assert inputs.scaleup_errors(src, good, 20) == []
    assert inputs.scaleup_errors(src, dict(good, nation=500), 20) == ["nation: 500 rows, want 25"]
    assert inputs.scaleup_errors(src, dict(good, lineitem=60000), 20)
    assert inputs.scaleup_errors(src, {"region": 5}, 20)


def test_table_rows_reads_files_and_directories(tmp_path):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3]}), tmp_path / "region.parquet")
    (tmp_path / "orders.parquet").mkdir()
    for i in range(2):
        pq.write_table(pa.table({"k": [i] * 4}), tmp_path / "orders.parquet" / f"part-{i}.parquet")
    (tmp_path / ".scale_probe_built").write_text("src=x\n")
    assert inputs.table_rows(str(tmp_path)) == {"orders": 8, "region": 3}


def test_shipped_tables_match_the_scale_up_source():
    rows = inputs.table_rows(inputs.SMALL)
    assert set(rows) >= set(inputs.UNSCALED) | {"lineitem", "orders", "customer"}
    assert all(n > 0 for n in rows.values())


def test_benchmark_json_names_match_the_runner():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(W.WORKLOAD_NAMES)
