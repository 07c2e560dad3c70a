"""The registry sweep: every registered query built and run exactly once.

Each case runs the query at the smoke scale factor and compares it with
its DuckDB oracle — the comparison `python tools/check_correctness.py`
makes at sf0.01.
The same build then feeds every engine-wide per-query check
(``plan_audits``): the output-schema lint, the cartesian / global-window /
payload-shuffle / content-broadcast audits over the executed plan and its
checkpoint segments, and a guard that no join hint was discarded while building.
"""

from __future__ import annotations

import os
import sys

import plan_audits
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_correctness import compare, duck_connection  # noqa: E402

from data_etl_scripts_showcase__spark import ckpt  # noqa: E402
from data_etl_scripts_showcase__spark.queries import FRAGMENTS, load_all  # noqa: E402

REGISTRY = load_all()
HINT_LOGGER = "org.apache.spark.sql.catalyst.analysis.HintErrorLogger"


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duck_connection(sf_dir)


@pytest.fixture(scope="module")
def hint_log(spark):
    """Everything Spark's HintErrorLogger says while the sweep runs: a
    hint Spark discarded (not on a join input, unsupported strategy) is
    a plan pin that silently stopped holding."""
    log4j = spark._jvm.org.apache.logging.log4j
    writer = spark._jvm.java.io.StringWriter()
    appender = log4j.core.appender.WriterAppender.createAppender(
        log4j.core.layout.PatternLayout.createDefaultLayout(),
        None, writer, "hint-guard", False, True,
    )
    appender.start()
    logger = log4j.LogManager.getLogger(HINT_LOGGER)
    logger.addAppender(appender)
    log4j.core.config.Configurator.setLevel(HINT_LOGGER, log4j.Level.WARN)
    yield writer
    logger.removeAppender(appender)
    appender.stop()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_equivalence(spark, sf_dir, duck, hint_log, name):
    q = REGISTRY[name]
    plan_audits.SWEPT.add(name)
    hint_log.getBuffer().setLength(0)
    with ckpt.capture() as segments:
        df = q.fn(spark, sf_dir)
        got = df.toPandas()
        audited = df
        if name in FRAGMENTS:  # the frame that ran sits behind an action
            segments.clear()
            audited = FRAGMENTS[name](spark, sf_dir)
        plans = [("final", audited._jdf.queryExecution().executedPlan()), *segments]
        errs = plan_audits.audit(name, df.schema, plans)
    if q.oracle is not None:
        errs += compare(name, got, duck.execute(q.oracle).df())
    errs += [f"discarded hint: {ln}" for ln in hint_log.toString().splitlines()]
    assert not errs, f"{name}: " + "; ".join(errs)


def test_hint_guard_catches_a_discarded_hint(spark, sf_dir, hint_log):
    """Negative control for the sweep's discarded-hint guard: a join hint
    on a relation that never reaches a join must show up in the log."""
    from data_etl_scripts_showcase__spark.sources import load_table

    region = load_table(spark, sf_dir, "region")
    hint_log.getBuffer().setLength(0)
    region.hint("shuffle_hash").unionByName(region).collect()
    assert "not part of a join relation" in hint_log.toString()
