from __future__ import annotations

import os
import sys

import plan_audits
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from data_etl_scripts_showcase__spark.session import get_session  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_session("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


def pytest_sessionfinish(session):
    if plan_audits.vacuous_audits():
        session.exitstatus = pytest.ExitCode.TESTS_FAILED


def pytest_terminal_summary(terminalreporter):
    """How many plans each engine-wide audit checked in the registry
    sweep (tests/test_oracle_equivalence.py); an audit that checked none
    although the sweep ran a query it covers fails the session."""
    if not plan_audits.SWEPT:
        return
    terminalreporter.section("plan audits")
    for audit, exempt in plan_audits.EXEMPT.items():
        terminalreporter.line(
            f"{audit}: {plan_audits.CHECKED[audit]} checked, {len(exempt)} exempt"
        )
    for audit in plan_audits.vacuous_audits():
        terminalreporter.line(f"FAILED: the {audit} audit checked nothing", red=True)
