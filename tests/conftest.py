from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from prestodb_presto_spark.session import get_spark

    s = get_spark("pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def oracle():
    from prestodb_presto_spark.testing import duckdb_oracle

    return duckdb_oracle(SF_TINY)


@pytest.fixture(scope="session")
def engine(spark):
    from prestodb_presto_spark.engine import Engine

    return Engine(spark, SF_TINY)


# Some suites read their inputs from a checkout of the reference
# repository at test time.  Each one calls require_reference on the path
# it reads; without the checkout the test skips with that reason, and the
# session ends with one line counting the cases that did not run.
_REFERENCE_ABSENT = "reference checkout absent"


def _absent_reason(path: str) -> str | None:
    if os.path.exists(path):
        return None
    return f"{_REFERENCE_ABSENT}: {path} not found"


def require_reference(*paths: str) -> None:
    """Skip the calling test or fixture when any of ``paths`` (inputs
    read from the reference checkout) does not exist."""
    for path in paths:
        reason = _absent_reason(path)
        if reason:
            pytest.skip(reason)


def parametrize_reference(argnames: str, path: str, cases, ids):
    """``pytest.mark.parametrize`` over ``cases`` read from ``path`` in
    the reference checkout.  Without the checkout the suite gets one
    case, skipped with require_reference's reason before any fixture
    runs, so it is counted at session end instead of collecting
    nothing."""
    reason = _absent_reason(path)
    if reason is None:
        return pytest.mark.parametrize(argnames, cases, ids=ids)
    nargs = len(argnames.split(","))
    absent = pytest.param(
        *[None] * nargs, id="reference-absent", marks=pytest.mark.skip(reason=reason)
    )
    return pytest.mark.parametrize(argnames, [absent])


def pytest_terminal_summary(terminalreporter):
    n = sum(
        _REFERENCE_ABSENT in str(rep.longrepr)
        for rep in terminalreporter.stats.get("skipped", [])
    )
    if n:
        terminalreporter.write_line(
            f"{n} reference-derived cases not run (checkout absent)"
        )
