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


def require_reference(*paths: str) -> None:
    """Skip the calling test or fixture when any of ``paths`` (inputs
    read from the reference checkout) does not exist."""
    for path in paths:
        if not os.path.exists(path):
            pytest.skip(f"{_REFERENCE_ABSENT}: {path} not found")


def pytest_terminal_summary(terminalreporter):
    n = sum(
        _REFERENCE_ABSENT in str(rep.longrepr)
        for rep in terminalreporter.stats.get("skipped", [])
    )
    if n:
        terminalreporter.write_line(
            f"{n} reference-derived cases not run (checkout absent)"
        )
