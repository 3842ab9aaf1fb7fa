"""Run the reference's OWN TPC-DS testcases (presto-product-tests/.../
tpcds/q*.sql, 103 files) through the engine, differentially against
DuckDB over a shared deterministic dsdgen dataset (tests/tpcds_fixture).

The queries are the reference's Presto-dialect renderings of TPC-DS —
fully double-quoted identifiers (including function names), DECIMAL
literals, correlated subqueries, ROLLUP/GROUPING SETS, windows — so this
suite exercises the dialect layer and the engine's decorrelation surface
at once.  The reference's .result files encode its own CI dataset, which
dsdgen(sf=0.01) does not reproduce; the DuckDB differential replaces
them (same pattern as the hive_tpch corpus).

Cells are compared positionally (auto-generated column names differ) and
decimals numerically (engines pick different result scales for decimal
avg/division).
"""

from __future__ import annotations

import glob
import os

import pytest

from prestodb_presto_spark.testing import norm_cell
from tests.conftest import parametrize_reference

# r14 (VERDICT #6): golden/fuzz suite — excluded from the default
# driver-window run; see pytest.ini (duckdb dsdgen fixture generation + TPC-DS shapes (~25 s)).
pytestmark = pytest.mark.slow

REF_DIR = "/root/reference/presto-product-tests/src/main/resources/sql-tests/testcases/tpcds"

# round 9: the SKIP dict is empty — q90's data degeneracy (dsdgen
# sf<=0.1 has no web_page rows with wp_char_count in 5000-5200, so the
# pm denominator was 0 and Presto itself would raise Division by zero)
# is closed by the fixture's deterministic wp_char_count augmentation
# (tests/tpcds_fixture.py) — all 103 reference renderings now run
# end-to-end differentially.
SKIP: dict[str, str] = {}

CASES = sorted(glob.glob(f"{REF_DIR}/q*.sql")) if os.path.isdir(REF_DIR) else []


def _num_cell(v):
    """norm_cell, but every numeric (Decimal AND float) compares at 6
    significant digits: the engines pick different result SCALES for
    decimal avg/division (Spark truncates to decimal(p,6); DuckDB keeps
    more digits and returns float), so values legitimately differ past
    the coarser scale.  Sums/counts are exact well inside 6 digits."""
    import decimal
    import math

    if isinstance(v, (decimal.Decimal, float)) and not isinstance(v, bool):
        f = float(v)
        if f == 0 or not math.isfinite(f):
            return ("f", 0.0 if f == 0 else str(f), f)
        # element [1] (6-sig rounding) drives the sort; element [2]
        # carries the raw value for the tolerance equality check
        return ("f", round(f, 6 - 1 - int(math.floor(math.log10(abs(f))))), f)
    return norm_cell(v)


def compare_rows(sdf, con, sql) -> str | None:
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(sql)
    orows = res.fetchall()
    if len(srows) != len(orows):
        return f"rowcount {len(srows)} vs {len(orows)}"
    a = sorted(tuple(_num_cell(v) for v in r) for r in srows)
    b = sorted(tuple(_num_cell(v) for v in r) for r in orows)
    # pairwise with relative tolerance: fixed-precision rounding has
    # boundary cases (1.545455 rounds apart at the 6th digit when the
    # engines' decimal scales differ upstream)
    import math

    def cell_ok(x, y):
        if x == y:
            return True
        if x[0] == y[0] == "f" and len(x) == len(y) == 3:
            # scale-6 decimal truncation bounds the legitimate gap at
            # 1e-6 absolute (plus float noise relative)
            return math.isclose(x[2], y[2], rel_tol=1e-5, abs_tol=2e-6)
        return False

    bad = [
        (x, y)
        for x, y in zip(a, b)
        if not (len(x) == len(y) and all(cell_ok(u, v) for u, v in zip(x, y)))
    ][:2]
    if bad:
        return f"value mismatch, e.g. {bad}"
    return None


@pytest.fixture(scope="module")
def tpcds_env(engine, oracle, tmp_path_factory):
    from tests.tpcds_fixture import TPCDS_TABLES, build_tpcds_dir

    d = build_tpcds_dir(str(tmp_path_factory.mktemp("tpcds")))
    spark = engine.spark
    for name in TPCDS_TABLES:
        spark.read.parquet(f"{d}/{name}.parquet").createOrReplaceTempView(name)
        oracle.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{d}/{name}.parquet'"
        )
    yield engine, oracle
    for name in TPCDS_TABLES:
        spark.catalog.dropTempView(name)
        oracle.execute(f"DROP VIEW IF EXISTS {name}")
    # `customer` collides with the TPC-H fixture schema other modules
    # use — restore the session-level base view both engines started with
    from prestodb_presto_spark.queries.util import t as load_table

    load_table(spark, "/root/testdata/sf0.001", "customer").createOrReplaceTempView("customer")
    oracle.execute(
        "CREATE OR REPLACE VIEW customer AS SELECT * FROM"
        " '/root/testdata/sf0.001/customer.parquet'"
    )


@parametrize_reference(
    "sql_file", REF_DIR, CASES, ids=[os.path.basename(f)[:-4] for f in CASES]
)
def test_tpcds_query(tpcds_env, sql_file):
    name = os.path.basename(sql_file)[:-4]
    if name in SKIP:
        pytest.skip(SKIP[name])
    engine, oracle = tpcds_env
    src = open(sql_file).read()
    sql = "\n".join(
        l for l in src.splitlines() if not l.strip().startswith("--")
    ).strip().rstrip(";")
    sdf = engine.sql(sql, dialect="presto")
    # DuckDB defaults DESC to NULLS LAST where Presto says NULLS FIRST —
    # make the oracle's null placement explicit with the same rewrite the
    # engine dialect applies
    from prestodb_presto_spark.dialect import _order_by_nulls

    err = compare_rows(sdf, oracle, _order_by_nulls(sql))
    assert err is None, f"{name}: {err}"
