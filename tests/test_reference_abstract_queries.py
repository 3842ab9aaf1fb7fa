"""Run the reference's OWN end-to-end SQL suites differentially.

AbstractTestQueries.java (8096 lines, 505 @Test methods) and
AbstractTestAggregations.java are the reference's core correctness
asset (SURVEY.md §5 layer 2): every SQL feature over the TPC-H ``tiny``
catalog, checked against H2 (H2QueryRunner.java:88,
QueryAssertions.java:75).  tests/abstract_queries_scrape.py scrapes
their assertQuery / assertQueryOrdered / assertQueryReturnsEmptyResult
statements from the read-only checkout (1318 runnable cases) and this
module executes each through Engine.sql(dialect="presto") against real
dbgen sf0.01 data — which IS tpch.tiny — comparing to DuckDB running
the same SQL (1-arg form) or the reference's own expected SQL (2-arg
form), exactly the reference's H2 differential pattern.

Current state: **ALL 1318 scrapeable cases pass** the full
differential (AbstractTestIndexedQueries 40/40 and
AbstractTestIntegrationSmokeTest 14/14 included — index joins are a
physical strategy; the SQL must hold on any engine).  Every case has a
runnable oracle (the last 7 H2-lax statements got hand-written DuckDB
equivalents in oracle_compat — see _HAND_TRANSLATIONS).  Round 8
closed the final case (approx_percentile with a non-foldable COLUMN
fraction) via the native qdigest selection rule with
any_value(fraction), and lowered approx_distinct / checksum /
cardinality(approx_set) onto native-plan parity forms.  Round 7
closed the last big families: all 29 testApproximateCountDistinct
cases via the clean-room airlift-HLL-parity approx_distinct, and
testChecksum via the Type.hash * PRIME64 checksum parity UDAF
(prestodb_presto_spark/functions/hll.py, tests/test_hll_parity.py).  Also closed in
round 6: grouping() in ORDER BY (hoisted through the grouped
projection), MAP IN-lists (canonical sorted entry arrays), and the
sys.example system table (synthesized in Engine.sql), and the
mixed output/input-scope ORDER BY item (_order_by_mixed_scope_compat).
Round 6 closed the entire Catalyst-decorrelation family (12 cases):
derived-table scalar wrapper flattening, correlated scalar subqueries
hoisted out of GROUP BY / grouped select lists, INNER JOIN ON
conditions with subqueries rewritten to CROSS JOIN + WHERE, the ORDER
BY hoist extended to mixed unnamed projections, and zero-arg count().
Earlier rounds closed the 3VL-in-projection existence-join family
(_in_subquery_3vl_compat), no-FROM EXISTS/scalar-subquery folds,
ORDER BY subquery hoisting, TRY(to_base), runtime ROW→JSON positional
rendering, BIGINT subscript narrowing, parenthesized-join FROM
relations, and (ROW(x)) VALUES items.
The floors make any regression (or silently-lost oracle) fail loudly.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from prestodb_presto_spark.testing import _tolerant_cell as _tc0
from tests.abstract_queries_scrape import REF_TESTS_DIR, oracle_compat, scrape
from tests.conftest import require_reference

# r14 (VERDICT #6): golden/fuzz suite — excluded from the default
# driver-window run; see pytest.ini (reference AbstractTestQueries scrape-and-replay (~6.5 min)).
pytestmark = pytest.mark.slow

PASS_FLOOR = 1318
ORACLE_UNRUNNABLE_MAX = 3

# method → (max allowed non-passing cases, recorded cause).  A failure
# in any OTHER method, or above these counts, is a regression.
ALLOWED = {
    # engine-defined values (documented deviations, tolerance-gated
    # elsewhere)
    # (testApproximateCountDistinct — the whole 29-case family — closed
    # round 7 by the clean-room airlift-HLL parity implementation:
    # functions/hll.py + the _approx_distinct_rewrite dialect route +
    # the timestamp->TIME cast lowering; tests/test_hll_parity.py pins
    # every assertion value)
    # (testChecksum closed round 7: presto_checksum reproduces
    # ChecksumAggregationFunction's Type.hash * PRIME64 wrapping sum
    # bit-exactly — functions/hll.py, tests/test_hll_parity.py)
    # (the whole Catalyst-decorrelation family — correlated scalar agg
    # two levels deep, correlated EXISTS through a derived table,
    # scalar/IN subqueries inside JOIN ON — is closed by round 6's
    # _derived_scalar_wrapper_flatten, _group_by_scalar_subquery_hoist,
    # _join_on_subquery_compat, and the mixed-projection ORDER BY hoist)
    # (testInUncorrelatedSubquery's MAP IN closed by _map_in_compat;
    # testGrouping's ORDER BY grouping() closed by the grouped-projection
    # hoist; testExampleSystemTable closed by Engine.sql sys.example)
    # (the 3VL IN-subquery-in-projection family — testSemiJoin*NullHandling,
    # testNullOnLhsOfInPredicateAllowed, testCorrelatedInPredicateSubqueries —
    # is fully closed by dialect._in_subquery_3vl_compat)
    # (testOrderByWithOutputColumnReference's mixed-scope sort item is
    # closed by _order_by_mixed_scope_compat: input columns projected
    # alongside the output aliases, then the window hoist applies)
    # (testGroupingInTableSubquery closed by the scope-aware
    # _grouping_plain_scope_fold)
    # (the grouping-sets-over-empty-input family is closed by
    # dialect._empty_grouping_sets_compat: () sets split off as global
    # aggregations, which always emit their row)
    # (REAL = DECIMAL coercion closed by _real_decimal_cmp_compat)
    # (testQualifiedWildcardFromJoin closed by
    # _using_join_wildcard_compat: statically-known derived-table column
    # lists let the wildcard expand minus the using columns)
    # (TRY(MAP null key) / TRY over OR / VALUES-lambda rows all closed
    # by shim + dialect rewrites)
    # (testAggregationWithSomeArgumentCasts — approx_percentile with a
    # COLUMN percentage — closed round 8: a bare-identifier fraction
    # routes to the native qdigest pick with any_value(fraction),
    # which, being a JVM aggregate composition, mixes with AVG/MIN in
    # the same query level)
}

TINY = ("region", "nation", "customer", "supplier", "part", "partsupp",
        "orders", "lineitem")


def _strip(cols):
    return [f"{c} AS {c.split('_', 1)[1]}" for c in cols]


@pytest.fixture(scope="module")
def aq_env(engine):
    """Bare-name, unprefixed-column views of REAL dbgen sf0.01 (what
    ``tpch.tiny`` means in the reference CI) in BOTH engines."""
    from tests.tpch_real import build_tpch_real_dir

    real_dir = build_tpch_real_dir("/tmp/spark_graft_tpch_real_sf0.01")
    spark = engine.spark

    def fresh_con():
        c = duckdb.connect()
        for name in TINY:
            cols = [
                d[0]
                for d in duckdb.connect()
                .execute(f"SELECT * FROM '{real_dir}/{name}.parquet' LIMIT 0")
                .description
            ]
            c.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT"
                f" {', '.join(_strip(cols))} FROM '{real_dir}/{name}.parquet'"
            )
        return c

    for name in TINY:
        df = spark.read.parquet(f"{real_dir}/{name}.parquet")
        df.selectExpr(*_strip(df.columns)).createOrReplaceTempView(name)

    yield engine, fresh_con

    from prestodb_presto_spark.queries.util import t as load_table

    for name in ("nation", "region", "customer", "supplier", "part",
                 "orders", "lineitem"):
        load_table(spark, "/root/testdata/sf0.001", name).createOrReplaceTempView(name)
    spark.catalog.dropTempView("partsupp")


def _cell(v):
    # H2QueryRunner coerces numerics (and booleans print as 0/1 in its
    # VALUES expectations); unify the same way
    if isinstance(v, bool):
        return _tc0(1.0 if v else 0.0)
    if isinstance(v, int):
        return _tc0(float(v))
    return _tc0(v)


def _compare(sdf, con, oracle_sql, ordered):
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(oracle_sql)
    orows = res.fetchall()
    if len(srows) == 0 and len(orows) == 0:
        return None  # row-list compare, like assertEqualsIgnoreOrder
    if len(sdf.columns) != len(res.description):
        return f"column count {len(sdf.columns)} vs {len(res.description)}"
    if len(srows) != len(orows):
        return f"rowcount {len(srows)} vs {len(orows)}"
    a = [tuple(_cell(v) for v in r) for r in srows]
    b = [tuple(_cell(v) for v in r) for r in orows]
    if not ordered:
        a, b = sorted(a), sorted(b)

    def cell_ok(x, y):
        if x == y:
            return True
        if x[0] == y[0] == "f" and len(x) == len(y) == 3:
            return math.isclose(x[2], y[2], rel_tol=1e-5, abs_tol=2e-6)
        return False

    bad = [
        (x, y)
        for x, y in zip(a, b)
        if not (len(x) == len(y) and all(cell_ok(u, v) for u, v in zip(x, y)))
    ][:2]
    return f"value mismatch, e.g. {bad}" if bad else None


def test_reference_abstract_queries(aq_env):
    require_reference(REF_TESTS_DIR)
    cases = list(scrape())
    engine, fresh_con = aq_env
    con = fresh_con()
    passed = 0
    oracle_unrunnable = 0
    failed: dict[str, list[str]] = {}
    for fname, method, k, kind, actual, expected in cases:
        cid = f"{method}[{k}]"
        try:
            sdf = engine.sql(actual, dialect="presto")
            if kind == "empty":
                if sdf.count() == 0:
                    passed += 1
                else:
                    failed.setdefault(method, []).append(cid + ": not empty")
                continue
            sdf.columns
        except Exception as e:
            failed.setdefault(method, []).append(f"{cid}: {type(e).__name__}")
            continue
        osql = oracle_compat(expected if expected is not None else actual)
        try:
            con.execute(osql).fetchall()
        except (duckdb.InternalException, duckdb.FatalException):
            con = fresh_con()  # a DuckDB internal error poisons the conn
            oracle_unrunnable += 1
            continue
        except duckdb.Error:
            oracle_unrunnable += 1
            continue
        try:
            err = _compare(sdf, con, osql, ordered=(kind == "ordered"))
        except Exception as e:
            failed.setdefault(method, []).append(f"{cid}: exec {type(e).__name__}")
            continue
        if err is None:
            passed += 1
        else:
            failed.setdefault(method, []).append(f"{cid}: {err[:120]}")

    regressions = []
    for method, cases_failed in sorted(failed.items()):
        limit, _reason = ALLOWED.get(method, (0, ""))
        if len(cases_failed) > limit:
            regressions.append(
                f"{method}: {len(cases_failed)} > allowed {limit}: "
                f"{cases_failed[:3]}"
            )
    assert not regressions, f"abstract-queries regressions: {regressions}"
    assert passed >= PASS_FLOOR, f"pass count fell: {passed} < {PASS_FLOOR}"
    assert oracle_unrunnable <= ORACLE_UNRUNNABLE_MAX, (
        f"oracle lost queries it used to run: {oracle_unrunnable}"
    )
