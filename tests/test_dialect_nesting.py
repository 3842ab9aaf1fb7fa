"""A call nested in a call of the same name, and a construct nested in
itself, translate at any depth (dialect._rewrite: innermost first).

Each case runs through Engine.sql(dialect="presto") and is compared
with the value Presto returns.  In the sf0.001 fixture a nation's
region is n_nationkey % 5.
"""

from __future__ import annotations

import pytest

from prestodb_presto_spark.dialect import translate


def _plain(v):
    """Collected Spark values as plain Python: Row → tuple, map → dict."""
    if isinstance(v, tuple):  # Row
        return tuple(_plain(x) for x in v)
    if isinstance(v, list):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {_plain(k): _plain(x) for k, x in v.items()}
    return v


def _wrap(v, times: int):
    for _ in range(times):
        v = (v,)
    return v


def _six(fmt: str, inner: str, sizes=range(1, 7)) -> str:
    for n in sizes:
        inner = fmt.format(inner, n)
    return inner


CASES = {
    # Spark's greatest skips the NULL the inner call returns
    "greatest": ("SELECT greatest(greatest(CAST(NULL AS BIGINT), 1), 0)", [(None,)]),
    # the inner repeat was Spark's string repeat
    "repeat": ("SELECT repeat(repeat(1, 2), 2)", [([[1, 1], [1, 1]],)]),
    # the inner call returned Spark's group 1 and '' on no match
    "regexp_extract": (
        "SELECT regexp_extract(regexp_extract('xaby', 'a(b)'), 'a')",
        [("a",)],
    ),
    "bitwise_and": ("SELECT bitwise_and(bitwise_and(5, 3), 1)", [(1,)]),
    "to_hex": ("SELECT to_hex(from_hex(to_hex(to_utf8('a'))))", [("61",)]),
    "truncate": ("SELECT truncate(truncate(CAST(-1.57 AS DOUBLE), 1))", [(-1.0,)]),
    "row_six_deep": ("SELECT " + _six("row({})", "1, 2"), [(_wrap((1, 2), 5),)]),
    "map_six_deep": (
        "SELECT " + _six("MAP(ARRAY[1], ARRAY[{}])", "7"),
        [({1: {1: {1: {1: {1: {1: 7}}}}}},)],
    ),
    "cast_varchar_six_deep": (
        "SELECT " + _six("CAST({} AS VARCHAR({}))", "'abcdefgh'"),
        [("a",)],
    ),
    "try_cast_six_deep": (
        "SELECT " + _six("TRY_CAST({} AS VARCHAR({}))", "'abcdefgh'"),
        [("a",)],
    ),
    # EXISTS (SELECT .. WHERE c) with no FROM folds; it used to be
    # skipped inside an EXISTS subquery that has a FROM
    "exists_in_exists": (
        "SELECT r_regionkey FROM region ORDER BY EXISTS (SELECT 1 FROM nation"
        " WHERE n_regionkey = r_regionkey ORDER BY EXISTS (SELECT 1 WHERE"
        " n_nationkey = 0)), r_regionkey",
        [(0,), (1,), (2,), (3,), (4,)],
    ),
    # (SELECT expr) with no FROM collapses; it used to be skipped inside
    # a scalar subquery that has a FROM
    "scalar_subquery_in_subquery": (
        "SELECT (SELECT max(n_nationkey) FROM nation WHERE n_regionkey ="
        " (SELECT r.r_regionkey)) FROM region r ORDER BY 1",
        [(20,), (21,), (22,), (23,), (24,)],
    ),
    # a lambda VALUES list inside a VALUES list that was rewritten first
    "values_lambda_in_values": (
        "SELECT * FROM (VALUES (1, (SELECT cardinality(y) FROM (VALUES"
        " transform(ARRAY[1, 2], v -> v * 10)) AS t(y)))) AS u(a, b)",
        [(1, 2)],
    ),
    # a parenthesized join holding an UNNEST, inside a FROM subquery
    "join_parens_in_subquery": (
        "SELECT count(*) FROM (SELECT * FROM (nation CROSS JOIN"
        " UNNEST(ARRAY[1, 2]) AS u(x)))",
        [(50,)],
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_nested_occurrence_matches_presto(engine, name):
    sql, want = CASES[name]
    got = [_plain(tuple(r)) for r in engine.sql(sql, dialect="presto").collect()]
    assert got == want, translate(sql)


@pytest.mark.parametrize(
    "sql",
    [
        # the UNNEST lowering's LATERAL VIEW cannot sit inside parens
        "SELECT count(*) FROM (nation CROSS JOIN UNNEST(ARRAY[1, 2]) AS u(x))",
        # Spark parses a parenthesized join itself
        "SELECT count(*) FROM (nation JOIN region ON n_regionkey = r_regionkey)",
    ],
)
def test_parenthesized_join_runs(engine, sql):
    want = 50 if "UNNEST" in sql else 25
    assert engine.sql(sql, dialect="presto").collect()[0][0] == want


def test_parenthesized_join_without_unnest_keeps_its_parens():
    sql = "SELECT count(*) FROM (nation JOIN region ON n_regionkey = r_regionkey)"
    assert translate(sql) == sql


def test_timezone_fields_one_rewrite_per_name():
    """timezone_hour/minute over a plain timestamp, over AT TIME ZONE,
    and as the EXTRACT(TIMEZONE_HOUR ..) lowering."""
    off = (
        "(unix_timestamp(from_utc_timestamp(CAST(ts AS TIMESTAMP),"
        " current_timezone())) - unix_timestamp(CAST(ts AS TIMESTAMP)))"
    )
    zoned = (
        "(unix_timestamp(from_utc_timestamp(ts, 'Asia/Kolkata'))"
        " - unix_timestamp(ts))"
    )
    assert translate(
        "SELECT timezone_hour(ts), timezone_minute(ts AT TIME ZONE"
        " 'Asia/Kolkata'), extract(TIMEZONE_HOUR FROM ts) FROM t"
    ) == (
        f"SELECT CAST({off} / 3600 AS BIGINT),"
        f" CAST(({zoned} % 3600) / 60 AS BIGINT),"
        f" CAST({off} / 3600 AS BIGINT) FROM t"
    )


def test_timezone_hour_of_plain_timestamp_is_session_offset(engine):
    rows = engine.sql(
        "SELECT timezone_hour(ts), timezone_minute(ts) FROM"
        " (SELECT TIMESTAMP '2020-01-01 00:00:00' AS ts)",
        dialect="presto",
    ).collect()
    assert [tuple(r) for r in rows] == [(0, 0)]
