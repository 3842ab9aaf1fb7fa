"""Statements of the ``presto-sql-rw`` workload.

Every read is Presto-dialect SQL sent through ``Engine.sql(dialect=
"presto")`` and checked against a DuckDB oracle over the same parquet
files.  The corpus reads are the ``tests/sql_corpus`` cases, read from
their ``.sql`` files at run time.  Their ``.result`` goldens hold values
of the fixed TESTDATA.md tables, not of the generated ones, so
``CORPUS_ORACLES`` recomputes each case's expected rows on the generated
tables, in the case's order unless its golden says ``ignoreOrder: true``.
The other reads use the Presto-only spellings the dialect shim rewrites.

Every write group is a ``CREATE TABLE AS`` / ``INSERT INTO`` pair, a
read-back count checked against the oracle's count of both sources, and
a ``DROP TABLE``.
"""

from __future__ import annotations

import glob
import os

CORPUS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "sql_corpus")

# corpus case (its path under tests/sql_corpus, without .sql) → DuckDB
# oracle, with the case's ORDER BY spelled for DuckDB (NULLS LAST is its
# default, Spark's and Presto's is NULLS FIRST for ascending keys)
CORPUS_ORACLES: dict[str, str] = {
    "aggregate/distinct_counts": """SELECT o_orderstatus, count(DISTINCT o_orderpriority) AS n_prio,
       count(DISTINCT o_custkey) >= 1 AS has_customers
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "aggregate/nations_per_region": """SELECT r_name, count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name""",
    "datetime/order_date_fns": """SELECT count(*) AS n, strftime(max(o_orderdate), '%Y-%m-%d') AS last_day,
       date_diff('day', min(o_orderdate), max(o_orderdate)) AS span_days,
       strftime(max(o_orderdate) + INTERVAL 1 MONTH, '%Y-%m') AS next_month
FROM orders""",
    "grouping/rollup_priority": """SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "setop/region_keys": """SELECT n_regionkey AS k FROM nation WHERE n_nationkey < 10
INTERSECT SELECT n_regionkey FROM nation WHERE n_nationkey >= 5 ORDER BY k""",
    "string/segment_stats": """SELECT c_mktsegment, min(length(c_name)) AS min_len,
       max(strpos(c_name, '#')) AS max_us, count(*) AS n
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "subquery/exists_unmatched": """SELECT count(*) AS never_ordered FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
    "window/top_supplier_per_nation": """SELECT s_nationkey, s_suppkey FROM (
  SELECT s_nationkey, s_suppkey, row_number() OVER (
    PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rn
  FROM supplier) WHERE rn = 1 AND s_nationkey < 8 ORDER BY s_nationkey""",
}


def corpus_reads() -> list[tuple[str, str, str | None, bool]]:
    """(name, presto sql, duckdb oracle or None, ordered) per corpus case,
    loaded the way tests/test_sql_corpus.py loads them."""
    out = []
    for path in sorted(glob.glob(os.path.join(CORPUS_DIR, "*", "*.sql"))):
        case = os.path.relpath(path, CORPUS_DIR)[: -len(".sql")].replace(os.sep, "/")
        with open(path) as f:
            sql = "\n".join(line for line in f.read().splitlines() if not line.startswith("--"))
        try:
            with open(path[: -len(".sql")] + ".result") as f:
                ordered = "ignoreOrder: true" not in f.readline()
        except OSError:
            ordered = True
        out.append((f"corpus.{case}", sql, CORPUS_ORACLES.get(case), ordered))
    return out


# (name, presto sql, duckdb oracle, ordered)
PRESTO_READS: list[tuple[str, str, str, bool]] = [
    (
        "presto.split_cardinality",
        """SELECT lang, sum(cardinality(split(text, ' '))) AS words,
       count_if(element_at(split(text, ' '), 1) = 'the') AS lead_the
FROM documents GROUP BY lang""",
        """SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS words,
       count(*) FILTER (WHERE string_split(text, ' ')[1] = 'the') AS lead_the
FROM documents GROUP BY lang""",
        False,
    ),
    (
        "presto.array_join_agg",
        """SELECT n_regionkey, array_join(array_sort(array_agg(n_name)), ',') AS names
FROM nation GROUP BY n_regionkey""",
        """SELECT n_regionkey, array_to_string(list_sort(list(n_name)), ',') AS names
FROM nation GROUP BY n_regionkey""",
        False,
    ),
    (
        "presto.bool_aggs",
        """SELECT l_returnflag, count_if(l_discount > 0.05) AS c,
       bool_and(l_quantity > 0) AS all_pos, bool_or(l_tax > 0.07) AS any_tax
FROM lineitem GROUP BY l_returnflag""",
        """SELECT l_returnflag, count(*) FILTER (WHERE l_discount > 0.05) AS c,
       bool_and(l_quantity > 0) AS all_pos, bool_or(l_tax > 0.07) AS any_tax
FROM lineitem GROUP BY l_returnflag""",
        False,
    ),
    (
        "presto.json_scalar",
        """SELECT CAST(json_extract_scalar(props, '$.k') AS INTEGER) % 10 AS k10, count(*) AS n
FROM events GROUP BY 1""",
        """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k10, count(*) AS n
FROM events GROUP BY 1""",
        False,
    ),
    (
        "presto.regexp_like",
        """SELECT regexp_like(p_name, '^(blue|red) ') AS hit, count(*) AS n
FROM part GROUP BY 1""",
        """SELECT regexp_matches(p_name, '^(blue|red) ') AS hit, count(*) AS n
FROM part GROUP BY 1""",
        False,
    ),
    (
        "presto.unixtime",
        """SELECT event_type, to_unixtime(max(ts)) - to_unixtime(min(ts)) >= 0 AS ordered,
       CAST(floor(to_unixtime(min(ts)) / 86400) AS BIGINT) AS first_day
FROM events GROUP BY event_type""",
        """SELECT event_type, epoch(max(ts)) - epoch(min(ts)) >= 0 AS ordered,
       CAST(floor(epoch(min(ts)) / 86400) AS BIGINT) AS first_day
FROM events GROUP BY event_type""",
        False,
    ),
    (
        "presto.if_try_cast",
        """SELECT IF(c_acctbal > 0, 'pos', 'neg') AS sign,
       count(TRY_CAST(substr(c_name, 10) AS BIGINT)) AS numeric_names
FROM customer GROUP BY 1""",
        """SELECT CASE WHEN c_acctbal > 0 THEN 'pos' ELSE 'neg' END AS sign,
       count(TRY_CAST(substr(c_name, 10) AS BIGINT)) AS numeric_names
FROM customer GROUP BY 1""",
        False,
    ),
    (
        "presto.varchar_concat",
        """SELECT o_orderstatus, max(CAST(o_orderkey AS VARCHAR) || '-' || o_orderpriority) AS k
FROM orders GROUP BY o_orderstatus""",
        """SELECT o_orderstatus, max(CAST(o_orderkey AS VARCHAR) || '-' || o_orderpriority) AS k
FROM orders GROUP BY o_orderstatus""",
        False,
    ),
    (
        "presto.max_by_min_by",
        """SELECT c_mktsegment, max_by(c_custkey, c_acctbal * 1000 + c_custkey) AS rich,
       min_by(c_custkey, c_acctbal * 1000 - c_custkey) AS poor
FROM customer GROUP BY c_mktsegment""",
        """SELECT c_mktsegment, arg_max(c_custkey, c_acctbal * 1000 + c_custkey) AS rich,
       arg_min(c_custkey, c_acctbal * 1000 - c_custkey) AS poor
FROM customer GROUP BY c_mktsegment""",
        False,
    ),
    (
        "presto.lambdas",
        """SELECT p_size % 5 AS g,
       sum(reduce(transform(ARRAY[p_size, p_size + 1], x -> x * 2), 0, (s, x) -> s + x, s -> s)) AS r,
       sum(cardinality(filter(ARRAY[p_size, 10, 20], x -> x > 15))) AS f
FROM part GROUP BY 1""",
        """SELECT p_size % 5 AS g, CAST(sum(4 * p_size + 2) AS BIGINT) AS r,
       CAST(sum((p_size > 15)::INT + 1) AS BIGINT) AS f
FROM part GROUP BY 1""",
        False,
    ),
    (
        "presto.date_trunc_interval",
        """SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n,
       max(o_orderdate + INTERVAL '1' DAY) AS next_day
FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1""",
        """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m, count(*) AS n,
       max(o_orderdate + INTERVAL 1 DAY) AS next_day
FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1""",
        False,
    ),
    (
        "presto.revenue_by_flag",
        """SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS rev
FROM lineitem GROUP BY l_returnflag, l_linestatus""",
        """SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS rev
FROM lineitem GROUP BY l_returnflag, l_linestatus""",
        False,
    ),
    (
        "presto.join_top_orders",
        """SELECT c_custkey, o_orderkey, o_totalprice
FROM customer JOIN orders ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10""",
        """SELECT c_custkey, o_orderkey, o_totalprice
FROM customer JOIN orders ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
        True,
    ),
]

# (name, CREATE TABLE AS source, INSERT INTO source); the read-back must
# count the rows of both sources
WRITES: list[tuple[str, str, str]] = [
    (
        "status_priority",
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders GROUP BY 1, 2",
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders "
        "WHERE o_totalprice > 250000 GROUP BY 1, 2",
    ),
    (
        "big_lines",
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
        "WHERE l_quantity > 40",
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
        "WHERE l_quantity <= 2",
    ),
    (
        "doc_langs",
        "SELECT doc_id, lang, cardinality(split(text, ' ')) AS words FROM documents "
        "WHERE lang = 'en'",
        "SELECT doc_id, lang, cardinality(split(text, ' ')) AS words FROM documents "
        "WHERE lang = 'de'",
    ),
]


def write_group(name: str, table: str, create_src: str, insert_src: str):
    """The four statements of one write group, with the read-back's oracle."""
    return [
        (f"write.{name}.create", f"CREATE TABLE {table} AS {create_src}", None),
        (f"write.{name}.insert", f"INSERT INTO {table} {insert_src}", None),
        (
            f"write.{name}.readback",
            f"SELECT count(*) AS n FROM {table}",
            # both sources are Presto text that DuckDB also parses, apart
            # from split/cardinality, spelled the DuckDB way here
            "SELECT (SELECT count(*) FROM ({a})) + (SELECT count(*) FROM ({b})) AS n".format(
                a=_duck(create_src), b=_duck(insert_src)
            ),
        ),
        (f"write.{name}.drop", f"DROP TABLE {table}", None),
    ]


def _duck(presto_sql: str) -> str:
    return presto_sql.replace("cardinality(split(text, ' '))", "len(string_split(text, ' '))")
