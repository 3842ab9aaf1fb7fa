"""Run the reference's OWN TPC-H test queries verbatim through the engine.

The files under presto-product-tests/.../hive_tpch/ are read from the
read-only reference checkout AT TEST TIME (never copied into this repo)
and executed twice: once on Spark via ``Engine.sql(dialect="presto")``
and once on DuckDB — per-cell approximate comparison (raw double sums
legitimately differ in merge order across engines, so this is a parity
check, not the bit-exact hash gate; the catalog's tpch_* entries pin
bit-exactness with decimal-sum formulations).

Queries referencing TPC-H columns the synthetic fixtures don't carry
(o_shippriority, l_commitdate, c_phone, …) or the absent partsupp table
skip with the reason recorded — an engine gap would surface as a FAIL,
a fixture gap as a SKIP.
"""

from __future__ import annotations

import glob
import os
import re

import pytest

from tests.conftest import parametrize_reference

REF_DIR = "/root/reference/presto-product-tests/src/main/resources/sql-tests/testcases/hive_tpch"

FIXTURE_TABLES = {
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
}


def _load_cases():
    cases = []
    for f in sorted(glob.glob(f"{REF_DIR}/q*.sql")):
        src = open(f).read()
        m = re.search(r"tables:\s*(.*)", src.splitlines()[0])
        tables = {t.strip() for t in (m.group(1) if m else "").split(",")}
        sql = "\n".join(
            line for line in src.splitlines() if not line.strip().startswith("--")
        ).rstrip().rstrip(";")
        cases.append((os.path.basename(f)[:-4], tables, sql))
    return cases


CASES = _load_cases() if os.path.isdir(REF_DIR) else []

AUG_TABLES = ("customer", "orders", "lineitem", "part", "supplier", "partsupp")


@pytest.fixture(scope="module")
def augmented(engine, oracle, tmp_path_factory):
    """Swap in REAL TPC-H sf0.01 views (dbgen via tests/tpch_real.py —
    spec-shaped data and selectivities, full schema incl. partsupp and
    comment columns) for the corpus module, restoring the driver's base
    views afterwards so other test modules see the trimmed schema they
    assert against.  Both engines read the same parquet — the corpus
    stays a pure engine-vs-engine differential."""
    from tests.tpch_real import build_tpch_real_dir

    aug_dir = build_tpch_real_dir("/tmp/spark_graft_tpch_real_sf0.01")
    for name in AUG_TABLES:
        engine.spark.read.parquet(f"{aug_dir}/{name}.parquet").createOrReplaceTempView(name)
        oracle.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{aug_dir}/{name}.parquet'")
    yield engine, oracle
    for name in AUG_TABLES:
        if name == "partsupp":
            engine.spark.catalog.dropTempView(name)
            oracle.execute("DROP VIEW partsupp")
        else:
            from prestodb_presto_spark.queries.util import t as load_table

            load_table(engine.spark, "/root/testdata/sf0.001", name).createOrReplaceTempView(name)
            oracle.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM"
                f" '/root/testdata/sf0.001/{name}.parquet'"
            )


def _oracle_dialect(sql: str) -> str:
    """DuckDB lacks Presto's date(x) constructor — spell literal calls as
    DATE literals."""
    return re.sub(r"\bdate\s*\(\s*'([^']+)'\s*\)", r"DATE '\1'", sql, flags=re.IGNORECASE)


@parametrize_reference("name,tables,sql", REF_DIR, CASES, ids=[c[0] for c in CASES])
def test_reference_tpch_query(augmented, name, tables, sql):
    engine, oracle = augmented
    # q15 is a script: CREATE VIEW; SELECT — run setup statements through
    # BOTH engines, compare the final one
    statements = [s for s in sql.split(";") if s.strip()]
    for setup in statements[:-1]:
        oracle.execute(_oracle_dialect(setup))
        engine.sql(setup, dialect="presto")
    final = statements[-1]
    exp = oracle.sql(_oracle_dialect(final)).fetchall()
    got = [tuple(r) for r in engine.sql(final, dialect="presto").collect()]
    assert len(got) == len(exp), f"{name}: {len(got)} rows vs oracle {len(exp)}"
    import decimal

    for grow, erow in zip(got, exp):
        for gv, ev in zip(grow, erow):
            # real dbgen money columns are DECIMAL: one engine may hand
            # back Decimal where the other computed float (avg/division)
            if isinstance(ev, (float, decimal.Decimal)) and isinstance(
                gv, (float, decimal.Decimal)
            ):
                assert float(gv) == pytest.approx(float(ev), rel=1e-6, abs=1e-6), (
                    name, grow, erow,
                )
            else:
                assert gv == ev, (name, grow, erow)
