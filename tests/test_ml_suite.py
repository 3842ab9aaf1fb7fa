"""Reference ml_functions testcases (presto-product-tests/.../ml_functions)
vs their own inline goldens.  MLFunctions.java SQL surface
(features/learn_classifier/classify) — the dialect maps the model to the
collected training set with 1-NN classification (deviation documented in
dialect.py; the reference's SVM agrees on these single-example cases).
DataFrame-level ML (real libsvm-style training) lives in ml.py and is
covered by tests/test_ml_geo.py."""

from __future__ import annotations

import glob
import os

from tests.conftest import parametrize_reference

REF_DIR = "/root/reference/presto-product-tests/src/main/resources/sql-tests/testcases/ml_functions"

CASES = sorted(glob.glob(f"{REF_DIR}/*.sql")) if os.path.isdir(REF_DIR) else []


def _parse(path: str):
    mode, sql_lines, rows = None, [], []
    for line in open(path).read().splitlines():
        s = line.strip()
        if s.startswith("--!"):
            mode = "sql" if mode is None else "rows"
        elif mode == "sql" and not s.startswith("--"):
            sql_lines.append(line)
        elif mode == "rows" and s and not s.startswith("--"):
            rows.append(tuple(c.strip() for c in s.rstrip("|").split("|")))
    return "\n".join(sql_lines).strip().rstrip(";"), rows


@parametrize_reference(
    "sql_file", REF_DIR, CASES, ids=[os.path.basename(f)[:-4] for f in CASES]
)
def test_ml_case(engine, sql_file):
    sql, expected = _parse(sql_file)
    got = [tuple(str(v) for v in r) for r in engine.sql(sql, dialect="presto").collect()]
    assert got == expected, f"{got} vs {expected}"
