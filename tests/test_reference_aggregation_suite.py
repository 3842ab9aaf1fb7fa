"""Run the reference's assertAggregation unit tests differentially.

presto-main's operator/aggregation/Test*.java drive aggregate
implementations over literal value blocks:

    assertAggregation(LONG_APPROXIMATE_PERCENTILE_AGGREGATION, 2L,
        createLongsBlock(1L, 2L, 3L), createRLEBlock(0.5, 3));

The scrape resolves each handle variable to its Signature name, parses
the literal block constructors into typed VALUES columns, and runs
``SELECT <fn>(c0, ...) FROM (VALUES ...)`` through
Engine.sql(dialect="presto"), comparing to the expected literal.
Constant RLE blocks (percentile/accuracy arguments) inline as literal
arguments — they are constant per row by construction.  Cases with
computed expectations (expectedChecksum(..)) or exotic block builders
are out of scope and skipped by parsing.
"""

from __future__ import annotations

import glob
import math
import re
from decimal import Decimal

from tests.conftest import require_reference
from tests.reference_literals import parse_expected, _split_top_args

REF_AGG_DIR = (
    "/root/reference/presto-main/src/test/java/com/facebook/presto"
    "/operator/aggregation"
)

_HANDLE_DECL = re.compile(
    r"(\w+)\s*=\s*metadata[\s\S]{0,200}?new Signature\(\s*\"(\w+)\"",
)
_ASSERT_AGG = re.compile(r"assertAggregation\(")
_BLOCK = re.compile(r"^create(\w+?)Blocks?\s*\(", re.IGNORECASE)

_BLOCK_TYPES = {
    "Longs": "BIGINT",
    "Ints": "INT",
    "Doubles": "DOUBLE",
    "Booleans": "BOOLEAN",
    "Strings": "STRING",
}


def _scan_call(src: str, open_idx: int) -> int | None:
    i, depth, n = open_idx, 0, len(src)
    while i < n:
        c = src[i]
        if c == '"':
            i += 1
            while i < n and src[i] != '"':
                if src[i] == "\\":
                    i += 1
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return None


def _parse_value(tok: str):
    """(ok, value) of a block element literal."""
    t = tok.strip()
    t = re.sub(r"^\(\s*(?:Long|Integer|Double|Boolean|String)\s*\)\s*", "", t)
    if t == "null":
        return True, None
    if t in ("true", "false"):
        return True, t == "true"
    if re.fullmatch(r"[+-]?\d+L?", t):
        return True, int(t.rstrip("L"))
    if re.fullmatch(r"[+-]?(\d+\.\d*([eE][+-]?\d+)?|\d+[eE][+-]?\d+)", t):
        return True, float(t)
    m = re.fullmatch(r'"((?:[^"\\]|\\.)*)"', t)
    if m:
        return True, m.group(1).replace('\\"', '"')
    return False, None


def _parse_block(text: str):
    """Block ctor → ("col", sql_type, [values]) | ("const", sql_literal)
    | None."""
    t = text.strip()
    m = _BLOCK.match(t)
    if not m or not t.endswith(")"):
        return None
    kind = m.group(1)
    inner = t[m.end() : -1]
    args = _split_top_args(inner) if inner.strip() else []
    if kind in _BLOCK_TYPES:
        vals = []
        for a in args:
            ok, v = _parse_value(a)
            if not ok:
                return None
            vals.append(v)
        return ("col", _BLOCK_TYPES[kind], vals)
    if kind == "RLE" and len(args) == 2:
        ok, v = _parse_value(args[0])
        if not ok or v is None:
            return None
        if isinstance(v, bool):
            return ("const", "TRUE" if v else "FALSE")
        if isinstance(v, float):
            return ("const", f"CAST('{v!r}' AS DOUBLE)")
        if isinstance(v, int):
            return ("const", str(v))
        return ("const", "'" + str(v).replace("'", "''") + "'")
    if kind == "LongRepeat" and len(args) == 2:
        ok, v = _parse_value(args[0])
        ok2, n = _parse_value(args[1])
        if not (ok and ok2 and isinstance(n, int)):
            return None
        return ("col", "BIGINT", [v] * n)
    if kind == "LongSequence" and len(args) == 2:
        ok, a0 = _parse_value(args[0])
        ok2, a1 = _parse_value(args[1])
        if not (ok and ok2):
            return None
        return ("col", "BIGINT", list(range(int(a0), int(a1))))
    if kind == "DoubleSequence" and len(args) == 2:
        ok, a0 = _parse_value(args[0])
        ok2, a1 = _parse_value(args[1])
        if not (ok and ok2):
            return None
        return ("col", "DOUBLE", [float(x) for x in range(int(a0), int(a1))])
    return None


def _sql_cell(v, sql_type: str) -> str:
    if v is None:
        return f"CAST(NULL AS {sql_type})"
    if sql_type == "BOOLEAN":
        return "TRUE" if v else "FALSE"
    if sql_type == "STRING":
        return "'" + str(v).replace("'", "''") + "'"
    if sql_type == "DOUBLE":
        return f"CAST('{float(v)!r}' AS DOUBLE)"
    return f"CAST({v} AS {sql_type})"


def scrape_aggregations():
    cases = []
    for path in sorted(glob.glob(f"{REF_AGG_DIR}/Test*.java")):
        src = open(path).read()
        fname = path.rsplit("/", 1)[-1]
        handles = dict(_HANDLE_DECL.findall(src))
        for m in _ASSERT_AGG.finditer(src):
            open_idx = src.index("(", m.start())
            close = _scan_call(src, open_idx)
            if close is None:
                continue
            args = _split_top_args(src[open_idx + 1 : close])
            args = [re.sub(r"\s+", " ", a).strip() for a in args]
            if len(args) < 3:
                continue
            fn = handles.get(args[0])
            if fn is None:
                # handle declared inline in the method, just above
                back = src[max(0, m.start() - 600) : m.start()]
                dm = None
                for dm in re.finditer(r'new Signature\(\s*"(\w+)"', back):
                    pass
                if dm is None:
                    continue
                fn = dm.group(1)
            ok, expected = parse_expected(args[1])
            if not ok:
                continue
            cols = []
            consts = []
            bad = False
            for b in args[2:]:
                pb = _parse_block(b)
                if pb is None:
                    bad = True
                    break
                if pb[0] == "col":
                    cols.append((pb[1], pb[2]))
                else:
                    consts.append(pb[1])
            if bad or not cols:
                continue
            n = len(cols[0][1])
            if any(len(c[1]) != n for c in cols):
                continue
            cases.append((fname, fn, cols, consts, expected, n))
    return cases


def _sql_for(fn, cols, consts, n) -> str:
    names = [f"c{i}" for i in range(len(cols))]
    arglist = ", ".join(names + consts)
    if n == 0:
        sel = ", ".join(
            f"CAST(NULL AS {t}) AS {nm}" for nm, (t, _) in zip(names, cols)
        )
        return (
            f"SELECT {fn}({arglist}) AS v FROM"
            f" (SELECT {sel}) WHERE 1 = 0"
        )
    rows = ", ".join(
        "(" + ", ".join(_sql_cell(c[1][i], c[0]) for c in cols) + ")"
        for i in range(n)
    )
    return (
        f"SELECT {fn}({arglist}) AS v FROM (VALUES {rows})"
        f" AS t({', '.join(names)})"
    )


def _matches(got, exp) -> bool:
    if exp is None:
        return got is None
    if isinstance(exp, bool):
        return got == exp
    if isinstance(exp, float):
        if got is None or not isinstance(got, (int, float, Decimal)):
            return False
        if math.isnan(exp):
            return isinstance(got, float) and math.isnan(got)
        return math.isclose(float(got), exp, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(exp, int):
        if isinstance(got, Decimal):
            return got == exp
        return got == exp and not isinstance(got, bool)
    if isinstance(exp, list):
        return (
            isinstance(got, (list, tuple))
            and len(got) == len(exp)
            and all(_matches(g, e) for g, e in zip(got, exp))
        )
    return str(got) == str(exp)


# exact-pass floors per reference aggregation test file.  ALL 32
# scrapeable cases pass since round 8: the weighted approx_percentile
# path uses the qdigest selection rule (smallest value whose cumulative
# weight strictly exceeds q * totalWeight — QuantileDigest.getQuantiles'
# member-element pick, e.g. 9900 where interpolation gives 9899.01),
# expressed natively as a sort_array(collect_list) + aggregate() fold
# (dialect._qdigest_pick_weighted).
PASS_FLOORS = {
    "TestApproximatePercentileAggregation.java": 22,
    "TestArbitraryAggregation.java": 9,
    "TestChecksumAggregation.java": 1,
}
OVERALL_FLOOR = 32  # of 32 scrapeable


def test_reference_aggregations(engine):
    require_reference(REF_AGG_DIR)
    cases = scrape_aggregations()
    passed: dict[str, int] = {}
    fails = []
    for fname, fn, cols, consts, expected, n in cases:
        sql = _sql_for(fn, cols, consts, n)
        try:
            got = engine.sql(sql, dialect="presto").collect()[0].v
        except Exception as e:
            fails.append((fname, fn, "ERR " + str(e)[:80]))
            continue
        if _matches(got, expected):
            passed[fname] = passed.get(fname, 0) + 1
        else:
            fails.append((fname, fn, f"{got!r} != {expected!r}"))
    for f, floor in PASS_FLOORS.items():
        assert passed.get(f, 0) >= floor, (f, passed.get(f, 0), floor)
    assert sum(passed.values()) >= OVERALL_FLOOR, (
        sum(passed.values()),
        fails[:6],
    )
