"""Adversarial dialect fuzzing (round-5 verdict item 6).

dialect.translate() is ~60 scanner/rewrite passes over raw SQL text; the
risk class is generic user SQL that ALMOST matches a pass's pattern.
This module mutates the reference's own scraped statements (the broadest
available corpus of real Presto SQL) with semantics-preserving
transformations — whitespace explosion, keyword-bearing comment
injection, keyword case flips, derived-table wrapping — and asserts:

  1. structurally, on EVERY scraped statement x every mutation
     (~4000 cases): translate() never raises, never leaks a literal-mask
     byte, and keeps parens/quotes balanced outside literals;
  2. behaviorally, on a deterministic sample: the Spark result of the
     MUTATED statement still matches the DuckDB oracle of the original
     (mutations are semantics-preserving, so the golden is unchanged).

A mutation that changes behavior means a scanner read keywords out of a
comment, mis-tracked depth, or pattern-matched across whitespace — the
exact bug class ADVICE keeps finding one instance of at a time.
"""

from __future__ import annotations

import random
import re

import duckdb
import pytest

from prestodb_presto_spark.dialect import translate
from tests.abstract_queries_scrape import REF_TESTS_DIR, oracle_compat, scrape
from tests.conftest import require_reference
from tests.test_reference_abstract_queries import aq_env  # noqa: F401 — fixture

# r14 (VERDICT #6): golden/fuzz suite — excluded from the default
# driver-window run; see pytest.ini (randomized differential fuzz (~8 min)).
pytestmark = pytest.mark.slow

# ---------------------------------------------------------------- mutators


def _ws_positions(sql: str) -> list[int]:
    """Whitespace-run start positions OUTSIDE string literals."""
    out, i, n = [], 0, len(sql)
    in_ws = False
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = sql.find("'", i + 1)
            i = (j if j != -1 else n) + 1
            in_ws = False
            continue
        if ch.isspace():
            if not in_ws:
                out.append(i)
                in_ws = True
        else:
            in_ws = False
        i += 1
    return out


def mutate_whitespace(sql: str, rng: random.Random) -> str:
    """Explode some whitespace runs into newline+tab soup."""
    pos = _ws_positions(sql)
    if not pos:
        return sql
    chosen = set(rng.sample(pos, min(len(pos), 5)))
    return "".join(
        "\n\t  \n" if i in chosen else ch for i, ch in enumerate(sql)
    )


def mutate_comments(sql: str, rng: random.Random) -> str:
    """Inject keyword-bearing comments at whitespace boundaries and a
    trailing line comment."""
    pos = _ws_positions(sql)
    if not pos:
        return sql
    at = rng.choice(pos)
    injected = (
        sql[:at]
        + " /* WHERE GROUP BY (SELECT FROM 'quote ( */ "
        + sql[at + 1 :]
    )
    return injected + " -- ORDER BY UNION ALL ("


def mutate_case(sql: str, rng: random.Random) -> str:
    """Flip the case of alphabetic characters outside literals (SQL
    keywords and identifiers are case-insensitive in both engines)."""
    out, i, n = [], 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = sql.find("'", i + 1)
            end = (j if j != -1 else n - 1) + 1
            out.append(sql[i:end])
            i = end
            continue
        if ch.isalpha() and rng.random() < 0.35:
            out.append(ch.swapcase())
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def mutate_wrap(sql: str, rng: random.Random) -> str:
    """Wrap the whole query as a derived table (row-set preserving for
    unordered comparison)."""
    return f"SELECT * FROM (\n{sql}\n) __fz_wrap"


def mutate_wrap2(sql: str, rng: random.Random) -> str:
    """Depth-2 derived-table wrap — scanners anchored on 'the first
    SELECT' or a single nesting level misfire here (round-7 class)."""
    return (
        "SELECT * FROM (SELECT * FROM (\n" + sql + "\n) __fz_in) __fz_out"
    )


def mutate_shadow_alias(sql: str, rng: random.Random) -> str:
    """Wrap with the MOST COMMON inner aliases (t, a, o) — an
    alias-matching scanner that resolves by name alone crosses scopes
    (round-7 class: identifier shadowing)."""
    alias = rng.choice(["t", "a", "o"])
    return f"SELECT * FROM (\n{sql}\n) {alias}"


def mutate_keyword_literal(sql: str, rng: random.Random) -> str:
    """Append a WHERE predicate over a wrapped query whose string literal
    is packed with SQL keywords, parens, a line comment and a doubled
    quote — any scanner that reads keywords/depth inside literals breaks
    (round-7 class).  Always-true predicate: row-set preserving."""
    lit = "(SELECT x FROM t) UNION ALL -- it''s GROUP BY"
    return f"SELECT * FROM (\n{sql}\n) __fz_kw WHERE '{lit}' <> ''"


def mutate_setop(sql: str, rng: random.Random) -> str:
    """UNION ALL the query with itself (both sides wrapped) — set-op
    scoping over full statements (round-7 class).  Doubles every row, so
    the differential uses the identically-mutated oracle."""
    return (
        f"SELECT * FROM (\n{sql}\n) __fza"
        f" UNION ALL SELECT * FROM (\n{sql}\n) __fzb"
    )


MUTATORS = [
    ("whitespace", mutate_whitespace),
    ("comments", mutate_comments),
    ("case", mutate_case),
    # round-7 classes — structural invariants over the full corpus
    ("wrap2", mutate_wrap2),
    ("shadow_alias", mutate_shadow_alias),
    ("keyword_literal", mutate_keyword_literal),
    ("setop", mutate_setop),
]

# ------------------------------------------------------------- invariants


def _balanced_outside_literals(sql: str) -> bool:
    depth, i, n = 0, 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            if j >= n:
                return False  # unterminated literal
            i = j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return False
        i += 1
    return depth == 0


@pytest.fixture(scope="module")
def corpus():
    require_reference(REF_TESTS_DIR)
    return [
        (method, k, kind, actual, expected)
        for _f, method, k, kind, actual, expected in scrape()
    ]


def test_fuzz_structural_invariants(corpus):
    """Every scraped statement x every mutator: translate() must not
    raise, must not leak mask bytes, and must emit balanced output."""
    bad = []
    for mi, (mname, mut) in enumerate(MUTATORS):
        for ci, (method, k, kind, actual, _e) in enumerate(corpus):
            rng = random.Random(10_000 * mi + ci)
            mutated = mut(actual, rng)
            try:
                out = translate(mutated)
            except Exception as exc:  # noqa: BLE001 — collecting evidence
                bad.append(f"{mname}:{method}[{k}]: raise {type(exc).__name__}")
                continue
            if "\x00" in out:
                bad.append(f"{mname}:{method}[{k}]: mask byte leak")
            elif not _balanced_outside_literals(out):
                bad.append(f"{mname}:{method}[{k}]: unbalanced output")
    assert not bad, f"{len(bad)} structural failures, e.g. {bad[:5]}"


def test_fuzz_differential_sample(aq_env, corpus):
    """Deterministic sample: the mutated statement's Spark result must
    still match the ORIGINAL's DuckDB oracle.  Skips cases whose
    unmutated form doesn't pass (frozen deviations / unrunnable oracles);
    a case that passes unmutated but fails mutated is a scanner bug."""
    from tests.test_reference_abstract_queries import _compare

    engine, fresh_con = aq_env
    con = fresh_con()
    rng0 = random.Random(20260814)
    sample = rng0.sample(range(len(corpus)), 140)
    checked = 0
    bad = []
    # row-set-preserving mutators always apply; the wrap family reorders
    # rows so it only applies to unordered comparisons; setop doubles the
    # rows, so its oracle is the identically-mutated DuckDB statement
    for ci in sample:
        method, k, kind, actual, expected = corpus[ci]
        if kind == "empty":
            continue
        osql = oracle_compat(expected if expected is not None else actual)
        try:
            con.execute(osql).fetchall()
        except duckdb.Error:
            continue
        try:
            base = engine.sql(actual, dialect="presto")
            if _compare(base, con, osql, ordered=(kind == "ordered")):
                continue  # frozen deviation — not fuzz's business
        except Exception:
            continue
        muts: list[tuple[str, object, object]] = [
            ("whitespace", mutate_whitespace, None),
            ("comments", mutate_comments, None),
            ("case", mutate_case, None),
        ]
        if kind != "ordered":
            muts += [
                ("wrap", mutate_wrap, None),
                ("wrap2", mutate_wrap2, None),
                ("shadow_alias", mutate_shadow_alias, None),
                ("keyword_literal", mutate_keyword_literal, None),
                ("setop", mutate_setop, mutate_setop),
            ]
        for mi, (mname, mut, omut) in enumerate(muts):
            mutated = mut(actual, random.Random(777 * mi + ci))
            o = omut(osql, random.Random(777 * mi + ci)) if omut else osql
            if omut is not None:
                try:
                    con.execute(o).fetchall()
                except duckdb.Error:
                    continue  # oracle can't run the mutated form
            try:
                sdf = engine.sql(mutated, dialect="presto")
                err = _compare(sdf, con, o, ordered=(kind == "ordered"))
            except Exception as exc:  # noqa: BLE001
                err = f"raise {type(exc).__name__}: {str(exc)[:90]}"
            checked += 1
            if err:
                bad.append(f"{mname}:{method}[{k}]: {err[:140]}")
    assert checked >= 140, f"sample too small: {checked}"
    assert not bad, f"{len(bad)} differential fuzz failures: {bad[:6]}"


# ------------------------------------------- round-8 parity-rewrite fuzz

# statements exercising _parity_agg_compat's string surgery (the newest
# rewrite pass): approx_distinct / checksum / cardinality(approx_set)
# under window frames, inside set-op halves, nested in derived tables,
# mixed with each other and with JVM aggregates across query levels.
# Invariant: a semantics-preserving TEXT mutation must not change the
# result — the parity values themselves are pinned by test_hll_parity.
_PARITY_SHAPES: list[tuple[str, bool]] = [
    # (statement, ordered)
    ("SELECT approx_distinct(custkey) FROM orders", False),
    ("SELECT to_hex(checksum(orderkey)) FROM orders", False),
    ("SELECT cardinality(approx_set(custkey)) FROM orders", False),
    # mixed with each other and with count(*)/sum in ONE level
    (
        "SELECT approx_distinct(custkey), to_hex(checksum(orderkey)),"
        " count(*), sum(totalprice) FROM orders",
        False,
    ),
    # two parity calls over different columns, grouped
    (
        "SELECT orderstatus, approx_distinct(custkey),"
        " approx_distinct(orderpriority) FROM orders GROUP BY orderstatus",
        False,
    ),
    # across levels: outer JVM aggregate over an inner parity group-by
    (
        "SELECT count(*), max(ad) FROM (SELECT orderstatus,"
        " approx_distinct(custkey) AS ad FROM orders"
        " GROUP BY orderstatus) t",
        False,
    ),
    # parity in HAVING
    (
        "SELECT orderstatus FROM orders GROUP BY orderstatus"
        " HAVING approx_distinct(custkey) > 100",
        False,
    ),
    # parity in a scalar subquery next to an outer parity call
    (
        "SELECT approx_distinct(orderstatus),"
        " (SELECT approx_distinct(custkey) FROM orders) FROM orders",
        False,
    ),
    # set-op halves: each half rewrites independently
    (
        "SELECT approx_distinct(custkey) FROM orders UNION ALL"
        " SELECT approx_distinct(custkey) FROM orders",
        False,
    ),
    (
        "SELECT to_hex(checksum(orderkey)) FROM orders WHERE orderkey < 100"
        " UNION SELECT to_hex(checksum(orderkey)) FROM orders"
        " WHERE orderkey < 100",
        False,
    ),
    # window frames: approx_distinct degrades to the native estimator,
    # checksum stays parity — both must be mutation-stable
    (
        "SELECT DISTINCT orderstatus, approx_distinct(custkey)"
        " OVER (PARTITION BY orderstatus) FROM orders",
        False,
    ),
    (
        "SELECT DISTINCT orderstatus, to_hex(checksum(custkey)"
        " OVER (PARTITION BY orderstatus)) FROM orders",
        False,
    ),
    # empty input: Presto semantics (0 / NULL) through the rewrite
    (
        "SELECT approx_distinct(custkey), to_hex(checksum(orderkey)),"
        " count(*) FROM orders WHERE orderkey < 0",
        False,
    ),
    # round-9 two-level sketch pipelines: approx_set builds an
    # airlift-format BINARY sketch in the inner level, merge() consumes
    # the sketch COLUMN outside — grouped, mixed with JVM aggregates,
    # and empty-input (the single-level nested spelling
    # cardinality(merge(approx_set(x))) is upstream-INVALID and raises
    # error-parity — test_hll_parity.py::test_nested_aggregation_error)
    (
        "SELECT orderstatus, cardinality(merge(s)),"
        " count(*) FROM (SELECT orderstatus, custkey % 4 AS b,"
        " approx_set(custkey) AS s FROM orders"
        " GROUP BY orderstatus, custkey % 4) t GROUP BY orderstatus",
        False,
    ),
    (
        "SELECT cardinality(merge(s)), count(*)"
        " FROM (SELECT approx_set(custkey) AS s FROM orders"
        " WHERE orderkey < 0) t",
        False,
    ),
    # per-row singleton sketches through merge (the reference's own
    # testMergeHyperLogLog shape) + the scalar sketch surface
    (
        "SELECT orderstatus, cardinality(merge(create_hll(custkey))),"
        " count(*) FROM orders GROUP BY orderstatus",
        False,
    ),
    (
        "SELECT cardinality(merge(c)) FROM (SELECT create_hll(custkey) c"
        " FROM orders UNION ALL SELECT empty_approx_set())",
        False,
    ),
    (
        "SELECT orderstatus, cardinality(cast(approx_set(custkey) AS"
        " P4HYPERLOGLOG)) FROM orders GROUP BY orderstatus",
        False,
    ),
    # round-8 qdigest selection rule: plain / grouped / weighted /
    # non-foldable fraction / mixed with other aggregates
    ("SELECT approx_percentile(totalprice, 0.5) FROM orders", False),
    (
        "SELECT orderstatus, approx_percentile(totalprice, 0.5)"
        " FROM orders GROUP BY orderstatus",
        False,
    ),
    (
        "SELECT approx_percentile(totalprice, 2, 0.5), count(*),"
        " sum(totalprice) FROM orders",
        False,
    ),
    (
        "SELECT approx_percentile(totalprice, orderkey * 0 + 0.5)"
        " FROM orders",
        False,
    ),
    (
        "SELECT orderstatus, approx_percentile(totalprice, 0.25),"
        " approx_distinct(custkey) FROM orders GROUP BY orderstatus",
        False,
    ),
]


def test_fuzz_parity_rewrite_shapes(aq_env):
    """Round-8 ratchet over _parity_agg_compat: every parity shape x
    every semantics-preserving mutator must return EXACTLY the
    unmutated result (rows as multisets; parity values are pinned
    elsewhere).  A mismatch means the rewrite's span scanning read
    keywords out of comments, crossed a set-op half, double-consumed an
    OVER clause, or mis-masked a nested (SELECT ..)."""
    engine, _fresh = aq_env

    def rows_of(sql: str):
        return sorted(
            tuple(str(c) for c in r)
            for r in engine.sql(sql, dialect="presto").collect()
        )

    bad = []
    for si, (stmt, _ordered) in enumerate(_PARITY_SHAPES):
        base = rows_of(stmt)
        for mi, (mname, mut) in enumerate(MUTATORS):
            if mname == "setop":
                continue  # changes the row multiset; covered by shapes
            mutated = mut(stmt, random.Random(9_000 * mi + si))
            try:
                got = rows_of(mutated)
            except Exception as exc:  # noqa: BLE001 — collecting evidence
                bad.append(
                    f"{mname}[shape {si}]: raise {type(exc).__name__}:"
                    f" {str(exc)[:100]}"
                )
                continue
            if got != base:
                bad.append(
                    f"{mname}[shape {si}]: {got[:2]} != {base[:2]}"
                )
    assert not bad, f"{len(bad)} parity fuzz failures: {bad[:4]}"


def test_fuzz_idempotence_ratchet(corpus):
    """translate() runs once in production, but non-idempotence marks a
    pass that would double-rewrite its own output — a latent hazard.
    Ratchet: the count must never grow past the audited round-6 level
    (22 cases: integral-cast re-pivots and ROW-JSON re-renderings, all
    verified semantically stable under re-application)."""
    bad = 0
    for _method, _k, _kind, actual, _e in corpus:
        try:
            once = translate(actual)
            if translate(once) != once:
                bad += 1
        except Exception:
            bad += 1
    assert bad <= 25, f"idempotence regressions: {bad} > 25"
