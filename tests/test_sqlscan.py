"""The shared SQL-text scanner (prestodb_presto_spark/sqlscan.py) and the
dialect behaviour that depends on it: literals, quoted identifiers and
comments are opaque to every bracket, separator and keyword scan."""

from __future__ import annotations

import re

import pytest

from prestodb_presto_spark.dialect import translate
from prestodb_presto_spark.sqlscan import (
    close_index,
    find_top,
    level_end,
    open_index,
    split_top,
    terminated,
)


def test_opaque_spans_hide_brackets_and_commas():
    text = """f('a,(', "b,)", `c``,]`, /* ) */ d -- ,(\n, e)"""
    assert close_index(text, 1) == len(text) - 1
    parts = split_top(text[2:-1])
    assert [p.strip() for p in parts] == [
        "'a,('", '"b,)"', "`c``,]`", "/* ) */ d -- ,(", "e",
    ]


def test_close_index_unbalanced_raises():
    with pytest.raises(ValueError, match="unbalanced parentheses"):
        close_index("f(a, 'x)'", 1)
    # an unterminated literal runs to the end of the text
    with pytest.raises(ValueError):
        close_index("f(a, 'x)", 1)


def test_level_end_and_open_index():
    text = "a, b[1]) tail"
    assert level_end(text) == text.index(")")
    assert level_end("no close") == len("no close")
    s = "g(x, h(y)) + z[i[2]]"
    assert open_index(s, s.index(")")) == s.index("h") + 1
    assert open_index(s, len(s) - 1, "[]") == s.index("[")
    assert open_index("x) + 1", 1) == -1


def test_split_top_type_brackets():
    assert split_top("a:decimal(10,2),b:map<string,int>", "()<>") == [
        "a:decimal(10,2)", "b:map<string,int>",
    ]


def test_find_top_depth_words_and_start():
    pat = re.compile(r"(?i)\bFROM\b")
    sql = "SELECT (SELECT 1 FROM u), 'FROM', \"FROM\" FROM t"
    m = find_top(sql, pat)
    assert m is not None and sql[m.start() :] == "FROM t"
    # a start offset scans from there, with depth counted from there
    assert find_top(sql, pat, sql.index("1 FROM")).start() == sql.index("FROM u")
    assert find_top("xFROM y", re.compile(r"(?i)FROM\b")) is None


@pytest.mark.parametrize(
    "span, closed",
    [("'a'", True), ("''", True), ("'a''b'", True), ("'a''", False),
     ("'", False), ('"q"', True), ('"a""', False), ("`a``b`", True)],
)
def test_terminated(span, closed):
    assert terminated(span) is closed


# Each of these came out wrong before the dialect used one scanner.
@pytest.mark.parametrize(
    "sql, expected",
    [
        (
            'SELECT substr("a,b", 2) FROM t',
            "SELECT (CASE WHEN (2) = 0 OR (2) < -length(`a,b`) THEN '' "
            "ELSE substr(`a,b`, 2) END) FROM t",
        ),
        (
            'SELECT a FROM t ORDER BY "x,y" DESC, b',
            "SELECT a FROM t ORDER BY `x,y` DESC NULLS FIRST, b NULLS LAST",
        ),
        ('SELECT TRY("x(y" + 1) FROM t', "SELECT try_add(`x(y`, 1) FROM t"),
        (
            """SELECT "o'k", strpos(name, 'x') FROM t""",
            "SELECT `o'k`, instr(name, 'x') FROM t",
        ),
    ],
)
def test_quoted_identifier_is_opaque(sql, expected):
    assert translate(sql) == expected


@pytest.mark.parametrize(
    "sql, expected",
    [
        ('SELECT "a""b" FROM t', 'SELECT `a"b` FROM t'),
        ('SELECT "a`b" FROM t', "SELECT `a``b` FROM t"),
        ("""SELECT "it's" AS "x""y" FROM t""", 'SELECT `it\'s` AS `x"y` FROM t'),
    ],
)
def test_quote_escapes_in_identifiers(sql, expected):
    assert translate(sql) == expected


def test_error_messages_show_literal_text():
    with pytest.raises(ValueError) as e:
        translate("SELECT TRY('a' || 1)")
    assert "TRY('a' || 1) not translatable" in str(e.value)
    assert "\x00" not in str(e.value)
    with pytest.raises(ValueError) as e:
        translate("SELECT merge(approx_set('k')) FROM t")
    assert "[approx_set('k')]" in str(e.value)
    assert "\x00" not in str(e.value)


def test_engine_reads_identifier_with_comma(engine):
    rows = engine.sql(
        'SELECT "x,y", substr("n(a", 1, 2) AS s FROM '
        '(SELECT r_regionkey AS "x,y", r_name AS "n(a" FROM region) '
        'ORDER BY "x,y" DESC',
        dialect="presto",
    ).collect()
    assert [r[0] for r in rows] == [4, 3, 2, 1, 0]
    assert rows[0].s == "MI"
