"""One scanner for SQL text.

The reference lexes a statement once (presto-parser SqlBase.g4) and
every later stage works from its tokens.  The dialect shim rewrites
text instead, so every rewrite that needs brackets, separators or
keywords asks this module, which knows what the grammar treats as
opaque.  An opaque span's content is never a bracket, separator or
keyword:

  'string literal'        '' escapes a quote inside
  "quoted identifier"     "" escapes a quote inside
  `quoted identifier`     `` escapes a backtick inside
  -- line comment         up to, not including, the newline
  /* block comment */

An unterminated literal, identifier or block comment runs to the end of
the text.  Apart from opaque spans the scanner knows only brackets.
Each primitive takes the bracket characters it counts: ``"()[]"`` by
default, ``"()<>"`` for type text.  The string lists pairs, opener
first.  An opener of any pair is closed by a closer of any pair, and
depth is a plain count that may go negative on unbalanced text.
"""

from __future__ import annotations

import re
from functools import lru_cache

_OPAQUE = (
    r"'[^']*(?:''[^']*)*'?"
    r'|"[^"]*(?:""[^"]*)*"?'
    r"|`[^`]*(?:``[^`]*)*`?"
    r"|--[^\n]*"
    r"|/\*.*?(?:\*/|\Z)"
)
_WORD = r"[A-Za-z_][A-Za-z_0-9]*"


@lru_cache(maxsize=None)
def _token_re(brackets: str, words: bool) -> re.Pattern:
    alts = [f"(?P<opaque>{_OPAQUE})"]
    if brackets:
        alts.append(f"(?P<open>[{re.escape(brackets[::2])}])")
        alts.append(f"(?P<close>[{re.escape(brackets[1::2])}])")
    if words:
        alts.append(f"(?P<word>{_WORD})")
    return re.compile("|".join(alts), re.DOTALL)


def tokens(
    text: str, start: int = 0, brackets: str = "()[]", words: bool = False
):
    """Match objects, left to right from ``start``, for each opaque span
    and bracket (and, with ``words``, each ``[A-Za-z_][A-Za-z_0-9]*``
    word); ``m.lastgroup`` is "opaque", "open", "close" or "word"."""
    return _token_re(brackets, words).finditer(text, start)


def replace_opaque(text: str, fn) -> str:
    """``text`` with each opaque span replaced by ``fn(span)``; a span
    for which ``fn`` returns None stays as it is."""
    parts: list[str] = []
    last = 0
    for m in tokens(text, brackets=""):
        repl = fn(m.group())
        if repl is not None:
            parts += [text[last : m.start()], repl]
            last = m.end()
    parts.append(text[last:])
    return "".join(parts)


def terminated(span: str) -> bool:
    """True when a quoted opaque span has its closing quote: inside the
    span quotes come in doubled pairs, so the closing one leaves an odd
    run of quotes at the end."""
    q = span[0]
    body = span[1:]
    return (len(body) - len(body.rstrip(q))) % 2 == 1


def level_end(text: str, start: int = 0, brackets: str = "()[]") -> int:
    """Index of the first closer after ``start`` that has no opener after
    ``start``: the end of the bracket level ``start`` is in.  len(text)
    when the level runs to the end."""
    depth = 0
    for m in tokens(text, start, brackets):
        kind = m.lastgroup
        if kind == "open":
            depth += 1
        elif kind == "close":
            depth -= 1
            if depth < 0:
                return m.start()
    return len(text)


def close_index(text: str, open_idx: int, brackets: str = "()[]") -> int:
    """Index of the bracket that closes the opener at ``open_idx``;
    ValueError when there is none."""
    end = level_end(text, open_idx + 1, brackets)
    if end == len(text):
        raise ValueError(f"unbalanced parentheses in SQL near offset {open_idx}")
    return end


def top_runs(text: str, start: int = 0, brackets: str = "()[]"):
    """(i, j), left to right, for each run of text[start:] at depth 0
    outside opaque spans and brackets."""
    depth, pos = 0, start
    for m in tokens(text, start, brackets):
        if depth == 0 and m.start() > pos:
            yield pos, m.start()
        kind = m.lastgroup
        if kind == "open":
            depth += 1
        elif kind == "close":
            depth -= 1
        pos = m.end()
    if depth == 0 and pos < len(text):
        yield pos, len(text)


def split_top(text: str, brackets: str = "()[]") -> list[str]:
    """``text`` split at each comma at depth 0 outside opaque spans."""
    parts, last = [], 0
    for i, j in top_runs(text, 0, brackets):
        k = text.find(",", i, j)
        while k != -1:
            parts.append(text[last:k])
            last = k + 1
            k = text.find(",", last, j)
    parts.append(text[last:])
    return parts


def top_matches(
    text: str,
    pat: re.Pattern,
    start: int = 0,
    brackets: str = "()[]",
    words: bool = True,
):
    """Matches of ``pat`` (``pat.match`` at each position, as on the
    whole text) that begin at depth 0 outside opaque spans, scanning
    from ``start``; consecutive matches do not overlap.  With ``words``
    a match must also begin a word: a letter or ``_`` that follows
    ``start`` or a character other than a letter, digit or ``_``."""
    runs = top_runs(text, start, brackets)
    run = next(runs, None)
    pos = start
    while run:
        m = pat.search(text, pos)
        if not m:
            return
        p = m.start()
        while run and run[1] <= p:
            run = next(runs, None)
        if run is None:
            return
        if p < run[0]:
            pos = run[0]
            continue
        if not words or (
            (text[p].isalpha() or text[p] == "_")
            and (p == start or not (text[p - 1].isalnum() or text[p - 1] == "_"))
        ):
            yield m
            pos = max(m.end(), p + 1)
        else:
            pos = p + 1


def find_top(
    text: str,
    pat: re.Pattern,
    start: int = 0,
    brackets: str = "()[]",
    words: bool = True,
) -> re.Match | None:
    """The first of ``top_matches``, else None."""
    return next(top_matches(text, pat, start, brackets, words), None)


def bracket_pairs(text: str, brackets: str = "()[]"):
    """(open, close) index pairs, in the order they close; a closer with
    no open bracket before it is skipped."""
    stack: list[int] = []
    for m in tokens(text, 0, brackets):
        if m.lastgroup == "open":
            stack.append(m.start())
        elif m.lastgroup == "close" and stack:
            yield stack.pop(), m.start()


def open_index(text: str, close_idx: int, brackets: str = "()[]") -> int:
    """Index of the opener that the closer at ``close_idx`` closes, or
    -1 when there is none."""
    for o, c in bracket_pairs(text, brackets):
        if c >= close_idx:
            return o if c == close_idx else -1
    return -1
