"""Lightweight lexical analysis of trusted SQL expression strings.

The engine stores small, table-declared SQL formulas (generated-column
expressions, CHECK constraints) as strings and occasionally needs to
reason about them WITHOUT a full parse: which columns does a formula
reference, and how to substitute a column reference with another
expression. A bare ``\\b<name>\\b`` regex is not enough — a column name
may appear inside a string literal (``date_format(d, 'yyyy-MM')``
matches ``mm`` case-insensitively), and an identifier followed by ``(``
is a function call, not a column.

These helpers are shared by the engine (generated-column source
tracking for MERGE partition-prune soundness) and the SQL shim (UPDATE's
generated-column recompute substitution). They deliberately handle only
the expression shapes the engine itself declares: both quote kinds with
backslash escapes, word-boundary identifiers, function-call detection
via a following ``(``.
"""

from __future__ import annotations

import re

_IDENT = re.compile(r"[A-Za-z_]\w*")

# SQL keywords/literals that look like identifiers but never name a
# column in the engine's declared formulas.
_KEYWORDS = frozenset(
    """
    and or not in is like between case when then else end as cast try_cast
    null true false distinct interval div from exists all any some escape
    day days month months year years hour hours minute minutes second
    seconds week weeks
    """.split()
)


# one string literal: either quote kind, backslash escapes (a trailing
# lone backslash included), the closing quote captured when present
_LITERAL = re.compile(
    r"""'(?:[^'\\]+|\\.|\\\Z)*(')?|"(?:[^"\\]+|\\.|\\\Z)*(")?""", re.S
)


def quoted_spans(s: str) -> list[tuple[int, int]]:
    """(start, end) index ranges (inclusive) of string literals in ``s``:
    both quote kinds, backslash escapes; an unterminated literal runs to
    end-of-string (its end is ``len(s)``). The one quote scanner every
    SQL text helper uses."""
    return [
        (m.start(), m.end() - 1 if m.group(1) or m.group(2) else len(s))
        for m in _LITERAL.finditer(s)
    ]


def _in_spans(pos: int, spans: list[tuple[int, int]]) -> bool:
    return any(a <= pos <= b for a, b in spans)


def referenced_columns(expr: str, candidates=None) -> set[str]:
    """Column names an expression string references, lexically:
    word-boundary identifiers OUTSIDE string literals that are not SQL
    keywords and are not immediately followed by ``(`` (function calls).

    With ``candidates`` (an iterable of known column names), only those
    are reported — matched case-insensitively, returned in the
    candidates' own spelling (SQL identifiers are case-insensitive).
    Without candidates, every plausible column identifier is returned
    as spelled in the expression (callers own the keyword risk)."""
    spans = quoted_spans(expr)
    cand = (
        {c.lower(): c for c in candidates} if candidates is not None else None
    )
    out: set[str] = set()
    for m in _IDENT.finditer(expr):
        if _in_spans(m.start(), spans):
            continue
        tail = expr[m.end():].lstrip()
        if tail.startswith("("):
            continue  # function call
        name = m.group(0)
        low = name.lower()
        if cand is not None:
            if low in cand:
                out.add(cand[low])
        elif low not in _KEYWORDS:
            out.add(name)
    return out


def substitute_columns(expr: str, mapping: dict[str, str]) -> str:
    """Replace each column reference in ``expr`` whose lower-cased name
    is in ``mapping`` with the (already-parenthesized if needed) mapped
    expression — case-insensitively, word-boundary, SKIPPING string
    literals and function-call identifiers. Used by UPDATE's
    generated-column recompute, where formulas must be re-evaluated
    over the NEW values of SET columns. One pass: an earlier
    substitution's output is never re-scanned (``SET a = b, b = a``
    style crossings stay correct).

    A mapping key that is itself a SQL KEYWORD (a column named ``end``
    vs CASE…END) is lexically AMBIGUOUS — substituting would corrupt
    the expression and skipping would silently recompute over stale
    values — so any match on a keyword-named key raises instead
    (r14 review)."""
    if not mapping:
        return expr
    spans = quoted_spans(expr)
    pat = re.compile(
        r"\b(" + "|".join(re.escape(c) for c in mapping) + r")\b", re.I
    )
    out, last = [], 0
    for m in pat.finditer(expr):
        if _in_spans(m.start(), spans):
            continue
        tail = expr[m.end():].lstrip()
        if tail.startswith("("):
            continue  # function call, not a column reference
        low = m.group(1).lower()
        if low in _KEYWORDS:
            raise ValueError(
                f"cannot substitute column {low!r} into {expr!r}: the "
                "name is a SQL keyword, so the reference is lexically "
                "ambiguous — rename the column or avoid the keyword in "
                "the formula"
            )
        out.append(expr[last : m.start()])
        out.append(f"({mapping[low]})")
        last = m.end()
    out.append(expr[last:])
    return "".join(out)
