"""Sink-routing condition expressions -> filter Columns.

Reference expression language (SURVEY.md §2.6):
- comparisons == != > >= < <= and wildcard =* (crates/orion_exp/src/operator/mod.rs:19-42)
- boolean && || ! (operator/mod.rs:3-8)
- tree Expression = Logic | Compare (crates/orion_exp/src/core/logic.rs:22-28)
- missing field => condition false (crates/orion_exp/src/core/compare.rs:28-44)

Grammar here: standard precedence ! > comparison > && > ||, parentheses
allowed. Values: numbers, quoted strings, bare words. `=*` takes a glob
(* and ?) compiled to a LIKE pattern.

Each sink's condition becomes a plain `df.filter(col)` — fully pushed down
by Catalyst, so multi-sink fan-out stays scan-efficient at any scale.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lpar>\() | (?P<rpar>\)) |
        (?P<and>&&) | (?P<or>\|\|) | (?P<not>!(?!=)) |
        (?P<op>==|!=|>=|<=|=\*|>|<) |
        (?P<str>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*') |
        (?P<num>-?\d+(?:\.\d+)?) |
        (?P<word>[A-Za-z_][A-Za-z0-9_.\-/]*|\*[^\s()&|!=<>]*)
    )""",
    re.X,
)


class ConditionSyntaxError(ValueError):
    pass


def _tokenize(text: str) -> list[tuple[str, str]]:
    toks = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m or m.end() == pos:
            if text[pos:].strip() == "":
                break
            raise ConditionSyntaxError(f"bad token at {pos}: {text[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        toks.append((kind, m.group(kind)))
    return toks


class _P:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def pop(self):
        t = self.peek()
        self.i += 1
        return t


def compile_condition(text: str, columns: list[str] | None = None) -> Column:
    """Parse a sink condition into a boolean Column (missing field -> false).

    ``columns``: the target schema, when known — a field absent from it
    compiles to NULL (=> false) instead of an unresolved-column error,
    matching the reference's dynamic-record lookup (conditions.rs:14-16).
    """
    p = _P(_tokenize(text))
    col = _or(p, columns)
    if p.peek()[0] is not None:
        raise ConditionSyntaxError(f"trailing tokens: {p.toks[p.i:]}")
    # compare.rs:28-44 — missing/NULL operand means the condition is false
    return F.coalesce(col, F.lit(False))


def _or(p: _P, columns=None) -> Column:
    left = _and(p, columns)
    while p.peek()[0] == "or":
        p.pop()
        left = left | _and(p, columns)
    return left


def _and(p: _P, columns=None) -> Column:
    left = _unary(p, columns)
    while p.peek()[0] == "and":
        p.pop()
        left = left & _unary(p, columns)
    return left


def _unary(p: _P, columns=None) -> Column:
    kind, _ = p.peek()
    if kind == "not":
        p.pop()
        # NULL (missing field) compares false; !false must be true
        return ~F.coalesce(_unary(p, columns), F.lit(False))
    if kind == "lpar":
        p.pop()
        inner = _or(p, columns)
        if p.pop()[0] != "rpar":
            raise ConditionSyntaxError("expected )")
        return inner
    return _compare(p, columns)


def _glob_to_like(pat: str) -> str:
    return pat.replace("%", r"\%").replace("_", r"\_").replace("*", "%").replace("?", "_")


def _compare(p: _P, columns=None) -> Column:
    kind, field = p.pop()
    if kind != "word":
        raise ConditionSyntaxError(f"expected field name, got {field!r}")
    opk, op = p.pop()
    if opk != "op":
        raise ConditionSyntaxError(f"expected operator after {field!r}, got {op!r}")
    vk, val = p.pop()
    if columns is not None and field not in columns:
        col = F.lit(None).cast("string")  # missing field => false
    else:
        col = F.col(field)
    if vk == "str":
        lit = val[1:-1]
        value = F.lit(lit)
    elif vk == "num":
        value = F.lit(float(val) if "." in val else int(val))
        # numeric compare against string-typed fields: cast field
        col = col.try_cast("double") if "." in val else col
    elif vk == "word":
        lit = val
        value = F.lit(val)
    else:
        raise ConditionSyntaxError(f"expected value, got {val!r}")
    if op == "==":
        return col == value
    if op == "!=":
        return col != value
    if op == ">":
        return col > value
    if op == ">=":
        return col >= value
    if op == "<":
        return col < value
    if op == "<=":
        return col <= value
    if op == "=*":
        pat = lit if vk in ("str", "word") else str(val)
        return col.like(_glob_to_like(pat))
    raise ConditionSyntaxError(f"unknown operator {op!r}")

