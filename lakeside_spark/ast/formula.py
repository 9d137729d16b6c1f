"""Formula engine: arithmetic across query results.

The reference parses expressions like ``(a / b) * 100`` with an ANTLR
grammar (core ArithmeticParser.g4, FormulaListener.scala) into a Formula
tree over BaseExpr ids and constants, then evaluates per (timestamp,
group-key) with: zero-fill of a missing side for ``add``, drop for other
ops, and divide-by-zero → missing (Formula.scala:42-64).

Here the parse is a small recursive-descent parser (same token set) and the
evaluation is a DataFrame join on (step_ts, *group_keys) — outer join +
coalesce for add, inner join otherwise — so it distributes and lets AQE pick
the join strategy. Series frames are step-aggregated and tiny relative to
the raw data; at 100 TB the join inputs are post-aggregation outputs, often
broadcast-able.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakeside_spark import schema as S


@dataclass(frozen=True)
class Var:
    name: str


@dataclass(frozen=True)
class Const:
    value: float


@dataclass(frozen=True)
class Node:
    e1: "FormulaAST"
    e2: "FormulaAST"
    op: str  # add | sub | mul | div


FormulaAST = Union[Var, Const, Node]

_TOKEN_RE = re.compile(
    r"\s*(?:(?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)|(?P<var>[A-Za-z_][A-Za-z_0-9]*)|(?P<op>[()+\-*/]))"
)


def _tokenize(expr: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(expr):
        m = _TOKEN_RE.match(expr, pos)
        if not m:
            if expr[pos:].strip():
                raise ValueError(f"Invalid formula `{expr}`")
            break
        if m.group("num"):
            out.append(("num", m.group("num")))
        elif m.group("var"):
            out.append(("var", m.group("var")))
        else:
            out.append(("op", m.group("op")))
        pos = m.end()
    return out


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.tokens = tokens
        self.pos = 0

    def peek(self) -> tuple[str, str] | None:
        return self.tokens[self.pos] if self.pos < len(self.tokens) else None

    def next(self) -> tuple[str, str]:
        tok = self.peek()
        if tok is None:
            raise ValueError("Unexpected end of formula")
        self.pos += 1
        return tok

    def parse_expr(self) -> FormulaAST:
        node = self.parse_term()
        while (tok := self.peek()) and tok == ("op", "+") or tok == ("op", "-"):
            self.next()
            rhs = self.parse_term()
            node = Node(node, rhs, "add" if tok[1] == "+" else "sub")
        return node

    def parse_term(self) -> FormulaAST:
        node = self.parse_atom()
        while (tok := self.peek()) and (tok == ("op", "*") or tok == ("op", "/")):
            self.next()
            rhs = self.parse_atom()
            node = Node(node, rhs, "mul" if tok[1] == "*" else "div")
        return node

    def parse_atom(self) -> FormulaAST:
        kind, text = self.next()
        if kind == "num":
            return Const(float(text))
        if kind == "var":
            return Var(text)
        if (kind, text) == ("op", "("):
            node = self.parse_expr()
            closing = self.next()
            if closing != ("op", ")"):
                raise ValueError("Unbalanced parens")
            return node
        if (kind, text) == ("op", "-"):
            atom = self.parse_atom()
            return Node(Const(-1.0), atom, "mul")
        if (kind, text) == ("op", "+"):
            return self.parse_atom()
        raise ValueError(f"Unexpected token {text}")


def parse_formula(expr: str) -> FormulaAST:
    if expr.count("(") != expr.count(")"):
        raise ValueError(f"Unbalanced parens in `{expr}`")
    parser = _Parser(_tokenize(expr))
    ast = parser.parse_expr()
    if parser.peek() is not None:
        raise ValueError(f"Invalid formula `{expr}`")
    return ast


def formula_labels(ast: FormulaAST) -> set[str]:
    """Expression ids referenced by a parsed formula."""
    if isinstance(ast, Var):
        return {ast.name}
    if isinstance(ast, Node):
        return formula_labels(ast.e1) | formula_labels(ast.e2)
    return set()


_SCALAR_OPS = {
    "add": lambda a, b: a + b,
    "sub": lambda a, b: a - b,
    "mul": lambda a, b: a * b,
    "div": lambda a, b: a / b,
}


def eval_formula(
    ast: FormulaAST,
    series: dict[str, DataFrame],
    group_keys: list[str] | None = None,
) -> DataFrame:
    """Evaluate over named series frames of shape (step_ts, value, *keys).

    add: full outer join, missing side zero-filled (Formula.scala:46-47).
    sub/mul: inner join. div: inner join, rows with denominator 0 dropped
    (Formula.scala:59-63).
    """
    group_keys = group_keys or []
    join_keys = [S.STEP_TS, *group_keys]

    def rec(node: FormulaAST) -> DataFrame | float:
        if isinstance(node, Const):
            return node.value
        if isinstance(node, Var):
            df = series[node.name]
            return df.select(*join_keys, S.VALUE)
        left, right = rec(node.e1), rec(node.e2)
        op = _SCALAR_OPS[node.op]
        if isinstance(left, float) and isinstance(right, float):
            return op(left, right)
        if isinstance(right, float):
            df = left
            if node.op == "div" and right == 0:
                return df.filter(F.lit(False))
            return df.withColumn(S.VALUE, op(F.col(S.VALUE), F.lit(right)))
        if isinstance(left, float):
            df = right
            out = op(F.lit(left), F.col(S.VALUE))
            if node.op == "div":
                df = df.filter(F.col(S.VALUE) != 0)
            return df.withColumn(S.VALUE, out)

        lv, rv = "_lhs_value", "_rhs_value"
        ldf = left.withColumnRenamed(S.VALUE, lv)
        rdf = right.withColumnRenamed(S.VALUE, rv)
        how = "full_outer" if node.op == "add" else "inner"
        joined = ldf.join(rdf, on=join_keys, how=how)
        if node.op == "add":
            value = F.coalesce(F.col(lv), F.lit(0.0)) + F.coalesce(F.col(rv), F.lit(0.0))
        else:
            if node.op == "div":
                joined = joined.filter(F.col(rv) != 0)
            value = op(F.col(lv), F.col(rv))
        return joined.select(*join_keys, value.alias(S.VALUE))

    out = rec(ast)
    if isinstance(out, float):
        raise ValueError("Formula must reference at least one series")
    return out


def eval_formula_columns(
    ast: FormulaAST, values: dict[str, Column], present: dict[str, Column]
) -> tuple[Column, Column]:
    """:func:`eval_formula` over series held as columns of one frame with a
    row per step: ``values[x]`` is series x's value on a row and
    ``present[x]`` whether series x has that step. Returns the formula's
    (value, present) columns with the join semantics above: add keeps a
    step either side has and zero-fills the other, sub/mul/div keep steps
    both sides have, div also drops a zero (or null) denominator. Each
    result is masked by its presence (CASE WHEN), so no division ever sees
    the denominator of a dropped step."""

    def rec(node: FormulaAST) -> tuple[Column, Column] | float:
        if isinstance(node, Const):
            return node.value
        if isinstance(node, Var):
            return values[node.name], present[node.name]
        left, right = rec(node.e1), rec(node.e2)
        op = _SCALAR_OPS[node.op]
        if isinstance(left, float) and isinstance(right, float):
            return op(left, right)
        if isinstance(right, float):
            value, keep = left
            if node.op == "div" and right == 0:
                return value, F.lit(False)
            return op(value, F.lit(right)), keep
        if isinstance(left, float):
            value, keep = right
            if node.op == "div":
                keep = keep & F.coalesce(value != 0, F.lit(False))
            return F.when(keep, op(F.lit(left), value)), keep
        (lv, lp), (rv, rp) = left, right
        if node.op == "add":
            zero = F.lit(0.0)
            return (
                F.coalesce(F.when(lp, lv), zero) + F.coalesce(F.when(rp, rv), zero),
                lp | rp,
            )
        keep = lp & rp
        if node.op == "div":
            keep = keep & F.coalesce(rv != 0, F.lit(False))
        return F.when(keep, op(lv, rv)), keep

    out = rec(ast)
    if isinstance(out, float):
        raise ValueError("Formula must reference at least one series")
    return out
