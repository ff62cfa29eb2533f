"""Spark SQL expression text for compiled row checks.

The check compiler lowers every keyword to Spark SQL text rather than to live
``Column`` objects, so a whole check reaches the JVM as one string (one
parse) and a compiled plan is printable without a SparkSession.

Three rules keep the text correct and cheap to parse:

* one quoting helper each: :func:`ident` backticks every identifier
  (backticks doubled), :func:`lit` renders literals with the types
  ``F.lit`` gives them — an ``int`` stays an integer literal (Spark picks
  INT or BIGINT by magnitude, as py4j does), a ``float`` becomes a ``D``
  double literal (a bare ``0.5`` parses as a decimal), infinities and NaN
  are cast from strings, a ``Decimal`` keeps its digits as a ``BD``
  literal, and strings escape ``\\`` and ``'``;
* every fragment is a :class:`Sql` that carries the precedence of its top
  operator, and composition adds only the parentheses needed for Spark to
  parse exactly the operator nesting the compiler built: a right operand
  of the same level is parenthesized, and because Spark's parser rebalances
  a flat run of four or more ``AND``/``OR`` operands into a bushy tree, a
  left-deep chain is closed in parentheses every third operand
  (``(a AND b AND c) AND d AND e``);
* :func:`lam` names lambda variables by nesting depth, so no lambda
  shadows an enclosing one.
"""

from __future__ import annotations

import contextvars
import math
from decimal import Decimal
from typing import Any, Callable, Optional

# operator precedence, loosest first (Spark's SqlBase grammar)
OR, AND, NOT, PRED, CMP, ADD, MUL, ATOM = range(1, 9)


class Sql(str):
    """SQL expression text plus the precedence of its top operator and, for
    an ``AND``/``OR`` chain, how many operands it runs flat."""

    prec: int
    flat: int

    def __new__(cls, text: str, prec: int = ATOM, flat: int = 1) -> "Sql":
        out = super().__new__(cls, text)
        out.prec, out.flat = prec, flat
        return out


def _at(e: str, prec: int) -> str:
    """``e`` as an operand that must bind at least as tightly as ``prec``."""
    return e if getattr(e, "prec", ATOM) >= prec else f"({e})"


def ident(name: str) -> Sql:
    return Sql("`" + name.replace("`", "``") + "`")


def string(s: str) -> Sql:
    return Sql("'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'")


def lit(v: Any) -> Sql:
    if v is None:
        return Sql("NULL")
    if isinstance(v, bool):
        return Sql("true" if v else "false")
    if isinstance(v, int):
        return Sql(str(v))
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            name = str(v).replace("inf", "Infinity").replace("nan", "NaN")
            return cast(string(name), "DOUBLE")
        return Sql(repr(v) + "D")
    if isinstance(v, str):
        return string(v)
    if isinstance(v, Decimal):
        return Sql(f"{v}BD")
    raise TypeError(f"no SQL literal for {v!r}")


def binop(op: str, prec: int, a: str, b: str) -> Sql:
    return Sql(f"{_at(a, prec)} {op} {_at(b, prec + 1)}", prec)


def chain(op: str, prec: int, items, empty: str) -> Sql:
    """Left-deep fold ``((i0 op i1) op i2) …``; ``empty`` when no items."""
    items = list(items)
    if not items:
        return Sql(empty)
    out = items[0]
    for it in items[1:]:
        flat = out.flat if getattr(out, "prec", ATOM) == prec else 0
        if op in ("AND", "OR") and flat >= 3:
            out, flat = Sql(f"({out})"), 0
        out = Sql(binop(op, prec, out, it), prec, max(flat, 1) + 1)
    return out


def and_(*ps: str) -> Sql:
    return chain("AND", AND, ps, "true")


def or_(*ps: str) -> Sql:
    return chain("OR", OR, ps, "false")


def not_(e: str) -> Sql:
    return Sql(f"NOT {_at(e, NOT)}", NOT)


def cmp(a: str, op: str, b: Any) -> Sql:
    """Comparison; a right side that is not :class:`Sql` is a literal."""
    return binop(op, CMP, a, b if isinstance(b, Sql) else lit(b))


def is_null(e: str) -> Sql:
    return Sql(f"{_at(e, ADD)} IS NULL", PRED)


def is_not_null(e: str) -> Sql:
    return Sql(f"{_at(e, ADD)} IS NOT NULL", PRED)


def isin(e: str, values) -> Sql:
    return Sql(f"{_at(e, ADD)} IN ({', '.join(lit(v) for v in values)})", PRED)


def rlike(e: str, pattern: str) -> Sql:
    return Sql(f"{_at(e, ADD)} RLIKE {string(pattern)}", PRED)


def call(fn: str, *args: str) -> Sql:
    return Sql(f"{fn}({', '.join(args)})")


def percentile(e: str, probs, approx: bool) -> Sql:
    """Exact ``percentile`` of ``e``, or the GK sketch ``percentile_approx``
    at accuracy 10000, at ``probs``: one probability, or a sequence of
    them (rendered as an array, so the aggregate returns an array)."""
    if isinstance(probs, (int, float)):
        p = lit(float(probs))
    else:
        p = call("array", *[lit(float(x)) for x in probs])
    if approx:
        return call("percentile_approx", e, p, "10000")
    return call("percentile", e, p)


def coalesce_false(e: str) -> Sql:
    """Fail-closed boolean: an indeterminate (null) predicate is False."""
    return call("coalesce", e, "false")


def cast(e: str, type_name: str) -> Sql:
    return Sql(f"CAST({e} AS {type_name})")


def field(base: str, name: str) -> Sql:
    return Sql(f"{_at(base, ATOM)}.{ident(name)}")


def when(cond: str, then: str, otherwise: Optional[str] = None) -> Sql:
    tail = "" if otherwise is None else f" ELSE {otherwise}"
    return Sql(f"CASE WHEN {cond} THEN {then}{tail} END")


def case(subject: str, branches, otherwise: str) -> Sql:
    """``CASE subject WHEN v THEN r … ELSE otherwise END`` over ``(v, r)``
    pairs, each ``v`` a literal."""
    whens = " ".join(f"WHEN {lit(v)} THEN {r}" for v, r in branches)
    return Sql(f"CASE {subject} {whens} ELSE {otherwise} END")


_DEPTH: contextvars.ContextVar[int] = contextvars.ContextVar("lambda_depth", default=0)


def lam(body: Callable[..., str], *params: str) -> Sql:
    """``(p1, p2) -> body(p1, p2)`` with each variable suffixed by its
    lambda nesting depth (``x1``, then ``x2`` inside it, …)."""
    depth = _DEPTH.get() + 1
    token = _DEPTH.set(depth)
    try:
        names = [f"{p}{depth}" for p in params]
        text = body(*[Sql(n) for n in names])
    finally:
        _DEPTH.reset(token)
    head = names[0] if len(names) == 1 else f"({', '.join(names)})"
    return Sql(f"{head} -> {text}")
