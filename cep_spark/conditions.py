"""Condition IR for pattern predicates.

The reference expresses conditions as a small Formula/Term algebra over
user getter-lambdas (reference `Formula.py`, see SURVEY.md §2.2 — the
reference checkout was empty this session, so citations are to the
survey's reconstruction).  Ours is declarative: one expression tree with
two targets, so the engine, Catalyst pushdown, and the DuckDB oracle all
share a single definition:

* ``pd(env)``      -> vectorized pandas/NumPy evaluation (NFA transitions)
* ``sql(aliases)`` -> SQL text that Spark and DuckDB read alike: the scan
  prefilter (``batch.prefilter_multi``), the Catalyst self-join
  (``join_planner.plan_join``) and the DuckDB oracle run the same string

No per-row Python anywhere: ``pd`` evaluates whole candidate arrays.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Any, Mapping

__all__ = [
    "Expr",
    "Cond",
    "attr",
    "lit",
    "TRUE",
    "AttrRef",
    "Literal",
    "Arith",
    "Cmp",
    "BoolAnd",
    "BoolOr",
    "BoolNot",
    "TrueCond",
    "InSet",
    "IsNull",
    "UserPred",
    "udf_pred",
]


def _sql_literal(v: Any) -> str:
    """``v`` as a SQL literal that Spark and DuckDB read as the same
    value.  Floats are written with an exponent, which both read as
    DOUBLE (the NFA's float64), not DECIMAL.  In strings, Spark reads a
    backslash as an escape and ``spark.sql``'s formatter reads braces, so
    those characters are spelled ``chr(n)``."""
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        v = v.item()  # NumPy scalar
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        out = "'" + v.replace("'", "''") + "'"
        for ch in "\\{}":
            out = out.replace(ch, f"' || chr({ord(ch)}) || '")
        return f"({out})" if any(ch in v for ch in "\\{}") else out
    if isinstance(v, float):
        if not math.isfinite(v):
            return f"CAST('{v}' AS DOUBLE)"
        return repr(v) if "e" in repr(v) else f"{v!r}E0"
    return repr(v)


class Expr:
    """Scalar-valued expression node."""

    def vars(self) -> frozenset[str]:
        raise NotImplementedError

    def cols(self) -> frozenset[tuple[str, str]]:
        """(var, column) pairs referenced — drives column pruning."""
        raise NotImplementedError

    def pd(self, env: Mapping[str, Mapping[str, Any]]):
        """Evaluate against ``env[var][col]`` (pandas Series or scalars)."""
        raise NotImplementedError

    def sql(self, aliases: Mapping[str, str | None]) -> str:
        """SQL text with each variable's columns qualified by
        ``aliases[var]`` (unqualified where it is None)."""
        raise NotImplementedError

    # operator sugar ----------------------------------------------------
    def _wrap(self, other: Any) -> "Expr":
        return other if isinstance(other, Expr) else Literal(other)

    def __add__(self, o):
        return Arith("+", self, self._wrap(o))

    def __sub__(self, o):
        return Arith("-", self, self._wrap(o))

    def __mul__(self, o):
        return Arith("*", self, self._wrap(o))

    def __truediv__(self, o):
        return Arith("/", self, self._wrap(o))

    def __radd__(self, o):
        return Arith("+", self._wrap(o), self)

    def __rsub__(self, o):
        return Arith("-", self._wrap(o), self)

    def __rmul__(self, o):
        return Arith("*", self._wrap(o), self)

    def __eq__(self, o):  # type: ignore[override]
        return Cmp("=", self, self._wrap(o))

    def __ne__(self, o):  # type: ignore[override]
        return Cmp("<>", self, self._wrap(o))

    def __lt__(self, o):
        return Cmp("<", self, self._wrap(o))

    def __le__(self, o):
        return Cmp("<=", self, self._wrap(o))

    def __gt__(self, o):
        return Cmp(">", self, self._wrap(o))

    def __ge__(self, o):
        return Cmp(">=", self, self._wrap(o))

    def __hash__(self):
        return hash(repr(self))

    def isin(self, *values: Any) -> "InSet":
        return InSet(self, tuple(values))

    def is_null(self) -> "IsNull":
        return IsNull(self, True)

    def is_not_null(self) -> "IsNull":
        return IsNull(self, False)


@dataclass(frozen=True, eq=False)
class AttrRef(Expr):
    var: str
    col: str

    def vars(self):
        return frozenset({self.var})

    def cols(self):
        return frozenset({(self.var, self.col)})

    def pd(self, env):
        return env[self.var][self.col]

    def sql(self, aliases):
        a = aliases[self.var]
        return self.col if a is None else f"{a}.{self.col}"

    def __repr__(self):
        return f"attr({self.var!r},{self.col!r})"


@dataclass(frozen=True, eq=False)
class Literal(Expr):
    value: Any

    def vars(self):
        return frozenset()

    def cols(self):
        return frozenset()

    def pd(self, env):
        return self.value

    def sql(self, aliases):
        return _sql_literal(self.value)

    def __repr__(self):
        return f"lit({self.value!r})"


@dataclass(frozen=True, eq=False)
class Arith(Expr):
    op: str  # + - * /
    left: Expr
    right: Expr

    def vars(self):
        return self.left.vars() | self.right.vars()

    def cols(self):
        return self.left.cols() | self.right.cols()

    def pd(self, env):
        l, r = self.left.pd(env), self.right.pd(env)
        if self.op == "+":
            return l + r
        if self.op == "-":
            return l - r
        if self.op == "*":
            return l * r
        if self.op == "/":
            return l / r
        raise ValueError(self.op)

    def sql(self, aliases):
        return f"({self.left.sql(aliases)} {self.op} {self.right.sql(aliases)})"

    def __repr__(self):
        return f"({self.left!r} {self.op} {self.right!r})"


class Cond(Expr):
    """Boolean-valued expression node (a condition)."""

    def __and__(self, o: "Cond") -> "Cond":
        if isinstance(o, TrueCond):
            return self
        return BoolAnd(self, o)

    def __or__(self, o: "Cond") -> "Cond":
        return BoolOr(self, o)

    def __invert__(self) -> "Cond":
        return BoolNot(self)

    def conjuncts(self) -> list["Cond"]:
        return [self]

    def __hash__(self):
        return hash(repr(self))


@dataclass(frozen=True, eq=False)
class Cmp(Cond):
    op: str  # = <> < <= > >=
    left: Expr
    right: Expr

    def vars(self):
        return self.left.vars() | self.right.vars()

    def cols(self):
        return self.left.cols() | self.right.cols()

    def pd(self, env):
        l, r = self.left.pd(env), self.right.pd(env)
        if self.op == "=":
            return l == r
        if self.op == "<>":
            return l != r
        if self.op == "<":
            return l < r
        if self.op == "<=":
            return l <= r
        if self.op == ">":
            return l > r
        if self.op == ">=":
            return l >= r
        raise ValueError(self.op)

    def sql(self, aliases):
        return f"({self.left.sql(aliases)} {self.op} {self.right.sql(aliases)})"

    def __repr__(self):
        return f"({self.left!r} {self.op} {self.right!r})"


@dataclass(frozen=True, eq=False)
class InSet(Cond):
    expr: Expr
    values: tuple

    def vars(self):
        return self.expr.vars()

    def cols(self):
        return self.expr.cols()

    def pd(self, env):
        import numpy as np

        v = self.expr.pd(env)
        if hasattr(v, "isin"):
            return v.isin(self.values)
        if isinstance(v, np.ndarray):
            return np.isin(v, list(self.values))
        return v in self.values

    def sql(self, aliases):
        vals = ", ".join(_sql_literal(v) for v in self.values)
        return f"({self.expr.sql(aliases)} IN ({vals}))"

    def __repr__(self):
        return f"{self.expr!r}.isin{self.values!r}"


@dataclass(frozen=True, eq=False)
class IsNull(Cond):
    expr: Expr
    null: bool  # True -> IS NULL, False -> IS NOT NULL

    def vars(self):
        return self.expr.vars()

    def cols(self):
        return self.expr.cols()

    def pd(self, env):
        import pandas as pd

        v = self.expr.pd(env)
        isna = pd.isna(v)
        return isna if self.null else ~isna if hasattr(isna, "__invert__") else not isna

    def sql(self, aliases):
        kw = "IS NULL" if self.null else "IS NOT NULL"
        return f"({self.expr.sql(aliases)} {kw})"

    def __repr__(self):
        return f"{self.expr!r} {'isnull' if self.null else 'notnull'}"


@dataclass(frozen=True, eq=False)
class BoolAnd(Cond):
    left: Cond
    right: Cond

    def vars(self):
        return self.left.vars() | self.right.vars()

    def cols(self):
        return self.left.cols() | self.right.cols()

    def pd(self, env):
        return self.left.pd(env) & self.right.pd(env)

    def sql(self, aliases):
        return f"({self.left.sql(aliases)} AND {self.right.sql(aliases)})"

    def conjuncts(self):
        return self.left.conjuncts() + self.right.conjuncts()

    def __repr__(self):
        return f"({self.left!r} & {self.right!r})"


@dataclass(frozen=True, eq=False)
class BoolOr(Cond):
    left: Cond
    right: Cond

    def vars(self):
        return self.left.vars() | self.right.vars()

    def cols(self):
        return self.left.cols() | self.right.cols()

    def pd(self, env):
        return self.left.pd(env) | self.right.pd(env)

    def sql(self, aliases):
        return f"({self.left.sql(aliases)} OR {self.right.sql(aliases)})"

    def __repr__(self):
        return f"({self.left!r} | {self.right!r})"


@dataclass(frozen=True, eq=False)
class BoolNot(Cond):
    inner: Cond

    def vars(self):
        return self.inner.vars()

    def cols(self):
        return self.inner.cols()

    def pd(self, env):
        v = self.inner.pd(env)
        return ~v if hasattr(v, "__invert__") else (not v)

    def sql(self, aliases):
        return f"(NOT {self.inner.sql(aliases)})"

    def __repr__(self):
        return f"~{self.inner!r}"


@dataclass(frozen=True, eq=False)
class UserPred(Cond):
    """Vectorized user predicate — the escape hatch mirroring the
    reference's arbitrary Python-lambda conditions (reference
    `Formula.py` getter lambdas, SURVEY.md §2.2), but batch-vectorized:
    ``fn`` receives one pandas/NumPy series per AttrRef argument and
    must return a boolean array (or scalar).  Never called per-row.

    Engine-only: it evaluates in the NFA executors (``pd``) and has NO
    SQL lowering.  The scan prefilter drops its conjuncts (keeping more
    rows, never fewer), and ``join_planner.plan_join`` /
    ``oracle_sql_for`` reject it, so patterns using it run on the NFA
    and carry a hand-written oracle."""

    fn: Any
    args: tuple  # tuple[AttrRef, ...]
    name: str = "udf"

    def vars(self):
        out = set()
        for a in self.args:
            out |= a.vars()
        return out

    def cols(self):
        out = set()
        for a in self.args:
            out |= a.cols()
        return out

    def pd(self, env):
        import numpy as np
        import pandas as pd

        # documented contract: fn sees pandas Series (the engine's
        # internal views are raw NumPy for speed — re-wrap here only)
        return self.fn(*[
            pd.Series(v) if isinstance(v, np.ndarray) else v
            for a in self.args
            for v in (a.pd(env),)
        ])

    def sql(self, aliases):
        raise NotImplementedError(
            f"UserPred {self.name!r} has no SQL lowering (engine-only condition)"
        )

    def __repr__(self):
        return f"udf_pred[{self.name}]({', '.join(map(repr, self.args))})"


def udf_pred(fn, *args: "AttrRef", name: str = "udf") -> UserPred:
    """Wrap a vectorized callable as a pattern condition:
    ``udf_pred(lambda v: v % 7 == 0, attr("a", "value"))``."""
    return UserPred(fn, tuple(args), name)


class TrueCond(Cond):
    def vars(self):
        return frozenset()

    def cols(self):
        return frozenset()

    def pd(self, env):
        return True

    def sql(self, aliases):
        return "TRUE"

    def conjuncts(self):
        return []

    def __and__(self, o):
        return o

    def __repr__(self):
        return "TRUE"


TRUE = TrueCond()


class FalseCond(Cond):
    """Compile-time-unsatisfiable condition.  Produced by constant
    folding (a zero-variable `where` conjunct that evaluates FALSE);
    an alternative whose slots carry FALSE matches nothing in every
    lowering (NFA mask, join filter, oracle SQL `WHERE FALSE`)."""

    def vars(self):
        return frozenset()

    def cols(self):
        return frozenset()

    def pd(self, env):
        return False

    def sql(self, aliases):
        return "FALSE"

    def __and__(self, o):
        return self

    def __repr__(self):
        return "FALSE"


FALSE = FalseCond()


def attr(var: str, col: str) -> AttrRef:
    """Reference `IdentifierTerm(var, lambda x: x[col])` analogue."""
    return AttrRef(var, col)


def lit(value: Any) -> Literal:
    """Reference `AtomicTerm(value)` analogue."""
    return Literal(value)


def subst(e: Expr, mapping: Mapping[str, str]) -> Expr:
    """Rename variables in an expression tree (used when expanding a
    Kleene slot into fixed arities: per-event conditions on ``k`` are
    instantiated for ``k1..kr``)."""
    if isinstance(e, AttrRef):
        return AttrRef(mapping.get(e.var, e.var), e.col)
    if isinstance(e, (Literal, TrueCond, FalseCond)):
        return e
    if isinstance(e, Arith):
        return Arith(e.op, subst(e.left, mapping), subst(e.right, mapping))
    if isinstance(e, Cmp):
        return Cmp(e.op, subst(e.left, mapping), subst(e.right, mapping))
    if isinstance(e, InSet):
        return InSet(subst(e.expr, mapping), e.values)
    if isinstance(e, IsNull):
        return IsNull(subst(e.expr, mapping), e.null)
    if isinstance(e, BoolAnd):
        return BoolAnd(subst(e.left, mapping), subst(e.right, mapping))
    if isinstance(e, BoolOr):
        return BoolOr(subst(e.left, mapping), subst(e.right, mapping))
    if isinstance(e, BoolNot):
        return BoolNot(subst(e.inner, mapping))
    if isinstance(e, UserPred):
        return UserPred(e.fn, tuple(subst(a, mapping) for a in e.args), e.name)
    raise TypeError(f"unknown expr {e!r}")


def split_conditions(
    cond: Cond, var_order_hint: list[str] | None = None
) -> tuple[dict[str, Cond], list[Cond], bool]:
    """Split a conjunction into per-variable unary conditions (pushed to
    the scan -> Catalyst predicate pushdown) and multi-variable residual
    conjuncts (evaluated at NFA transitions / join conditions), plus a
    satisfiability flag.

    Zero-variable conjuncts are constant-folded at compile time: TRUE
    drops out, FALSE makes the whole conjunction unsatisfiable
    (``sat=False`` — the caller compiles the alternative to match
    nothing).  Silently dropping them (the pre-round-4 behavior) made
    ``where=lit(1) < lit(0)`` match as if TRUE in every lowering.

    Mirrors the reference's `Formula.get_formula_of(names)` pushdown
    (SURVEY.md §2.2 C7) but at compile time over a declarative IR.
    """
    unary: dict[str, Cond] = {}
    multi: list[Cond] = []
    sat = True
    for c in cond.conjuncts():
        vs = c.vars()
        if len(vs) == 1:
            (v,) = vs
            unary[v] = unary[v] & c if v in unary else c
        elif len(vs) == 0:
            try:
                val = bool(c.pd({}))
            except Exception as exc:  # e.g. a zero-arg UserPred
                raise ValueError(
                    f"cannot constant-fold zero-variable condition {c!r}"
                ) from exc
            if not val:
                sat = False
        else:
            multi.append(c)
    return unary, multi, sat
