"""Expression algebra: unbound/bound predicates, literals with
saturating casts, binding, NOT-rewrite, and the row-predicate compilers.

Ports the semantics of the reference's exprs.go:130-313 (constant-fold
constructors), predicates.go (operation taxonomy), literals.go:231-361
(AboveMax/BelowMin saturation on bind), visitors.go:150-412 (BindExpr,
RewriteNotExpr) and visitors.go:189-381 (ExpressionEvaluator over
partition tuples). Pure Python — the metadata plane runs without Spark.

One predicate rule holds for every row evaluator:

  * a predicate is evaluated after `rewrite_not`, with SQL
    three-valued logic: a comparison or set test over null is null;
  * NaN satisfies no ordering or equality comparison (IEEE), but it
    does satisfy `!=` and NOT IN; `literal()` rejects a NaN value (use
    `is_nan` / `not_nan`);
  * `is_nan(null)` is false and `not_nan(null)` is true;
  * an integer literal outside the column type's range saturates on
    bind, and a comparison it makes hold for every value binds to
    `not_null` (AlwaysTrue on a required column): null still fails it;
  * a row matches — a read keeps it, a DML statement deletes it —
    exactly when its predicate is TRUE.

Three compilers implement it, one per layer:

  * `compile_evaluator` — partition tuples in the planner
    (evaluators.expression_evaluator);
  * `to_spark_column`    — the JVM read's residual filter and the
    survivors of `overwrite_where`;
  * `to_arrow_expression` — the Arrow reader's residual, SPJ's in-task
    filter and DML row matching (reader.matched_positions).

The metrics evaluators (evaluators.py) prune files under the same rule:
bounds exclude NaN and a NaN-only file matches no comparison.
tests/oracles.py `evaluate` is the per-row reference the tests compare
all three against.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from decimal import Decimal
from enum import Enum
from typing import Any, Iterable, Optional, Sequence

from .conversions import _canonicalize
from .types import (
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FixedType,
    FloatType,
    IcebergType,
    IntegerType,
    LongType,
    NestedField,
    Schema,
    StringType,
    TimestampType,
    TimestampTzType,
    TimeType,
    UUIDType,
)


class Operation(Enum):
    TRUE = "true"
    FALSE = "false"
    IS_NULL = "is_null"
    NOT_NULL = "not_null"
    IS_NAN = "is_nan"
    NOT_NAN = "not_nan"
    LT = "lt"
    LT_EQ = "lt_eq"
    GT = "gt"
    GT_EQ = "gt_eq"
    EQ = "eq"
    NOT_EQ = "not_eq"
    IN = "in"
    NOT_IN = "not_in"
    STARTS_WITH = "starts_with"
    NOT_STARTS_WITH = "not_starts_with"
    AND = "and"
    OR = "or"
    NOT = "not"


_NEGATIONS = {
    Operation.TRUE: Operation.FALSE,
    Operation.FALSE: Operation.TRUE,
    Operation.IS_NULL: Operation.NOT_NULL,
    Operation.NOT_NULL: Operation.IS_NULL,
    Operation.IS_NAN: Operation.NOT_NAN,
    Operation.NOT_NAN: Operation.IS_NAN,
    Operation.LT: Operation.GT_EQ,
    Operation.LT_EQ: Operation.GT,
    Operation.GT: Operation.LT_EQ,
    Operation.GT_EQ: Operation.LT,
    Operation.EQ: Operation.NOT_EQ,
    Operation.NOT_EQ: Operation.EQ,
    Operation.IN: Operation.NOT_IN,
    Operation.NOT_IN: Operation.IN,
    Operation.STARTS_WITH: Operation.NOT_STARTS_WITH,
    Operation.NOT_STARTS_WITH: Operation.STARTS_WITH,
}


def negate_op(op: Operation) -> Operation:
    """ref exprs.go:64-97 (Operation.Negate)."""
    return _NEGATIONS[op]


# ------------------------------------------------------------------ literals

class _Sentinel:
    def __init__(self, name: str):
        self.name = name

    def __repr__(self) -> str:
        return self.name


ABOVE_MAX = _Sentinel("ABOVE_MAX")
BELOW_MIN = _Sentinel("BELOW_MIN")

_INT32_MAX, _INT32_MIN = (1 << 31) - 1, -(1 << 31)
_INT64_MAX, _INT64_MIN = (1 << 63) - 1, -(1 << 63)


@dataclass(frozen=True)
class Literal:
    """A typed literal. `value` is the canonical internal repr
    (epoch days/µs ints for date/timestamps)."""

    value: Any
    type: IcebergType

    def to(self, target: IcebergType):
        """Cast with saturation — ref literals.go:426-507 (To) and
        :231-361 (above-max/below-min markers). Returns Literal,
        ABOVE_MAX, or BELOW_MIN."""
        v, t = self.value, self.type
        if isinstance(target, (IntegerType, LongType)) and isinstance(
            t, (IntegerType, LongType)
        ):
            # range-checked even when the types agree: `literal()` types
            # any int beyond int32 as long, 2**70 included
            lo, hi = (
                (_INT32_MIN, _INT32_MAX)
                if isinstance(target, IntegerType)
                else (_INT64_MIN, _INT64_MAX)
            )
            if v > hi:
                return ABOVE_MAX
            if v < lo:
                return BELOW_MIN
            return self if t == target else Literal(int(v), target)
        if t == target:
            return self
        if isinstance(target, (FloatType, DoubleType)):
            # no saturation: a float column holds ±inf, NaN and null,
            # so `f < 1e39` is not AlwaysTrue (module docstring rule);
            # comparisons run in double on every compiler
            if isinstance(t, (IntegerType, LongType, FloatType, DoubleType, DecimalType)):
                return Literal(float(v), target)
        if isinstance(target, DecimalType):
            if isinstance(t, (IntegerType, LongType)):
                return Literal(Decimal(v).scaleb(0), target)
            if isinstance(t, DecimalType):
                if target.scale == t.scale:
                    return Literal(v, target)
                return None  # scale change not allowed on bind
            if isinstance(t, StringType):
                return Literal(Decimal(str(v)), target)
        if isinstance(target, (DateType, TimeType, TimestampType, TimestampTzType)):
            if isinstance(t, StringType):
                return _parse_datetime_literal(str(v), target)
            if isinstance(t, (IntegerType, LongType)):
                return Literal(int(v), target)
            if isinstance(t, DateType) and isinstance(target, (TimestampType, TimestampTzType)):
                return Literal(int(v) * 86_400_000_000, target)
            if isinstance(t, (TimestampType, TimestampTzType)) and isinstance(target, DateType):
                return Literal(int(v) // 86_400_000_000, target)
            if isinstance(t, (TimestampType, TimestampTzType)):
                return Literal(int(v), target)
        if isinstance(target, StringType):
            return Literal(str(v), target)
        if isinstance(target, (BinaryType, FixedType)) and isinstance(t, (BinaryType, FixedType, StringType)):
            b = v.encode() if isinstance(v, str) else bytes(v)
            if isinstance(target, FixedType) and len(b) != target.length:
                return None
            return Literal(b, target)
        if isinstance(target, UUIDType) and isinstance(t, StringType):
            import uuid

            return Literal(uuid.UUID(str(v)), target)
        if isinstance(target, BooleanType) and isinstance(t, BooleanType):
            return self
        return None

    def increment(self) -> "Literal":
        """ref literals.go:464-478 — boundary math for projections
        (decimals step by one unscaled unit, as the reference does)."""
        if isinstance(self.type, (IntegerType, LongType, DateType, TimeType, TimestampType, TimestampTzType)):
            return Literal(self.value + 1, self.type)
        if isinstance(self.type, DecimalType):
            step = Decimal(1).scaleb(-self.type.scale)
            return Literal(self.value + step, self.type)
        raise TypeError(f"cannot increment {self.type}")

    def decrement(self) -> "Literal":
        if isinstance(self.type, (IntegerType, LongType, DateType, TimeType, TimestampType, TimestampTzType)):
            return Literal(self.value - 1, self.type)
        if isinstance(self.type, DecimalType):
            step = Decimal(1).scaleb(-self.type.scale)
            return Literal(self.value - step, self.type)
        raise TypeError(f"cannot decrement {self.type}")


def _parse_datetime_literal(s: str, target: IcebergType):
    from datetime import date, datetime, time

    if isinstance(target, DateType):
        return Literal((date.fromisoformat(s) - date(1970, 1, 1)).days, target)
    if isinstance(target, TimeType):
        t = time.fromisoformat(s)
        return Literal(
            ((t.hour * 60 + t.minute) * 60 + t.second) * 1_000_000 + t.microsecond, target
        )
    dt = datetime.fromisoformat(s)
    from .conversions import datetime_to_micros

    return Literal(datetime_to_micros(dt), target)


def literal(v: Any, t: Optional[IcebergType] = None) -> Literal:
    """Infer a Literal from a Python value (ref literals.go:82-112).
    NaN is rejected, as Iceberg Java does: no value compares to it, so
    a NaN literal never means what it says."""
    if isinstance(v, float) and math.isnan(v):
        raise ValueError("NaN literal: test NaN with is_nan / not_nan")
    if t is not None:
        return Literal(_canonicalize(t, v), t)
    if isinstance(v, bool):
        return Literal(v, BooleanType())
    if isinstance(v, int):
        return Literal(v, IntegerType() if _INT32_MIN <= v <= _INT32_MAX else LongType())
    if isinstance(v, float):
        return Literal(v, DoubleType())
    if isinstance(v, str):
        return Literal(v, StringType())
    if isinstance(v, bytes):
        return Literal(v, BinaryType())
    if isinstance(v, Decimal):
        exp = -v.as_tuple().exponent
        return Literal(v, DecimalType(max(len(v.as_tuple().digits), exp), max(exp, 0)))
    from datetime import date, datetime

    if isinstance(v, datetime):
        from .conversions import datetime_to_micros

        return Literal(datetime_to_micros(v), TimestampType())
    if isinstance(v, date):
        from .conversions import date_to_days

        return Literal(date_to_days(v), DateType())
    raise TypeError(f"cannot infer literal type for {v!r}")


# ---------------------------------------------------------------- expression

class Expression:
    op: Operation

    def negate(self) -> "Expression":
        raise NotImplementedError

    def __and__(self, other: "Expression") -> "Expression":
        return and_(self, other)

    def __or__(self, other: "Expression") -> "Expression":
        return or_(self, other)

    def __invert__(self) -> "Expression":
        return not_(self)


class AlwaysTrue(Expression):
    op = Operation.TRUE

    def negate(self) -> Expression:
        return AlwaysFalse()

    def __eq__(self, o) -> bool:
        return isinstance(o, AlwaysTrue)

    def __hash__(self):
        return hash("true")

    def __repr__(self) -> str:
        return "AlwaysTrue()"


class AlwaysFalse(Expression):
    op = Operation.FALSE

    def negate(self) -> Expression:
        return AlwaysTrue()

    def __eq__(self, o) -> bool:
        return isinstance(o, AlwaysFalse)

    def __hash__(self):
        return hash("false")

    def __repr__(self) -> str:
        return "AlwaysFalse()"


@dataclass(frozen=True)
class And(Expression):
    left: Expression
    right: Expression
    op = Operation.AND

    def negate(self) -> Expression:
        return or_(self.left.negate(), self.right.negate())


@dataclass(frozen=True)
class Or(Expression):
    left: Expression
    right: Expression
    op = Operation.OR

    def negate(self) -> Expression:
        return and_(self.left.negate(), self.right.negate())


@dataclass(frozen=True)
class Not(Expression):
    child: Expression
    op = Operation.NOT

    def negate(self) -> Expression:
        return self.child


def and_(*exprs: Expression) -> Expression:
    """Constant-folding And — ref exprs.go:197-223."""
    out: Optional[Expression] = None
    for e in exprs:
        if isinstance(e, AlwaysFalse):
            return AlwaysFalse()
        if isinstance(e, AlwaysTrue):
            continue
        out = e if out is None else And(out, e)
    return out if out is not None else AlwaysTrue()


def or_(*exprs: Expression) -> Expression:
    """ref exprs.go:258-284."""
    out: Optional[Expression] = None
    for e in exprs:
        if isinstance(e, AlwaysTrue):
            return AlwaysTrue()
        if isinstance(e, AlwaysFalse):
            continue
        out = e if out is None else Or(out, e)
    return out if out is not None else AlwaysFalse()


def not_(e: Expression) -> Expression:
    """ref exprs.go:163-183 (double-negation / constant folding)."""
    if isinstance(e, Not):
        return e.child
    if isinstance(e, AlwaysTrue):
        return AlwaysFalse()
    if isinstance(e, AlwaysFalse):
        return AlwaysTrue()
    return Not(e)


# ---------------------------------------------------------------- predicates

_UNARY_OPS = {Operation.IS_NULL, Operation.NOT_NULL, Operation.IS_NAN, Operation.NOT_NAN}
_LITERAL_OPS = {
    Operation.LT,
    Operation.LT_EQ,
    Operation.GT,
    Operation.GT_EQ,
    Operation.EQ,
    Operation.NOT_EQ,
    Operation.STARTS_WITH,
    Operation.NOT_STARTS_WITH,
}
_SET_OPS = {Operation.IN, Operation.NOT_IN}


@dataclass(frozen=True)
class UnboundPredicate(Expression):
    op_: Operation
    term: str  # column reference by name (ref exprs.go:388 Reference)
    literals: tuple = ()

    @property
    def op(self) -> Operation:  # type: ignore[override]
        return self.op_

    def negate(self) -> Expression:
        return UnboundPredicate(negate_op(self.op_), self.term, self.literals)

    def bind(self, schema: Schema, case_sensitive: bool = True) -> Expression:
        """ref exprs.go:388-412 (Reference.Bind) + per-op bind logic."""
        field = schema.find_field(self.term, case_sensitive)
        if field is None:
            raise ValueError(f"cannot bind {self.term!r}: not in schema")
        ref = BoundReference(field)
        op = self.op_

        if op in _UNARY_OPS:
            if op == Operation.IS_NULL and field.required:
                return AlwaysFalse()
            if op == Operation.NOT_NULL and field.required:
                return AlwaysTrue()
            if op in (Operation.IS_NAN, Operation.NOT_NAN) and not isinstance(
                field.field_type, (FloatType, DoubleType)
            ):
                raise ValueError(f"{op.value} requires float/double, got {field.field_type}")
            return BoundUnaryPredicate(op, ref)

        if op in _LITERAL_OPS:
            lit = literal(self.literals[0]) if not isinstance(self.literals[0], Literal) else self.literals[0]
            cast = lit.to(field.field_type)
            if cast is None:
                raise ValueError(
                    f"cannot cast literal {lit.value!r} to {field.field_type} for {self.term}"
                )
            if cast is ABOVE_MAX or cast is BELOW_MIN:
                # col <op> (value outside the type's range) — ref
                # literals.go:231-361. A comparison that holds for every
                # value still fails on null (three-valued rule)
                above = cast is ABOVE_MAX
                holds = {
                    Operation.LT: above,
                    Operation.LT_EQ: above,
                    Operation.GT: not above,
                    Operation.GT_EQ: not above,
                    Operation.EQ: False,
                    Operation.NOT_EQ: True,
                }[op]
                return _non_null(field, ref) if holds else AlwaysFalse()
            return BoundLiteralPredicate(op, ref, cast)

        if op in _SET_OPS:
            lits = []
            for l in self.literals:
                cast = (l if isinstance(l, Literal) else literal(l)).to(field.field_type)
                if cast is None:
                    raise ValueError(
                        f"cannot cast literal {l!r} to {field.field_type} for {self.term}"
                    )
                lits.append(cast)  # ABOVE_MAX/BELOW_MIN sentinels drop below
            kept = tuple(
                sorted(
                    {l.value for l in lits if isinstance(l, Literal)},
                    key=lambda v: (str(type(v)), str(v)),
                )
            )
            if op == Operation.IN:
                if not kept:
                    return AlwaysFalse()
                if len(kept) == 1:
                    return BoundLiteralPredicate(
                        Operation.EQ, ref, Literal(kept[0], field.field_type)
                    )
                return BoundSetPredicate(op, ref, frozenset(kept))
            else:  # NOT_IN
                if not kept:
                    return _non_null(field, ref)
                if len(kept) == 1:
                    return BoundLiteralPredicate(
                        Operation.NOT_EQ, ref, Literal(kept[0], field.field_type)
                    )
                return BoundSetPredicate(op, ref, frozenset(kept))

        raise ValueError(f"cannot bind op {op}")


def _non_null(field: NestedField, ref) -> Expression:
    """What a predicate that every value satisfies binds to: the column
    is not null (AlwaysTrue on a required column)."""
    if field.required:
        return AlwaysTrue()
    return BoundUnaryPredicate(Operation.NOT_NULL, ref)


@dataclass(frozen=True)
class BoundReference:
    field: NestedField

    @property
    def name(self) -> str:
        return self.field.name

    @property
    def type(self) -> IcebergType:
        return self.field.field_type


class BoundPredicate(Expression):
    term: BoundReference


@dataclass(frozen=True)
class BoundUnaryPredicate(BoundPredicate):
    op_: Operation
    term: BoundReference

    @property
    def op(self) -> Operation:  # type: ignore[override]
        return self.op_

    def negate(self) -> Expression:
        return BoundUnaryPredicate(negate_op(self.op_), self.term)


@dataclass(frozen=True)
class BoundLiteralPredicate(BoundPredicate):
    op_: Operation
    term: BoundReference
    literal: Literal

    @property
    def op(self) -> Operation:  # type: ignore[override]
        return self.op_

    def negate(self) -> Expression:
        return BoundLiteralPredicate(negate_op(self.op_), self.term, self.literal)


@dataclass(frozen=True)
class BoundSetPredicate(BoundPredicate):
    op_: Operation
    term: BoundReference
    values: frozenset

    @property
    def op(self) -> Operation:  # type: ignore[override]
        return self.op_

    def negate(self) -> Expression:
        return BoundSetPredicate(negate_op(self.op_), self.term, self.values)


# ------------------------------------------------------- public constructors

def ref(name: str) -> str:
    return name


def is_null(name: str) -> UnboundPredicate:
    return UnboundPredicate(Operation.IS_NULL, name)


def not_null(name: str) -> UnboundPredicate:
    return UnboundPredicate(Operation.NOT_NULL, name)


def is_nan(name: str) -> UnboundPredicate:
    return UnboundPredicate(Operation.IS_NAN, name)


def not_nan(name: str) -> UnboundPredicate:
    return UnboundPredicate(Operation.NOT_NAN, name)


def equal(name: str, v: Any) -> UnboundPredicate:
    return UnboundPredicate(Operation.EQ, name, (v,))


def not_equal(name: str, v: Any) -> UnboundPredicate:
    return UnboundPredicate(Operation.NOT_EQ, name, (v,))


def less_than(name: str, v: Any) -> UnboundPredicate:
    return UnboundPredicate(Operation.LT, name, (v,))


def less_than_or_equal(name: str, v: Any) -> UnboundPredicate:
    return UnboundPredicate(Operation.LT_EQ, name, (v,))


def greater_than(name: str, v: Any) -> UnboundPredicate:
    return UnboundPredicate(Operation.GT, name, (v,))


def greater_than_or_equal(name: str, v: Any) -> UnboundPredicate:
    return UnboundPredicate(Operation.GT_EQ, name, (v,))


def is_in(name: str, vs: Iterable[Any]) -> UnboundPredicate:
    return UnboundPredicate(Operation.IN, name, tuple(vs))


def not_in(name: str, vs: Iterable[Any]) -> UnboundPredicate:
    return UnboundPredicate(Operation.NOT_IN, name, tuple(vs))


def starts_with(name: str, v: str) -> UnboundPredicate:
    return UnboundPredicate(Operation.STARTS_WITH, name, (v,))


def not_starts_with(name: str, v: str) -> UnboundPredicate:
    return UnboundPredicate(Operation.NOT_STARTS_WITH, name, (v,))


# ------------------------------------------------------------------ visitors

def bind_expr(expr: Expression, schema: Schema, case_sensitive: bool = True) -> Expression:
    """ref visitors.go:150-187 (BindExpr)."""
    if isinstance(expr, (AlwaysTrue, AlwaysFalse)):
        return expr
    if isinstance(expr, And):
        return and_(
            bind_expr(expr.left, schema, case_sensitive),
            bind_expr(expr.right, schema, case_sensitive),
        )
    if isinstance(expr, Or):
        return or_(
            bind_expr(expr.left, schema, case_sensitive),
            bind_expr(expr.right, schema, case_sensitive),
        )
    if isinstance(expr, Not):
        return not_(bind_expr(expr.child, schema, case_sensitive))
    if isinstance(expr, UnboundPredicate):
        return expr.bind(schema, case_sensitive)
    if isinstance(expr, BoundPredicate):
        return expr
    raise TypeError(f"cannot bind {expr!r}")


def rewrite_not(expr: Expression) -> Expression:
    """Push NOT down via De Morgan — ref visitors.go:384-412."""
    if isinstance(expr, Not):
        return rewrite_not(expr.child.negate())
    if isinstance(expr, And):
        return and_(rewrite_not(expr.left), rewrite_not(expr.right))
    if isinstance(expr, Or):
        return or_(rewrite_not(expr.left), rewrite_not(expr.right))
    return expr


def extract_field_names(expr: Expression) -> set[str]:
    """ref visitors.go:415-462 (ExtractFieldIDs, by name here)."""
    if isinstance(expr, (And, Or)):
        return extract_field_names(expr.left) | extract_field_names(expr.right)
    if isinstance(expr, Not):
        return extract_field_names(expr.child)
    if isinstance(expr, UnboundPredicate):
        return {expr.term}
    if isinstance(expr, BoundPredicate):
        return {expr.term.name}
    return set()


def compile_evaluator(expr: Expression):
    """Compile a bound, NOT-rewritten expression into a closure tree
    returning True exactly when the row's predicate is TRUE (module
    docstring): a null operand makes a leaf False, and Python's float
    comparisons are IEEE. The planner evaluates the projected
    filter once per manifest entry's partition tuple; walking the
    expression per row (isinstance dispatch, op_ chains) is per-entry
    hot-loop work — the walk happens once here, at scan construction."""
    if isinstance(expr, AlwaysTrue):
        return lambda row: True
    if isinstance(expr, AlwaysFalse):
        return lambda row: False
    if isinstance(expr, And):
        left, right = compile_evaluator(expr.left), compile_evaluator(expr.right)
        return lambda row: left(row) and right(row)
    if isinstance(expr, Or):
        left, right = compile_evaluator(expr.left), compile_evaluator(expr.right)
        return lambda row: left(row) or right(row)
    if isinstance(expr, Not):
        child = compile_evaluator(expr.child)
        return lambda row: not child(row)
    if isinstance(expr, BoundUnaryPredicate):
        name = expr.term.name
        op = expr.op_
        if op == Operation.IS_NULL:
            return lambda row: row.get(name) is None
        if op == Operation.NOT_NULL:
            return lambda row: row.get(name) is not None
        if op == Operation.IS_NAN:
            def p_is_nan(row):
                v = row.get(name)
                return v is not None and isinstance(v, float) and math.isnan(v)
            return p_is_nan
        if op == Operation.NOT_NAN:
            def p_not_nan(row):
                v = row.get(name)
                return not (v is not None and isinstance(v, float) and math.isnan(v))
            return p_not_nan
    if isinstance(expr, BoundLiteralPredicate):
        name = expr.term.name
        lv = expr.literal.value
        op = expr.op_
        if op == Operation.EQ:
            def p_eq(row):
                v = row.get(name)
                return v is not None and v == lv
            return p_eq
        if op == Operation.NOT_EQ:
            def p_ne(row):
                v = row.get(name)
                return v is not None and v != lv
            return p_ne
        if op == Operation.LT:
            def p_lt(row):
                v = row.get(name)
                return v is not None and v < lv
            return p_lt
        if op == Operation.LT_EQ:
            def p_le(row):
                v = row.get(name)
                return v is not None and v <= lv
            return p_le
        if op == Operation.GT:
            def p_gt(row):
                v = row.get(name)
                return v is not None and v > lv
            return p_gt
        if op == Operation.GT_EQ:
            def p_ge(row):
                v = row.get(name)
                return v is not None and v >= lv
            return p_ge
        if op == Operation.STARTS_WITH:
            slv = str(lv)
            def p_sw(row):
                v = row.get(name)
                return v is not None and str(v).startswith(slv)
            return p_sw
        if op == Operation.NOT_STARTS_WITH:
            slv = str(lv)
            def p_nsw(row):
                v = row.get(name)
                return v is not None and not str(v).startswith(slv)
            return p_nsw
    if isinstance(expr, BoundSetPredicate):
        name = expr.term.name
        values = expr.values
        if expr.op_ == Operation.IN:
            def p_in(row):
                v = row.get(name)
                return v is not None and v in values
            return p_in
        def p_not_in(row):
            v = row.get(name)
            return v is not None and v not in values
        return p_not_in
    raise TypeError(f"cannot evaluate {expr!r}")


# ------------------------------------------------ spark and arrow compilers

def _python_value(v, t: IcebergType):
    """A literal's internal value as the Python object Spark and Arrow
    compare with: dates and timestamps as date / datetime."""
    from .conversions import days_to_date, micros_to_datetime

    if isinstance(t, DateType):
        return days_to_date(v)
    if isinstance(t, TimestampTzType):
        return micros_to_datetime(v, tz=True)
    if isinstance(t, TimestampType):
        return micros_to_datetime(v, tz=False)
    return v


def _set_values(expr: "BoundSetPredicate") -> list:
    """The set's values for Spark / Arrow (sorted for a stable plan).
    -0.0 == 0.0 under IEEE, but Arrow's hashed isin tells them apart,
    so a float set holding one signed zero gets the other too."""
    vals = sorted(expr.values, key=str)
    if isinstance(expr.term.type, (FloatType, DoubleType)) and 0.0 in vals:
        vals = [v for v in vals if v != 0.0] + [-0.0, 0.0]
    return [_python_value(v, expr.term.type) for v in vals]


def _spark_term(expr: BoundPredicate, zero: bool):
    """The predicate's column. Parquet's dictionary filter compares
    doubles bit by bit (-0.0 != 0.0), so a pushed-down `= 0.0`,
    `<= 0.0`, `>= 0.0` or IN (0.0) skips row groups that hold the other
    signed zero. Against a zero literal a float or double column reads
    as `c + 0.0`: IEEE maps -0.0 to 0.0 and keeps every other value,
    and the comparison stays out of the parquet scan."""
    from pyspark.sql import functions as F

    c = F.col(expr.term.name)
    if zero and isinstance(expr.term.type, (FloatType, DoubleType)):
        return c + F.lit(0.0)
    return c


def to_spark_column(expr: Expression):
    """Compile a bound expression to a Spark Column for the residual row
    filter — the data-plane half of SURVEY §3.1 step 7. Catalyst then
    handles parquet row-group pushdown for free. Spark orders NaN above
    every number, so `>`/`>=` on a float or double column also require
    NOT isnan (the module's IEEE rule); Spark's isnan(null) is false."""
    from pyspark.sql import functions as F

    if isinstance(expr, AlwaysTrue):
        return F.lit(True)
    if isinstance(expr, AlwaysFalse):
        return F.lit(False)
    if isinstance(expr, And):
        return to_spark_column(expr.left) & to_spark_column(expr.right)
    if isinstance(expr, Or):
        return to_spark_column(expr.left) | to_spark_column(expr.right)
    if isinstance(expr, Not):
        return ~to_spark_column(expr.child)
    if isinstance(expr, BoundUnaryPredicate):
        c = F.col(expr.term.name)
        return {
            Operation.IS_NULL: c.isNull(),
            Operation.NOT_NULL: c.isNotNull(),
            Operation.IS_NAN: F.isnan(c),
            Operation.NOT_NAN: ~F.isnan(c),
        }[expr.op_]
    if isinstance(expr, BoundLiteralPredicate):
        c = _spark_term(expr, expr.literal.value == 0)
        lv = F.lit(_python_value(expr.literal.value, expr.literal.type))
        op = expr.op_
        if op == Operation.EQ:
            return c == lv
        if op == Operation.NOT_EQ:
            return c != lv
        if op == Operation.LT:
            return c < lv
        if op == Operation.LT_EQ:
            return c <= lv
        if op in (Operation.GT, Operation.GT_EQ):
            cmp = c > lv if op == Operation.GT else c >= lv
            if isinstance(expr.term.type, (FloatType, DoubleType)):
                return cmp & ~F.isnan(c)
            return cmp
        if op == Operation.STARTS_WITH:
            return c.startswith(str(expr.literal.value))
        if op == Operation.NOT_STARTS_WITH:
            return ~c.startswith(str(expr.literal.value))
    if isinstance(expr, BoundSetPredicate):
        c = _spark_term(expr, any(v == 0 for v in expr.values))
        col_in = c.isin([F.lit(v) for v in _set_values(expr)])
        return col_in if expr.op_ == Operation.IN else ~col_in
    if isinstance(expr, UnboundPredicate):
        raise ValueError("bind the expression before compiling to Spark")
    raise TypeError(f"cannot compile {expr!r}")


def to_arrow_expression(expr: Expression):
    """Compile a BOUND expression to a pyarrow compute expression — the
    residual of every executor-side Arrow read (the wide reader, SPJ's
    in-task join) and the row matcher of DML (reader.matched_positions),
    where rows never pass through a Spark Column. Same rule as
    to_spark_column (module docstring): a predicate over null evaluates
    to null and Table.filter drops it; Arrow compares floats by IEEE."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(expr, AlwaysTrue):
        return pc.scalar(True)
    if isinstance(expr, AlwaysFalse):
        return pc.scalar(False)
    if isinstance(expr, And):
        return to_arrow_expression(expr.left) & to_arrow_expression(expr.right)
    if isinstance(expr, Or):
        return to_arrow_expression(expr.left) | to_arrow_expression(expr.right)
    if isinstance(expr, Not):
        return ~to_arrow_expression(expr.child)
    if isinstance(expr, BoundUnaryPredicate):
        f = pc.field(expr.term.name)
        if expr.op_ == Operation.IS_NULL:
            return f.is_null()
        if expr.op_ == Operation.NOT_NULL:
            return f.is_valid()
        if expr.op_ == Operation.IS_NAN:
            return f.is_nan()
        if expr.op_ == Operation.NOT_NAN:
            # Arrow's is_nan(null) is null; not_nan(null) is true
            return ~f.is_nan() | f.is_null()
    if isinstance(expr, BoundLiteralPredicate):
        f = pc.field(expr.term.name)
        v = _python_value(expr.literal.value, expr.literal.type)
        op = expr.op_
        if op == Operation.EQ:
            return f == v
        if op == Operation.NOT_EQ:
            return f != v
        if op == Operation.LT:
            return f < v
        if op == Operation.LT_EQ:
            return f <= v
        if op == Operation.GT:
            return f > v
        if op == Operation.GT_EQ:
            return f >= v
        if op == Operation.STARTS_WITH:
            return pc.starts_with(f, str(expr.literal.value))
        if op == Operation.NOT_STARTS_WITH:
            return ~pc.starts_with(f, str(expr.literal.value))
    if isinstance(expr, BoundSetPredicate):
        f = pc.field(expr.term.name)
        if isinstance(expr.term.type, FloatType):
            # isin casts its value set to the column type: widen the
            # column instead, or 1e39 would round onto float32 inf
            f = f.cast(pa.float64())
        isin = f.isin(_set_values(expr))
        if expr.op_ == Operation.IN:
            return isin
        # Arrow's isin maps null → false (not null), so a bare ~isin
        # would KEEP null rows; SQL NOT IN drops them
        return ~isin & f.is_valid()
    if isinstance(expr, UnboundPredicate):
        raise ValueError("bind the expression before compiling to Arrow")
    raise TypeError(f"cannot compile {expr!r} to an Arrow expression")
