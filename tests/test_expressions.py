"""Expression algebra semantics — ports cases from the reference's
exprs_test.go (folding, negation, binding) and literals_test.go
(saturating casts)."""

from __future__ import annotations

import pytest

from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg import types as ty

from tests.oracles import evaluate

SCHEMA = ty.Schema.of(
    0,
    ty.NestedField(1, "id", ty.LongType(), required=True),
    ty.NestedField(2, "name", ty.StringType()),
    ty.NestedField(3, "score", ty.FloatType()),
    ty.NestedField(4, "small", ty.IntegerType()),
    ty.NestedField(5, "ts", ty.TimestampType()),
)


def test_constant_folding():
    t, f = E.AlwaysTrue(), E.AlwaysFalse()
    p = E.equal("id", 1)
    assert E.and_(t, p) == p
    assert E.and_(f, p) == f
    assert E.or_(t, p) == t
    assert E.or_(f, p) == p
    assert E.not_(E.not_(p)) == p
    assert E.not_(t) == f


def test_negation_ops():
    assert E.negate_op(E.Operation.LT) == E.Operation.GT_EQ
    assert E.negate_op(E.Operation.IS_NULL) == E.Operation.NOT_NULL
    assert E.negate_op(E.Operation.IN) == E.Operation.NOT_IN
    assert E.negate_op(E.Operation.STARTS_WITH) == E.Operation.NOT_STARTS_WITH


def test_rewrite_not_de_morgan():
    p, q = E.equal("id", 1), E.equal("name", "x")
    e = E.Not(E.And(p, q))
    out = E.rewrite_not(e)
    assert isinstance(out, E.Or)
    assert out.left == p.negate() and out.right == q.negate()


def test_bind_simple():
    b = E.equal("id", 5).bind(SCHEMA)
    assert isinstance(b, E.BoundLiteralPredicate)
    assert b.term.field.field_id == 1
    assert b.literal.value == 5 and isinstance(b.literal.type, ty.LongType)


def test_bind_case_sensitivity():
    with pytest.raises(ValueError):
        E.equal("ID", 5).bind(SCHEMA, case_sensitive=True)
    b = E.equal("ID", 5).bind(SCHEMA, case_sensitive=False)
    assert isinstance(b, E.BoundLiteralPredicate)


def test_bind_required_null_checks():
    assert E.is_null("id").bind(SCHEMA) == E.AlwaysFalse()
    assert E.not_null("id").bind(SCHEMA) == E.AlwaysTrue()
    assert isinstance(E.is_null("name").bind(SCHEMA), E.BoundUnaryPredicate)


def test_bind_nan_requires_float():
    with pytest.raises(ValueError):
        E.is_nan("id").bind(SCHEMA)
    assert isinstance(E.is_nan("score").bind(SCHEMA), E.BoundUnaryPredicate)


def test_saturating_int32():
    # literals_test.go above-max/below-min semantics; a comparison that
    # holds for every value of the optional column still fails on null
    nn = E.not_null("small").bind(SCHEMA)
    assert E.less_than("small", 1 << 40).bind(SCHEMA) == nn
    assert E.greater_than("small", 1 << 40).bind(SCHEMA) == E.AlwaysFalse()
    assert E.equal("small", 1 << 40).bind(SCHEMA) == E.AlwaysFalse()
    assert E.not_equal("small", 1 << 40).bind(SCHEMA) == nn
    assert E.less_than("small", -(1 << 40)).bind(SCHEMA) == E.AlwaysFalse()
    assert E.greater_than_or_equal("small", -(1 << 40)).bind(SCHEMA) == nn


def test_saturated_comparisons_do_not_match_null():
    """Every saturated comparison that holds for all values binds to
    not_null on an optional column (AlwaysTrue on a required one), so
    the null row fails it; a long literal beyond int64 saturates too
    instead of reaching Arrow as an out-of-range long."""
    import pyarrow as pa

    big, huge = 1 << 40, 1 << 70
    opt = ty.Schema.of(
        0,
        ty.NestedField(1, "i", ty.IntegerType()),
        ty.NestedField(2, "l", ty.LongType()),
        ty.NestedField(3, "r", ty.IntegerType(), required=True),
    )
    for expr, col in [
        (E.less_than("i", big), "i"),
        (E.less_than_or_equal("i", big), "i"),
        (E.not_equal("i", big), "i"),
        (E.greater_than("i", -big), "i"),
        (E.not_in("i", [big, big * 2]), "i"),
        (E.less_than("l", huge), "l"),
        (E.not_equal("l", -huge), "l"),
        (E.not_in("l", [huge, -huge]), "l"),
    ]:
        b = E.bind_expr(expr, opt)
        assert b == E.not_null(col).bind(opt), expr
        assert not evaluate(b, {"i": None, "l": None, "r": 1})
        assert evaluate(b, {"i": 3, "l": 3, "r": 1})
        tbl = pa.table({col: pa.array([3, None], pa.int32() if col == "i" else pa.int64())})
        assert tbl.filter(E.to_arrow_expression(b))[col].to_pylist() == [3]
    for expr in [E.greater_than("l", huge), E.equal("l", huge), E.is_in("l", [huge])]:
        assert E.bind_expr(expr, opt) == E.AlwaysFalse()
    assert E.bind_expr(E.less_than("r", big), opt) == E.AlwaysTrue()
    assert E.bind_expr(E.not_in("r", [big]), opt) == E.AlwaysTrue()


def test_in_degenerate():
    # predicates.go:55-81 — dedup, degenerate → Eq / AlwaysFalse
    assert E.is_in("id", []).bind(SCHEMA) == E.AlwaysFalse()
    b = E.is_in("id", [7]).bind(SCHEMA)
    assert isinstance(b, E.BoundLiteralPredicate) and b.op_ == E.Operation.EQ
    b2 = E.is_in("id", [7, 7, 8]).bind(SCHEMA)
    assert isinstance(b2, E.BoundSetPredicate) and b2.values == frozenset({7, 8})
    assert E.not_in("id", []).bind(SCHEMA) == E.AlwaysTrue()


def test_string_to_timestamp_bind():
    b = E.less_than("ts", "1995-01-01T00:00:00").bind(SCHEMA)
    assert isinstance(b, E.BoundLiteralPredicate)
    assert b.literal.value == 788918400000000  # µs since epoch


def test_row_evaluation():
    expr = E.and_(
        E.greater_than("id", 10).bind(SCHEMA),
        E.starts_with("name", "ab").bind(SCHEMA),
    )
    assert evaluate(expr, {"id": 11, "name": "abc"})
    assert not evaluate(expr, {"id": 11, "name": "xbc"})
    assert not evaluate(expr, {"id": 9, "name": "abc"})
    assert not evaluate(expr, {"id": None, "name": "abc"})


def test_evaluate_nan():
    e = E.is_nan("score").bind(SCHEMA)
    assert evaluate(e, {"score": float("nan")})
    assert not evaluate(e, {"score": 1.0})
    assert not evaluate(e, {"score": None})


def test_nan_literals_rejected():
    """NaN compares to nothing, so a NaN literal never means what it
    says: binding one fails and points at is_nan / not_nan."""
    nan = float("nan")
    for e in (
        E.equal("score", nan),
        E.greater_than("score", nan),
        E.is_in("score", [1.0, nan]),
    ):
        with pytest.raises(ValueError, match="is_nan"):
            E.bind_expr(e, SCHEMA)
    with pytest.raises(ValueError, match="is_nan"):
        E.literal(nan, ty.DoubleType())


def test_float_literals_do_not_saturate():
    """A float column holds ±inf, NaN and null: `score = inf` can match,
    and `score < 1e39` is not AlwaysTrue (inf, NaN and null fail it)."""
    b = E.bind_expr(E.equal("score", float("inf")), SCHEMA)
    assert isinstance(b, E.BoundLiteralPredicate)
    assert evaluate(b, {"score": float("inf")})
    b = E.bind_expr(E.less_than("score", 1e39), SCHEMA)
    assert isinstance(b, E.BoundLiteralPredicate)
    assert evaluate(b, {"score": 3.0e38})
    assert not evaluate(b, {"score": float("inf")})
    assert not evaluate(b, {"score": float("nan")})
    assert not evaluate(b, {"score": None})


def test_literal_increment_decrement():
    l = E.literal(5, ty.IntegerType())
    assert l.increment().value == 6 and l.decrement().value == 4
    with pytest.raises(TypeError):
        E.literal("a").increment()
