"""The four-level pruning cascade's decision kernels (SURVEY §4.1):

  1. inclusive_projection — rewrite a row filter through the partition
     spec's transforms into partition-space (ref evaluators.go:561-609,
     transforms.go Project methods + truncateNumber/truncateArray
     boundary math at transforms.go:989-1060);
  2. manifest_evaluator — prune whole manifests via partition field
     summaries (ref evaluators.go:39-534);
  3. expression_evaluator — evaluate the projected filter on each
     file's concrete partition tuple (ref visitors.go:189-381);
  4. inclusive_metrics_evaluator — prune files via column metrics:
     lower/upper bounds + null/NaN counts (ref evaluators.go:666-1198).

All pure Python, all inclusive (false positives allowed, false
negatives never) — soundness is what the pruning-on-vs-off correctness
entry checks. Parquet row-group pruning (level 5) is delegated to
Spark's parquet filter pushdown.
"""

from __future__ import annotations

import math
from operator import ge, gt, le, lt
from typing import Any, Callable, Optional

import numpy as np

from .conversions import from_bytes
from .expressions import (
    AlwaysFalse,
    AlwaysTrue,
    And,
    BoundLiteralPredicate,
    BoundPredicate,
    BoundSetPredicate,
    BoundUnaryPredicate,
    Expression,
    Literal,
    Not,
    Operation,
    Or,
    UnboundPredicate,
    and_,
    bind_expr,
    compile_evaluator,
    literal,
    or_,
    rewrite_not,
)
from .transforms import (
    BucketTransform,
    DayTransform,
    HourTransform,
    IdentityTransform,
    MonthTransform,
    Transform,
    TruncateTransform,
    VoidTransform,
    YearTransform,
)
from .types import (
    BinaryType,
    DateType,
    DoubleType,
    FloatType,
    IcebergType,
    IntegerType,
    LongType,
    NestedField,
    Schema,
    StringType,
    StructType,
    TimestampType,
    TimestampTzType,
    TimeType,
)

ROWS_MIGHT_MATCH, ROWS_CANNOT_MATCH = True, False
IN_PREDICATE_LIMIT = 200  # ref evaluators.go inPredicateLimit


# ------------------------------------------------------------- projection

def _project_literal(t: Transform, lit: Literal, src: IcebergType) -> Literal:
    v = t.apply(lit.value, src)
    return Literal(v, t.result_type(src))


def project_predicate(
    t: Transform, name: str, pred: BoundPredicate
) -> Optional[UnboundPredicate]:
    """Transform.Project — rewrite a bound row predicate into an unbound
    predicate on the partition column `name`. Returns None when the
    transform cannot answer for that predicate (inclusive fallback)."""
    src = pred.term.type

    if isinstance(t, VoidTransform):
        return None

    if isinstance(pred, BoundUnaryPredicate):
        if pred.op_ in (Operation.IS_NAN, Operation.NOT_NAN) and not isinstance(
            t, IdentityTransform
        ):
            # NaN checks don't survive value-mangling transforms (a
            # bucket/truncate partition column isn't float) — no constraint
            return None
        return UnboundPredicate(pred.op_, name)

    if isinstance(t, IdentityTransform):
        if isinstance(pred, BoundLiteralPredicate):
            return UnboundPredicate(pred.op_, name, (pred.literal,))
        if isinstance(pred, BoundSetPredicate):
            return UnboundPredicate(
                pred.op_, name, tuple(Literal(v, src) for v in sorted(pred.values, key=str))
            )
        return None

    if isinstance(t, BucketTransform):
        # ref transforms.go:349-374 — only EQ / IN project through a hash
        if isinstance(pred, BoundLiteralPredicate) and pred.op_ == Operation.EQ:
            return UnboundPredicate(
                Operation.EQ, name, (_project_literal(t, pred.literal, src),)
            )
        if isinstance(pred, BoundSetPredicate) and pred.op_ == Operation.IN:
            lits = tuple(
                _project_literal(t, Literal(v, src), src)
                for v in sorted(pred.values, key=str)
            )
            return UnboundPredicate(Operation.IN, name, lits)
        return None

    # order-preserving transforms
    if isinstance(t, TruncateTransform) and isinstance(src, (StringType, BinaryType)):
        # truncateArray — ref transforms.go:1018-1040
        if isinstance(pred, BoundLiteralPredicate):
            if pred.op_ == Operation.NOT_STARTS_WITH:
                # only sound when the whole prefix fits in the truncate
                # width: then every row of a partition shares the prefix
                # decision. A longer prefix truncates to a value the
                # partition CAN start with while rows still mismatch —
                # projecting would prune matching rows (unsound).
                if len(pred.literal.value) <= t.width:
                    return UnboundPredicate(
                        Operation.NOT_STARTS_WITH,
                        name,
                        (_project_literal(t, pred.literal, src),),
                    )
                return None
            lit = _project_literal(t, pred.literal, src)
            op_map = {
                Operation.LT: Operation.LT_EQ,
                Operation.LT_EQ: Operation.LT_EQ,
                Operation.GT: Operation.GT_EQ,
                Operation.GT_EQ: Operation.GT_EQ,
                Operation.EQ: Operation.EQ,
                Operation.STARTS_WITH: Operation.STARTS_WITH,
            }
            if pred.op_ in op_map:
                return UnboundPredicate(op_map[pred.op_], name, (lit,))
            return None
        if isinstance(pred, BoundSetPredicate) and pred.op_ == Operation.IN:
            lits = tuple(
                _project_literal(t, Literal(v, src), src)
                for v in sorted(pred.values, key=str)
            )
            return UnboundPredicate(Operation.IN, name, lits)
        return None

    if isinstance(t, (TruncateTransform, YearTransform, MonthTransform, DayTransform, HourTransform)):
        # truncateNumber — ref transforms.go:989-1016
        if isinstance(pred, BoundLiteralPredicate):
            b = pred.literal
            if pred.op_ == Operation.LT:
                return UnboundPredicate(
                    Operation.LT_EQ, name, (_project_literal(t, b.decrement(), src),)
                )
            if pred.op_ == Operation.LT_EQ:
                return UnboundPredicate(
                    Operation.LT_EQ, name, (_project_literal(t, b, src),)
                )
            if pred.op_ == Operation.GT:
                return UnboundPredicate(
                    Operation.GT_EQ, name, (_project_literal(t, b.increment(), src),)
                )
            if pred.op_ == Operation.GT_EQ:
                return UnboundPredicate(
                    Operation.GT_EQ, name, (_project_literal(t, b, src),)
                )
            if pred.op_ == Operation.EQ:
                return UnboundPredicate(
                    Operation.EQ, name, (_project_literal(t, b, src),)
                )
            return None
        if isinstance(pred, BoundSetPredicate) and pred.op_ == Operation.IN:
            lits = tuple(
                _project_literal(t, Literal(v, src), src)
                for v in sorted(pred.values, key=str)
            )
            return UnboundPredicate(Operation.IN, name, lits)
        return None

    return None


def partition_type(spec, schema: Schema) -> StructType:
    """StructType of the partition tuple for a spec (partitions.py owns
    the spec class; duck-typed here to keep this module Spark-free)."""
    fields = []
    for pf in spec.fields:
        src = schema.find_field_by_id(pf.source_id)
        if src is None:
            raise ValueError(f"partition source field {pf.source_id} not in schema")
        fields.append(
            NestedField(pf.field_id, pf.name, pf.transform.result_type(src.field_type))
        )
    return StructType(*fields)


def inclusive_projection(
    schema: Schema, spec, case_sensitive: bool = True
) -> Callable[[Expression], Expression]:
    """ref evaluators.go:561-609 (newInclusiveProjection)."""

    def project(row_filter: Expression) -> Expression:
        bound = bind_expr(rewrite_not(row_filter), schema, case_sensitive)
        return _project_expr(bound)

    def _project_expr(e: Expression) -> Expression:
        if isinstance(e, (AlwaysTrue, AlwaysFalse)):
            return e
        if isinstance(e, And):
            return and_(_project_expr(e.left), _project_expr(e.right))
        if isinstance(e, Or):
            return or_(_project_expr(e.left), _project_expr(e.right))
        if isinstance(e, Not):
            raise ValueError("rewrite_not must run before projection")
        if isinstance(e, BoundPredicate):
            parts = []
            for pf in spec.fields:
                if pf.source_id == e.term.field.field_id:
                    p = project_predicate(pf.transform, pf.name, e)
                    if p is not None:
                        parts.append(p)
            # inclusive: unprojectable predicate → no constraint
            return and_(*parts) if parts else AlwaysTrue()
        raise TypeError(f"cannot project {e!r}")

    return project


# ------------------------------------------------------- manifest evaluator

def _is_nan_lit(v: Any) -> bool:
    return isinstance(v, float) and math.isnan(v)


def manifest_evaluator(
    spec, schema: Schema, partition_filter: Expression, case_sensitive: bool = True
) -> Callable[[Any], bool]:
    """Prune manifests by partition field summaries —
    ref evaluators.go:39-534. `partition_filter` is already in
    partition space (output of inclusive_projection)."""
    part_schema = Schema(0, partition_type(spec, schema).fields)
    bound = bind_expr(rewrite_not(partition_filter), part_schema, case_sensitive)
    pos_by_name = {f.name: i for i, f in enumerate(part_schema.fields)}

    def eval_manifest(manifest) -> bool:
        parts = manifest.partitions
        if not parts:
            return ROWS_MIGHT_MATCH
        return _eval(bound, parts)

    def _bounds(field, t: IcebergType):
        lo = from_bytes(t, field.lower_bound) if field.lower_bound is not None else None
        hi = from_bytes(t, field.upper_bound) if field.upper_bound is not None else None
        return lo, hi

    def _eval(e: Expression, parts) -> bool:
        if isinstance(e, AlwaysTrue):
            return ROWS_MIGHT_MATCH
        if isinstance(e, AlwaysFalse):
            return ROWS_CANNOT_MATCH
        if isinstance(e, And):
            return _eval(e.left, parts) and _eval(e.right, parts)
        if isinstance(e, Or):
            return _eval(e.left, parts) or _eval(e.right, parts)
        if isinstance(e, Not):
            return not _eval(e.child, parts)

        assert isinstance(e, BoundPredicate)
        field = parts[pos_by_name[e.term.name]]
        t = e.term.type
        op = e.op_

        if op == Operation.IS_NULL:
            return field.contains_null  # evaluators.go:211
        if op == Operation.NOT_NULL:
            # evaluators.go:222-236
            all_null = field.contains_null and field.lower_bound is None
            if all_null and isinstance(t, (FloatType, DoubleType)):
                all_null = field.contains_nan is not None and not field.contains_nan
            return ROWS_CANNOT_MATCH if all_null else ROWS_MIGHT_MATCH
        if op == Operation.IS_NAN:
            if field.contains_nan is not None and not field.contains_nan:
                return ROWS_CANNOT_MATCH
            return ROWS_MIGHT_MATCH
        if op == Operation.NOT_NAN:
            # all-NaN manifests: contains_nan true, no bounds, no nulls
            if (
                field.contains_nan is True
                and not field.contains_null
                and field.lower_bound is None
            ):
                return ROWS_CANNOT_MATCH
            return ROWS_MIGHT_MATCH

        if isinstance(e, BoundLiteralPredicate):
            lit = e.literal.value
            if op == Operation.LT:
                lo, _ = _bounds(field, t)
                if field.lower_bound is None or lit <= lo:
                    return ROWS_CANNOT_MATCH
                return ROWS_MIGHT_MATCH
            if op == Operation.LT_EQ:
                lo, _ = _bounds(field, t)
                if field.lower_bound is None or lit < lo:
                    return ROWS_CANNOT_MATCH
                return ROWS_MIGHT_MATCH
            if op == Operation.GT:
                _, hi = _bounds(field, t)
                if field.upper_bound is None or lit >= hi:
                    return ROWS_CANNOT_MATCH
                return ROWS_MIGHT_MATCH
            if op == Operation.GT_EQ:
                _, hi = _bounds(field, t)
                if field.upper_bound is None or lit > hi:
                    return ROWS_CANNOT_MATCH
                return ROWS_MIGHT_MATCH
            if op == Operation.EQ:
                if field.lower_bound is None or field.upper_bound is None:
                    return ROWS_CANNOT_MATCH
                lo, hi = _bounds(field, t)
                if lo > lit or lit > hi:
                    return ROWS_CANNOT_MATCH
                return ROWS_MIGHT_MATCH
            if op == Operation.NOT_EQ:
                return ROWS_MIGHT_MATCH  # bounds aren't exact min/max
            if op == Operation.STARTS_WITH:
                # evaluators.go:397-464
                prefix = _as_str(lit)
                if field.lower_bound is None or field.upper_bound is None:
                    return ROWS_CANNOT_MATCH
                lo, hi = _bounds(field, t)
                lo_s = _as_str(lo)[: len(prefix)]
                hi_s = _as_str(hi)[: len(prefix)]
                if lo_s > prefix or hi_s < prefix:
                    return ROWS_CANNOT_MATCH
                return ROWS_MIGHT_MATCH
            if op == Operation.NOT_STARTS_WITH:
                # evaluators.go:466-517
                if field.contains_null or field.lower_bound is None or field.upper_bound is None:
                    return ROWS_MIGHT_MATCH
                prefix = _as_str(lit)
                lo_s, hi_s = _as_str(_bounds(field, t)[0]), _as_str(_bounds(field, t)[1])
                if len(lo_s) >= len(prefix) and lo_s.startswith(prefix):
                    if len(hi_s) >= len(prefix) and hi_s.startswith(prefix):
                        return ROWS_CANNOT_MATCH
                return ROWS_MIGHT_MATCH

        if isinstance(e, BoundSetPredicate):
            if op == Operation.IN:
                if field.lower_bound is None:
                    return ROWS_CANNOT_MATCH
                if len(e.values) > IN_PREDICATE_LIMIT:
                    return ROWS_MIGHT_MATCH
                lo, hi = _bounds(field, t)
                if all(v < lo for v in e.values):
                    return ROWS_CANNOT_MATCH
                if field.upper_bound is not None and all(v > hi for v in e.values):
                    return ROWS_CANNOT_MATCH
                return ROWS_MIGHT_MATCH
            if op == Operation.NOT_IN:
                return ROWS_MIGHT_MATCH
        raise TypeError(f"manifest evaluator cannot handle {e!r}")

    return eval_manifest


def _as_str(v: Any) -> str:
    return v.decode("utf-8", "surrogateescape") if isinstance(v, bytes) else str(v)


# -------------------------------------------------------- metrics evaluator

def metrics_field_ids(
    schema: Schema, expr: Expression, case_sensitive: bool = True
) -> tuple[int, ...]:
    """Field ids whose column stats `inclusive_metrics_evaluator(schema,
    expr)` reads — the `stats_ids` a planner passes to scan_manifest."""
    ids: set[int] = set()

    def walk(e: Expression) -> None:
        if isinstance(e, (And, Or)):
            walk(e.left)
            walk(e.right)
        elif isinstance(e, Not):
            walk(e.child)
        elif isinstance(e, BoundPredicate):
            ids.add(e.term.field.field_id)

    walk(bind_expr(rewrite_not(expr), schema, case_sensitive))
    return tuple(sorted(ids))


def _bound_dtype(t: IcebergType):
    """Wire dtype of a fixed-width single-value bound, or None."""
    if isinstance(t, (IntegerType, DateType)):
        return np.dtype("<i4")
    if isinstance(t, (LongType, TimeType, TimestampType, TimestampTzType)):
        return np.dtype("<i8")
    if isinstance(t, FloatType):
        return np.dtype("<f4")
    if isinstance(t, DoubleType):
        return np.dtype("<f8")
    return None


def _present(raw) -> np.ndarray:
    n, absent = len(raw), raw.count(None)
    if absent in (0, n):
        return np.full(n, absent == 0)
    return np.fromiter((v is not None for v in raw), bool, n)


class _Bounds:
    """One block's lower or upper bounds of one column, decoded once:
    `values` is an int64/float64 array for fixed-width types (0 where
    absent) and a list of Python values (None where absent) otherwise."""

    __slots__ = ("values", "present")

    def __init__(self, t: IcebergType, raw):
        self.present = _present(raw)
        dt = _bound_dtype(t)
        if dt is None:
            self.values = [None if b is None else from_bytes(t, b) for b in raw]
            return
        wide = np.float64 if dt.kind == "f" else np.int64
        filled = raw if self.present.all() else [
            b"\0" * dt.itemsize if b is None else b for b in raw
        ]
        if set(map(len, filled)) <= {dt.itemsize}:
            self.values = np.frombuffer(b"".join(filled), dt).astype(wide)
        else:  # e.g. 4-byte bounds of a column promoted to long/double
            self.values = np.array(
                [0 if b is None else from_bytes(t, b) for b in raw], dtype=wide
            )

    def compare(self, op, lit) -> np.ndarray:
        """Entries whose bound is present, not NaN, and `op(bound, lit)`."""
        v = self.values
        if isinstance(v, np.ndarray):
            exact = (
                type(lit) is float
                if v.dtype.kind == "f"
                else type(lit) is int and -(1 << 63) <= lit < (1 << 63)
            )
            if exact:  # NaN bounds compare False, as the guard requires
                return self.present & op(v, lit)
            v = v.tolist()
        return np.fromiter(
            (
                p and not _is_nan_lit(x) and op(x, lit)
                for x, p in zip(v, self.present.tolist())
            ),
            bool,
            len(v),
        )

    def python(self) -> list:
        """Python values, None where absent."""
        v = self.values
        if isinstance(v, np.ndarray):
            v = v.tolist()
        return [x if p else None for x, p in zip(v, self.present.tolist())]


# Stats columns derived from a block, memoized on it (`block.derived`):
# a cached manifest block is re-evaluated by every later plan, which
# then pays only the literal comparisons.


def _count(block, fid: int, which: int):
    """(values, present) of stats column `which` (0 value, 1 null,
    2 NaN counts) of field `fid`."""

    def make():
        raw = block.stats(fid)[which]
        present = _present(raw)
        filled = raw if present.all() else [0 if v is None else v for v in raw]
        return np.array(filled, dtype=np.int64), present

    return block.derived(("count", fid, which), make)


def _nc_is(block, fid: int, pred) -> np.ndarray:
    nc, nc_p = _count(block, fid, 1)
    return nc_p & pred(nc)


def _nulls_only(block, fid: int) -> np.ndarray:
    def make():
        vc, vc_p = _count(block, fid, 0)
        nc, nc_p = _count(block, fid, 1)
        return vc_p & nc_p & (vc == nc)

    return block.derived(("nulls_only", fid), make)


def _nans_only(block, fid: int) -> np.ndarray:
    def make():
        vc, vc_p = _count(block, fid, 0)
        nan, nan_p = _count(block, fid, 2)
        return nan_p & vc_p & (nan == vc)

    return block.derived(("nans_only", fid), make)


def _gated(block, fid: int) -> np.ndarray:
    """Nulls-only or NaNs-only entries: no value of theirs can compare."""
    return block.derived(
        ("gated", fid), lambda: _nulls_only(block, fid) | _nans_only(block, fid)
    )


def _lower(block, fid: int, t: IcebergType) -> _Bounds:
    return block.derived(("lower", fid, t), lambda: _Bounds(t, block.stats(fid)[3]))


def _upper(block, fid: int, t: IcebergType) -> _Bounds:
    return block.derived(("upper", fid, t), lambda: _Bounds(t, block.stats(fid)[4]))


def inclusive_metrics_evaluator(
    schema: Schema, expr: Expression, case_sensitive: bool = True, include_empty_files: bool = False
) -> Callable[[Any], np.ndarray]:
    """Prune data files by column metrics — ref evaluators.go:666-1198.

    Evaluates a whole ManifestBlock per call and returns one bool per
    entry (True = rows might match). The block supplies `record_count`
    (int64 array) and `stats(field_id)`: per-entry value / null / NaN
    counts and serialized lower / upper bounds, None where absent.

    The bound expression is compiled once per scan into a tree of
    per-leaf functions over the block's columns. Each stats column is
    decoded once per block and memoized on it (`block.derived`):
    fixed-width bounds (int, long, date, time, timestamp, float,
    double) with one numpy pass, every other type with one
    `from_bytes` pass. Verdicts equal the reference's
    per-file evaluation, kept in tests/oracles.py as the twin that
    tests/test_evaluators.py and the prune fuzz compare against."""
    bound = bind_expr(rewrite_not(expr), schema, case_sensitive)

    def compile_node(e: Expression) -> Callable[[Any], np.ndarray]:
        if isinstance(e, AlwaysTrue):
            return lambda b: np.ones(len(b), bool)
        if isinstance(e, AlwaysFalse):
            return lambda b: np.zeros(len(b), bool)
        if isinstance(e, And):
            left, right = compile_node(e.left), compile_node(e.right)
            return lambda b: left(b) & right(b)
        if isinstance(e, Or):
            left, right = compile_node(e.left), compile_node(e.right)
            return lambda b: left(b) | right(b)
        if isinstance(e, Not):
            child = compile_node(e.child)
            return lambda b: ~child(b)

        assert isinstance(e, BoundPredicate)
        fid = e.term.field.field_id
        t = e.term.type
        op = e.op_

        if op == Operation.IS_NULL:
            return lambda b: ~_nc_is(b, fid, lambda nc: nc == 0)
        if op == Operation.NOT_NULL:
            return lambda b: ~_nulls_only(b, fid)
        if op == Operation.IS_NAN:
            def p_is_nan(b):
                nan, nan_p = _count(b, fid, 2)
                return ~((nan_p & (nan == 0)) | _nulls_only(b, fid))
            return p_is_nan
        if op == Operation.NOT_NAN:
            return lambda b: ~_nans_only(b, fid)

        if isinstance(e, BoundLiteralPredicate):
            lit = e.literal.value
            if op == Operation.LT:
                return lambda b: ~(_gated(b, fid) | _lower(b, fid, t).compare(ge, lit))
            if op == Operation.LT_EQ:
                return lambda b: ~(_gated(b, fid) | _lower(b, fid, t).compare(gt, lit))
            if op == Operation.GT:
                return lambda b: ~(_gated(b, fid) | _upper(b, fid, t).compare(le, lit))
            if op == Operation.GT_EQ:
                return lambda b: ~(_gated(b, fid) | _upper(b, fid, t).compare(lt, lit))
            if op == Operation.EQ:
                return lambda b: ~(
                    _gated(b, fid)
                    | _lower(b, fid, t).compare(gt, lit)
                    | _upper(b, fid, t).compare(lt, lit)
                )
            if op == Operation.NOT_EQ:
                return lambda b: np.ones(len(b), bool)
            if op == Operation.STARTS_WITH:
                prefix = _as_str(lit)
                np_ = len(prefix)

                def p_sw(b):
                    lo = _lower(b, fid, t).python()
                    hi = _upper(b, fid, t).python()
                    out = np.fromiter(
                        (
                            (lv is None or _as_str(lv)[:np_] <= prefix)
                            and (hv is None or _as_str(hv)[:np_] >= prefix)
                            for lv, hv in zip(lo, hi)
                        ),
                        bool,
                        len(b),
                    )
                    return out & ~_nulls_only(b, fid)
                return p_sw
            if op == Operation.NOT_STARTS_WITH:
                # ref evaluators.go:1143-1195
                prefix = _as_str(lit)

                def p_nsw(b):
                    lo = _lower(b, fid, t).python()
                    hi = _upper(b, fid, t).python()
                    both = np.fromiter(
                        (
                            lv is not None
                            and hv is not None
                            and _as_str(lv).startswith(prefix)
                            and _as_str(hv).startswith(prefix)
                            for lv, hv in zip(lo, hi)
                        ),
                        bool,
                        len(b),
                    )
                    # a missing null count reads as "has nulls" (get(fid, 1))
                    return ~(_nc_is(b, fid, lambda nc: nc <= 0) & both)
                return p_nsw

        if isinstance(e, BoundSetPredicate):
            if op == Operation.IN:
                if len(e.values) > IN_PREDICATE_LIMIT:
                    # the nulls/nans gate still applies before the
                    # over-limit bail (order matches the interpreter)
                    return lambda b: ~_gated(b, fid)
                values = tuple(e.values)

                def entry_in(lv, hv) -> bool:
                    if lv is not None:
                        if _is_nan_lit(lv):
                            return ROWS_MIGHT_MATCH
                        left = [v for v in values if v >= lv]
                        if not left:
                            return ROWS_CANNOT_MATCH
                    else:
                        left = values
                    if hv is not None:
                        if _is_nan_lit(hv):
                            return ROWS_MIGHT_MATCH
                        if not any(v <= hv for v in left):
                            return ROWS_CANNOT_MATCH
                    return ROWS_MIGHT_MATCH

                def p_in(b):
                    lo = _lower(b, fid, t).python()
                    hi = _upper(b, fid, t).python()
                    out = np.fromiter(map(entry_in, lo, hi), bool, len(b))
                    return out & ~_gated(b, fid)
                return p_in
            if op == Operation.NOT_IN:
                return lambda b: np.ones(len(b), bool)
        raise TypeError(f"metrics evaluator cannot handle {e!r}")

    root = compile_node(bound)

    def eval_block(block) -> np.ndarray:
        rc = block.record_count
        might = root(block) | block.derived("rc<0", lambda: rc < 0)
        if not include_empty_files:
            might = might & block.derived("rc!=0", lambda: rc != 0)
        return might

    return eval_block


# ------------------------------------------------------ partition evaluator

def expression_evaluator(
    schema: Schema, expr: Expression, case_sensitive: bool = True
) -> Callable[[dict], bool]:
    """Row-level evaluator over partition dicts — SURVEY §3.1 step 5a.
    Compiled once (expressions.compile_evaluator): the planner calls
    this once per distinct partition tuple of a manifest
    (ManifestBlock.partition_mask)."""
    bound = bind_expr(rewrite_not(expr), schema, case_sensitive)
    return compile_evaluator(bound)


# --------------------------------------------------------- strict evaluator

ROWS_MUST_MATCH, ROWS_MIGHT_NOT_MATCH = True, False


def strict_metrics_evaluator(
    schema: Schema, expr: Expression, case_sensitive: bool = True
) -> Callable[[Any], bool]:
    """Strict evaluation: True only when EVERY row in the file matches —
    ref evaluators.go:1200-1563 (newStrictMetricsEvaluator). Used for
    whole-file delete/rewrite decisions (a file that must-match a delete
    predicate is dropped without rewriting).

    Compiled to a closure tree at construction: delete_where/overwrite
    call this once per candidate data file, so per-file work is dict
    lookups + bound decode + compare, no expression re-walk."""
    bound = bind_expr(rewrite_not(expr), schema, case_sensitive)

    # ref evaluators.go:1555-1565 — missing counts are treated as
    # "known no nulls/nans" for strict evaluation
    def can_contain_nulls(f, fid: int) -> bool:
        nc = (f.null_value_counts or {}).get(fid)
        return nc is not None and nc > 0

    def can_contain_nans(f, fid: int) -> bool:
        nanc = (f.nan_value_counts or {}).get(fid)
        return nanc is not None and nanc > 0

    def contains_nulls_only(f, fid: int) -> bool:
        vc = (f.value_counts or {}).get(fid)
        nc = (f.null_value_counts or {}).get(fid)
        return vc is not None and nc is not None and vc == nc

    def contains_nans_only(f, fid: int) -> bool:
        nanc = (f.nan_value_counts or {}).get(fid)
        vc = (f.value_counts or {}).get(fid)
        return nanc is not None and vc is not None and nanc == vc

    def compile_node(e: Expression) -> Callable[[Any], bool]:
        if isinstance(e, AlwaysTrue):
            return lambda f: ROWS_MUST_MATCH
        if isinstance(e, AlwaysFalse):
            return lambda f: ROWS_MIGHT_NOT_MATCH
        if isinstance(e, And):
            left, right = compile_node(e.left), compile_node(e.right)
            return lambda f: left(f) and right(f)
        if isinstance(e, Or):
            left, right = compile_node(e.left), compile_node(e.right)
            return lambda f: left(f) or right(f)
        if isinstance(e, Not):
            child = compile_node(e.child)
            return lambda f: not child(f)

        assert isinstance(e, BoundPredicate)
        fid = e.term.field.field_id
        t = e.term.type
        op = e.op_

        def lower(f):
            lb = f.lower_bounds
            b = lb.get(fid) if lb else None
            return None if b is None else from_bytes(t, b)

        def upper(f):
            ub = f.upper_bounds
            b = ub.get(fid) if ub else None
            return None if b is None else from_bytes(t, b)

        if op == Operation.IS_NULL:
            return lambda f: contains_nulls_only(f, fid)
        if op == Operation.NOT_NULL:
            def p_not_null(f):
                nc = (f.null_value_counts or {}).get(fid)
                return nc == 0
            return p_not_null
        if op == Operation.IS_NAN:
            return lambda f: contains_nans_only(f, fid)
        if op == Operation.NOT_NAN:
            def p_not_nan(f):
                nanc = (f.nan_value_counts or {}).get(fid)
                if nanc == 0:
                    return ROWS_MUST_MATCH
                return contains_nulls_only(f, fid)
            return p_not_nan

        if isinstance(e, BoundLiteralPredicate):
            lit = e.literal.value
            if op == Operation.NOT_EQ:
                # DIVERGENCE from ref evaluators.go:1428 (which returns
                # must-match when any null/NaN exists): a null row does
                # NOT satisfy `x != v`, and this evaluator authorizes
                # whole-file deletes — soundness wins over fidelity
                def p_ne(f):
                    if can_contain_nulls(f, fid) or can_contain_nans(f, fid):
                        return ROWS_MIGHT_NOT_MATCH
                    lo = lower(f)
                    if lo is not None and not _is_nan_lit(lo) and lo > lit:
                        return ROWS_MUST_MATCH
                    hi = upper(f)
                    if hi is not None and not _is_nan_lit(hi) and hi < lit:
                        return ROWS_MUST_MATCH
                    return ROWS_MIGHT_NOT_MATCH
                return p_ne
            # all other value predicates: any null/NaN row breaks must-match
            if op == Operation.LT:
                def p_lt(f):
                    if can_contain_nulls(f, fid) or can_contain_nans(f, fid):
                        return ROWS_MIGHT_NOT_MATCH
                    hi = upper(f)
                    return hi is not None and not _is_nan_lit(hi) and hi < lit
                return p_lt
            if op == Operation.LT_EQ:
                def p_le(f):
                    if can_contain_nulls(f, fid) or can_contain_nans(f, fid):
                        return ROWS_MIGHT_NOT_MATCH
                    hi = upper(f)
                    return hi is not None and not _is_nan_lit(hi) and hi <= lit
                return p_le
            if op == Operation.GT:
                def p_gt(f):
                    if can_contain_nulls(f, fid) or can_contain_nans(f, fid):
                        return ROWS_MIGHT_NOT_MATCH
                    lo = lower(f)
                    return lo is not None and not _is_nan_lit(lo) and lo > lit
                return p_gt
            if op == Operation.GT_EQ:
                def p_ge(f):
                    if can_contain_nulls(f, fid) or can_contain_nans(f, fid):
                        return ROWS_MIGHT_NOT_MATCH
                    lo = lower(f)
                    return lo is not None and not _is_nan_lit(lo) and lo >= lit
                return p_ge
            if op == Operation.EQ:
                def p_eq(f):
                    if can_contain_nulls(f, fid) or can_contain_nans(f, fid):
                        return ROWS_MIGHT_NOT_MATCH
                    lo = lower(f)
                    hi = upper(f)
                    return (
                        lo is not None
                        and hi is not None
                        and lo == lit
                        and hi == lit
                    )
                return p_eq
            if op == Operation.STARTS_WITH:
                prefix = _as_str(lit)
                np = len(prefix)
                def p_sw(f):
                    if can_contain_nulls(f, fid) or can_contain_nans(f, fid):
                        return ROWS_MIGHT_NOT_MATCH
                    lo = lower(f)
                    hi = upper(f)
                    if lo is None or hi is None:
                        return ROWS_MIGHT_NOT_MATCH
                    lo_s, hi_s = _as_str(lo), _as_str(hi)
                    return (
                        len(lo_s) >= np
                        and lo_s.startswith(prefix)
                        and len(hi_s) >= np
                        and hi_s.startswith(prefix)
                    )
                return p_sw
            # remaining literal ops (incl. NOT_STARTS_WITH): the
            # interpreter gated on null/NaN then fell through to
            # might-not-match either way
            return lambda f: ROWS_MIGHT_NOT_MATCH

        if isinstance(e, BoundSetPredicate):
            values = e.values
            if op == Operation.NOT_IN:
                # same soundness divergence as NOT_EQ above
                def p_not_in(f):
                    if can_contain_nulls(f, fid) or can_contain_nans(f, fid):
                        return ROWS_MIGHT_NOT_MATCH
                    lo = lower(f)
                    hi = upper(f)
                    if lo is not None and not _is_nan_lit(lo) and all(v < lo for v in values):
                        return ROWS_MUST_MATCH
                    if hi is not None and not _is_nan_lit(hi) and all(v > hi for v in values):
                        return ROWS_MUST_MATCH
                    return ROWS_MIGHT_NOT_MATCH
                return p_not_in
            if op == Operation.IN:
                def p_in(f):
                    if can_contain_nulls(f, fid) or can_contain_nans(f, fid):
                        return ROWS_MIGHT_NOT_MATCH
                    lo = lower(f)
                    hi = upper(f)
                    return (
                        lo is not None
                        and hi is not None
                        and lo == hi
                        and lo in values
                    )
                return p_in
        return lambda f: ROWS_MIGHT_NOT_MATCH

    root = compile_node(bound)

    def eval_file(f) -> bool:
        if f.record_count <= 0:
            # empty files trivially match every predicate
            return ROWS_MUST_MATCH if f.record_count == 0 else ROWS_MIGHT_NOT_MATCH
        return root(f)

    return eval_file
