"""Evaluator truth tables, ported from the reference's
table/evaluators_test.go (manifest evaluator matrix :34-534 and
inclusive-metrics suite :1121-1460). INT_MIN/INT_MAX = 30/79 as there."""

from __future__ import annotations

import struct

import pytest

from iceberg_go_distributed_spark.iceberg import evaluators as EV
from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg import types as ty
from iceberg_go_distributed_spark.iceberg.manifest import (
    DataFile,
    FieldSummary,
    ManifestBlock,
    ManifestFile,
)
from iceberg_go_distributed_spark.iceberg.partitioning import PartitionField, PartitionSpec
from iceberg_go_distributed_spark.iceberg.transforms import IdentityTransform

INT_MIN, INT_MAX = 30, 79

SCHEMA = ty.Schema.of(
    1,
    ty.NestedField(1, "id", ty.IntegerType(), required=True),
    ty.NestedField(2, "all_nulls_missing_nan", ty.StringType()),
    ty.NestedField(3, "some_nulls", ty.StringType()),
    ty.NestedField(4, "no_nulls", ty.StringType()),
    ty.NestedField(5, "float", ty.FloatType()),
    ty.NestedField(6, "all_nulls_double", ty.DoubleType()),
    ty.NestedField(7, "all_nulls_no_nans", ty.FloatType()),
    ty.NestedField(8, "all_nans", ty.DoubleType()),
    ty.NestedField(9, "both_nan_and_null", ty.FloatType()),
    ty.NestedField(10, "no_nan_or_null", ty.DoubleType()),
    ty.NestedField(11, "all_nulls_missing_nan_float", ty.FloatType()),
    ty.NestedField(12, "all_same_value_or_null", ty.StringType()),
    ty.NestedField(13, "no_nulls_same_value_a", ty.BinaryType()),
)

SPEC = PartitionSpec(
    0,
    tuple(
        PartitionField(f.field_id, f.field_id, f.name, IdentityTransform())
        for f in SCHEMA.fields
    ),
)

_i32 = lambda v: struct.pack("<i", v)
_f32 = lambda v: struct.pack("<f", v)
_f64 = lambda v: struct.pack("<d", v)

MANIFEST = ManifestFile(
    manifest_path="m.avro",
    manifest_length=0,
    partition_spec_id=0,
    partitions=[
        FieldSummary(False, None, _i32(INT_MIN), _i32(INT_MAX)),  # id
        FieldSummary(True, None, None, None),  # all_nulls_missing_nan
        FieldSummary(True, None, b"a", b"z"),  # some_nulls
        FieldSummary(False, None, b"a", b"z"),  # no_nulls
        FieldSummary(True, None, _f32(0), _f32(20)),  # float
        FieldSummary(True, None, None, None),  # all_nulls_double
        FieldSummary(True, False, None, None),  # all_nulls_no_nans
        FieldSummary(False, True, None, None),  # all_nans
        FieldSummary(True, True, None, None),  # both_nan_and_null
        FieldSummary(False, False, _f64(0), _f64(20)),  # no_nan_or_null
        FieldSummary(True, None, None, None),  # all_nulls_missing_nan_float
        FieldSummary(True, None, b"a", b"a"),  # all_same_value_or_null
        FieldSummary(False, None, b"a", b"a"),  # no_nulls_same_value_a
    ],
)

MANIFEST_NO_STATS = ManifestFile("m.avro", 0, 0, partitions=[])


def _eval(expr):
    ev = EV.manifest_evaluator(SPEC, SCHEMA, expr)
    return ev(MANIFEST)


@pytest.mark.parametrize(
    "field,expected",
    [
        ("all_nulls_missing_nan", True),
        ("some_nulls", True),
        ("no_nulls", False),
        ("both_nan_and_null", True),
        ("no_nan_or_null", False),
    ],
)
def test_manifest_is_null(field, expected):
    assert _eval(E.is_null(field)) == expected


@pytest.mark.parametrize(
    "field,expected",
    [
        ("all_nulls_missing_nan", False),
        ("some_nulls", True),
        ("no_nulls", True),
        ("both_nan_and_null", True),
        ("no_nan_or_null", True),
    ],
)
def test_manifest_not_null(field, expected):
    assert _eval(E.not_null(field)) == expected


@pytest.mark.parametrize(
    "field,expected",
    [
        ("float", True),
        ("all_nulls_double", True),
        ("all_nulls_missing_nan_float", True),
        ("all_nulls_no_nans", False),
        ("all_nans", True),
        ("both_nan_and_null", True),
        ("no_nan_or_null", False),
    ],
)
def test_manifest_is_nan(field, expected):
    assert _eval(E.is_nan(field)) == expected


@pytest.mark.parametrize(
    "field,expected",
    [
        ("float", True),
        ("all_nulls_double", True),
        ("all_nulls_no_nans", True),
        ("all_nans", False),
        ("both_nan_and_null", True),
        ("no_nan_or_null", True),
    ],
)
def test_manifest_not_nan(field, expected):
    assert _eval(E.not_nan(field)) == expected


def test_manifest_missing_stats_always_reads():
    exprs = [
        E.less_than("id", 5),
        E.less_than_or_equal("id", 30),
        E.equal("id", 70),
        E.greater_than("id", 78),
        E.greater_than_or_equal("id", 90),
        E.not_equal("id", 101),
        E.is_null("some_nulls"),
        E.not_null("some_nulls"),
        E.is_nan("float"),
        E.not_nan("float"),
    ]
    for expr in exprs:
        ev = EV.manifest_evaluator(SPEC, SCHEMA, expr)
        assert ev(MANIFEST_NO_STATS), str(expr)


@pytest.mark.parametrize(
    "expr,expected,msg",
    [
        (E.not_(E.less_than("id", INT_MIN - 25)), True, "not(false)"),
        (E.not_(E.greater_than("id", INT_MIN - 25)), False, "not(true)"),
        (E.and_(E.less_than("id", INT_MIN - 25), E.greater_than_or_equal("id", INT_MIN - 30)), False, "and(false,true)"),
        (E.and_(E.less_than("id", INT_MIN - 25), E.greater_than_or_equal("id", INT_MAX + 1)), False, "and(false,false)"),
        (E.and_(E.greater_than("id", INT_MIN - 25), E.less_than_or_equal("id", INT_MIN)), True, "and(true,true)"),
        (E.or_(E.less_than("id", INT_MIN - 25), E.greater_than_or_equal("id", INT_MAX + 1)), False, "or(false,false)"),
        (E.or_(E.less_than("id", INT_MIN - 25), E.greater_than_or_equal("id", INT_MAX - 19)), True, "or(false,true)"),
        (E.less_than("some_nulls", "1"), False, "below lower"),
        (E.less_than("some_nulls", "b"), True, "in range"),
        (E.less_than("float", 15.50), True, "in range"),
        (E.less_than("no_nan_or_null", 15.50), True, "in range"),
        (E.less_than_or_equal("no_nulls_same_value_a", b"a"), True, "in range"),
        (E.less_than("id", INT_MIN - 25), False, "5 < 30"),
        (E.less_than("id", INT_MIN), False, "30 !< 30"),
        (E.less_than("id", INT_MIN + 1), True, "one id"),
        (E.less_than("id", INT_MAX), True, "many ids"),
        (E.less_than_or_equal("id", INT_MIN - 25), False, "below"),
        (E.less_than_or_equal("id", INT_MIN - 1), False, "29 < 30"),
        (E.less_than_or_equal("id", INT_MIN), True, "one id"),
        (E.less_than_or_equal("id", INT_MAX), True, "many ids"),
        (E.greater_than("id", INT_MAX + 6), False, "above upper"),
        (E.greater_than("id", INT_MAX), False, "79 !> 79"),
        (E.greater_than("id", INT_MAX - 1), True, "one id"),
        (E.greater_than("id", INT_MIN), True, "many ids"),
        (E.greater_than_or_equal("id", INT_MAX + 6), False, "above upper"),
        (E.greater_than_or_equal("id", INT_MAX + 1), False, "80 > 79"),
        (E.greater_than_or_equal("id", INT_MAX), True, "one id"),
        (E.greater_than_or_equal("id", INT_MIN), True, "many ids"),
        (E.equal("id", INT_MIN - 25), False, "below"),
        (E.equal("id", INT_MIN - 1), False, "below"),
        (E.equal("id", INT_MIN), True, "lower bound"),
        (E.equal("id", INT_MAX - 4), True, "in range"),
        (E.equal("id", INT_MAX), True, "upper bound"),
        (E.equal("id", INT_MAX + 1), False, "above"),
        (E.equal("id", INT_MAX + 6), False, "above"),
        (E.not_equal("id", INT_MIN - 25), True, "inclusive: always might"),
        (E.not_equal("id", INT_MIN), True, "inclusive: always might"),
        (E.is_in("id", [INT_MIN - 25, INT_MIN - 24]), False, "all below"),
        (E.is_in("id", [INT_MIN - 1, INT_MIN]), True, "contains lower"),
        (E.is_in("id", [INT_MAX, INT_MAX + 1]), True, "contains upper"),
        (E.is_in("id", [INT_MAX + 1, INT_MAX + 2]), False, "all above"),
        (E.not_in("id", [INT_MIN, INT_MAX]), True, "inclusive: always might"),
        (E.starts_with("some_nulls", "a"), True, "range matches"),
        (E.starts_with("some_nulls", "A"), False, "range doesn't match"),
        (E.not_starts_with("some_nulls", "a"), True, "contains null"),
        (E.not_starts_with("no_nulls_same_value_a", "a"), False, "all start with a"),
        (E.not_starts_with("no_nulls", "a"), True, "not all start with a"),
    ],
)
def test_manifest_expr_matrix(expr, expected, msg):
    assert _eval(expr) == expected, msg


# ---------------------------------------------------------------- metrics

MSCHEMA = ty.Schema.of(
    1,
    ty.NestedField(1, "id", ty.IntegerType(), required=True),
    ty.NestedField(2, "no_stats", ty.IntegerType()),
    ty.NestedField(3, "required", ty.StringType(), required=True),
    ty.NestedField(4, "all_nulls", ty.StringType()),
    ty.NestedField(5, "some_nulls", ty.StringType()),
    ty.NestedField(6, "no_nulls", ty.StringType()),
    ty.NestedField(7, "all_nans", ty.DoubleType()),
    ty.NestedField(8, "some_nans", ty.FloatType()),
    ty.NestedField(9, "no_nans", ty.FloatType()),
)

FILE = DataFile(
    file_path="f.parquet",
    record_count=50,
    file_size_in_bytes=3,
    value_counts={4: 50, 5: 50, 6: 50, 7: 50, 8: 50, 9: 50},
    null_value_counts={4: 50, 5: 10, 6: 0},
    nan_value_counts={7: 50, 8: 10, 9: 0},
    lower_bounds={1: _i32(INT_MIN), 8: _f32(float("nan"))},
    upper_bounds={1: _i32(INT_MAX), 8: _f32(22.0)},
)

FILE_EMPTY = DataFile(file_path="e.parquet", record_count=0)


def _one(ev, f) -> bool:
    """Verdict of the production block evaluator on a block of one file."""
    (verdict,) = ev(ManifestBlock.of_files([f])).tolist()
    return verdict


def _meval(expr, f=FILE):
    return _one(EV.inclusive_metrics_evaluator(MSCHEMA, expr), f)


def test_metrics_all_null():
    assert not _meval(E.not_null("all_nulls")), "skip: no non-null values"
    assert _meval(E.not_null("some_nulls"))
    assert _meval(E.not_null("no_nulls"))
    assert not _meval(E.less_than("all_nulls", "a")), "skip: nulls-only"
    assert _meval(E.less_than_or_equal("some_nulls", "a"))
    # startsWith on an all-null column cannot match
    assert not _meval(E.starts_with("all_nulls", "x"))
    assert _meval(E.not_starts_with("all_nulls", "x"))


def test_metrics_no_nulls():
    assert not _meval(E.is_null("no_nulls"))
    assert _meval(E.is_null("some_nulls"))
    assert _meval(E.is_null("all_nulls"))


def test_metrics_nan():
    assert _meval(E.is_nan("all_nans"))
    assert _meval(E.is_nan("some_nans"))
    assert not _meval(E.is_nan("no_nans")), "skip: no nans"
    assert not _meval(E.not_nan("all_nans")), "skip: all nan"
    assert _meval(E.not_nan("some_nans"))
    assert _meval(E.not_nan("no_nans"))
    # nans-only kills comparisons
    assert not _meval(E.less_than("all_nans", 1.0))


def test_metrics_missing_stats():
    exprs = [
        E.less_than("no_stats", 5),
        E.equal("no_stats", 70),
        E.greater_than("no_stats", 78),
        E.is_null("no_stats"),
        E.not_null("no_stats"),
    ]
    for expr in exprs:
        assert _meval(expr), str(expr)


def test_metrics_zero_record_file():
    for expr in [E.less_than("id", 5), E.not_null("some_nulls"), E.is_null("all_nulls")]:
        assert not _meval(expr, FILE_EMPTY), "empty file always skipped"


def test_metrics_bounds_matrix():
    assert not _meval(E.less_than("id", INT_MIN))
    assert _meval(E.less_than("id", INT_MIN + 1))
    assert not _meval(E.less_than_or_equal("id", INT_MIN - 1))
    assert _meval(E.less_than_or_equal("id", INT_MIN))
    assert not _meval(E.greater_than("id", INT_MAX))
    assert _meval(E.greater_than("id", INT_MAX - 1))
    assert not _meval(E.greater_than_or_equal("id", INT_MAX + 1))
    assert _meval(E.greater_than_or_equal("id", INT_MAX))
    assert not _meval(E.equal("id", INT_MIN - 1))
    assert _meval(E.equal("id", INT_MIN))
    assert _meval(E.equal("id", INT_MAX))
    assert not _meval(E.equal("id", INT_MAX + 1))
    assert _meval(E.not_equal("id", INT_MIN))  # inclusive
    assert not _meval(E.is_in("id", [INT_MIN - 2, INT_MIN - 1]))
    assert _meval(E.is_in("id", [INT_MIN - 1, INT_MIN]))
    assert _meval(E.not_in("id", [INT_MIN, INT_MAX]))


def test_metrics_nan_bounds_unreliable():
    # lower bound is NaN → metrics unreliable → must read (evaluators.go:853)
    assert _meval(E.less_than("some_nans", 1.0))
    assert _meval(E.is_in("some_nans", [1.0, 2.0]))


def test_metrics_not():
    assert _meval(E.not_(E.less_than("id", INT_MIN)))
    assert not _meval(E.not_(E.greater_than("id", INT_MIN - 25)))


def test_in_predicate_limit():
    big = list(range(INT_MIN - 400, INT_MIN - 400 + 201))  # all below range, >limit
    assert _meval(E.is_in("id", big)), "should read: IN above limit not evaluated"
    small = list(range(INT_MIN - 210, INT_MIN - 10))  # 200 values, all below
    assert not _meval(E.is_in("id", small)), "should skip: all below lower bound"


# ------- extended metrics truth tables (evaluators_test.go:1121-1460) -------

MSCHEMA2 = ty.Schema.of(
    1,
    ty.NestedField(1, "id", ty.IntegerType(), required=True),
    ty.NestedField(2, "str", ty.StringType()),
    ty.NestedField(3, "always_5", ty.IntegerType()),
)

FILE_STR = DataFile(
    file_path="s.parquet",
    record_count=50,
    value_counts={2: 50, 3: 50},
    null_value_counts={2: 0, 3: 0},
    lower_bounds={1: _i32(INT_MIN), 2: b"abc", 3: _i32(5)},
    upper_bounds={1: _i32(INT_MAX), 2: b"abe", 3: _i32(5)},
)


def _m2(expr, f=FILE_STR):
    return _one(EV.inclusive_metrics_evaluator(MSCHEMA2, expr), f)


@pytest.mark.parametrize(
    "expr,expected,msg",
    [
        (E.starts_with("str", "a"), True, "prefix shorter than bounds, in range"),
        (E.starts_with("str", "ab"), True, "in range"),
        (E.starts_with("str", "abc"), True, "matches lower bound"),
        (E.starts_with("str", "abf"), False, "above upper bound prefix"),
        (E.starts_with("str", "aa"), False, "below lower bound prefix"),
        (E.starts_with("str", "abcd"), True, "longer than bounds, might match"),
        (E.not_starts_with("str", "a"), False, "all values start with a"),
        (E.not_starts_with("str", "ab"), False, "all values start with ab"),
        (E.not_starts_with("str", "abc"), True, "upper abe doesn't start with abc"),
        (E.equal("always_5", 5), True, "point range hit"),
        (E.equal("always_5", 6), False, "point range miss"),
        (E.is_in("always_5", [4, 6]), False, "set excludes point range"),
        (E.is_in("always_5", [5, 6]), True, "set includes point"),
        (E.less_than("always_5", 5), False, "nothing below point"),
        (E.greater_than_or_equal("always_5", 5), True, "point qualifies"),
    ],
)
def test_metrics_string_and_point_ranges(expr, expected, msg):
    assert _m2(expr) == expected, msg


def test_metrics_compound_expressions():
    assert not _m2(E.and_(E.equal("always_5", 5), E.equal("id", INT_MIN - 1)))
    assert _m2(E.and_(E.equal("always_5", 5), E.equal("id", INT_MIN)))
    assert _m2(E.or_(E.equal("always_5", 99), E.equal("id", INT_MIN)))
    assert not _m2(E.or_(E.equal("always_5", 99), E.equal("id", INT_MIN - 1)))
    assert _m2(E.not_(E.equal("always_5", 99)))


def test_case_insensitive_binding_in_evaluator():
    ev = EV.inclusive_metrics_evaluator(
        MSCHEMA2, E.equal("ALWAYS_5", 5), case_sensitive=False
    )
    assert _one(ev, FILE_STR)
    with pytest.raises(ValueError):
        EV.inclusive_metrics_evaluator(MSCHEMA2, E.equal("ALWAYS_5", 5))


def test_promoted_bounds_decode_by_width():
    """Manifest bounds written before an int->long (or float->double)
    promotion stay 4-byte; from_bytes must decode by width so promoted
    scans keep pruning instead of crashing (found by the wide-scan
    parity tests, r13)."""
    import struct

    from iceberg_go_distributed_spark.iceberg import types as ty
    from iceberg_go_distributed_spark.iceberg.conversions import from_bytes

    assert from_bytes(ty.LongType(), struct.pack("<i", 41)) == 41
    assert from_bytes(ty.LongType(), struct.pack("<q", 42)) == 42
    assert from_bytes(ty.DoubleType(), struct.pack("<f", 1.5)) == 1.5
    assert from_bytes(ty.DoubleType(), struct.pack("<d", 2.5)) == 2.5


# ------------- block evaluator vs the per-file oracle (tests/oracles.py)

TWIN_SCHEMA = ty.Schema.of(
    1,
    ty.NestedField(1, "l", ty.LongType()),
    ty.NestedField(2, "i", ty.IntegerType()),
    ty.NestedField(3, "d", ty.DateType()),
    ty.NestedField(4, "ts", ty.TimestampType()),
    ty.NestedField(5, "f", ty.FloatType()),
    ty.NestedField(6, "db", ty.DoubleType()),
    ty.NestedField(7, "s", ty.StringType()),
    ty.NestedField(8, "dec", ty.DecimalType(9, 2)),
    ty.NestedField(9, "b", ty.BinaryType()),
)
_TWIN_FIELDS = {f.field_id: f for f in TWIN_SCHEMA.fields}
_STRS = ["", "a", "ab", "abc", "b", "ba", "é", "z"]
FILE_KINDS = (
    "mixed",
    "absent_bounds",
    "inverted",
    "all_null",
    "nan_only",
    "truncated",
    "empty_files",
    "unknown_counts",
)


def _twin_value(rng, fid):
    from decimal import Decimal

    t = _TWIN_FIELDS[fid].field_type
    if isinstance(t, (ty.LongType, ty.IntegerType, ty.DateType, ty.TimestampType)):
        return rng.randint(-4, 4)
    if isinstance(t, (ty.FloatType, ty.DoubleType)):
        return rng.choice([-2.5, -1.0, 0.0, 0.5, 1.0, 3.25])
    if isinstance(t, ty.StringType):
        return rng.choice(_STRS)
    if isinstance(t, ty.DecimalType):
        return Decimal(rng.randint(-400, 400)).scaleb(-2)
    return rng.choice(_STRS).encode()


def _twin_file(rng, kind, n):
    """A data file whose stats have the shape `kind` names."""
    from iceberg_go_distributed_spark.iceberg.conversions import to_bytes

    rc = rng.choice([0, -1, 5, 10]) if kind == "empty_files" else rng.choice([5, 10, 10])
    vc, nc, nanc, lo, hi = {}, {}, {}, {}, {}
    for fid, f in _TWIN_FIELDS.items():
        t = f.field_type
        is_float = isinstance(t, (ty.FloatType, ty.DoubleType))
        vc[fid] = rc if rc >= 0 else 10
        nc[fid] = rng.choice([0, 0, 3])
        if is_float:
            nanc[fid] = rng.choice([0, 0, 2])
        a, b = sorted([_twin_value(rng, fid), _twin_value(rng, fid)])
        if kind == "inverted" or (kind == "mixed" and rng.random() < 0.1):
            a, b = max(a, b), min(a, b)
        if kind == "absent_bounds" or (kind == "mixed" and rng.random() < 0.15):
            drop = rng.choice(["lo", "hi", "both"])
            a = None if drop in ("lo", "both") else a
            b = None if drop in ("hi", "both") else b
        if kind == "all_null" or (kind == "mixed" and rng.random() < 0.1):
            nc[fid], a, b = vc[fid], None, None
        if is_float and (kind == "nan_only" or (kind == "mixed" and rng.random() < 0.1)):
            nanc[fid] = vc[fid]
            a = b = float("nan") if rng.random() < 0.5 else None
        if is_float and kind == "mixed" and rng.random() < 0.1:
            a = float("nan")  # NaN lower bound: metrics unreliable
        if kind == "unknown_counts" or (kind == "mixed" and rng.random() < 0.1):
            for m in (vc, nc, nanc):
                if rng.random() < 0.5:
                    m.pop(fid, None)
        if a is not None:
            lo[fid] = to_bytes(t, a)
        if b is not None:
            hi[fid] = to_bytes(t, b)
        if kind == "truncated" and fid in (7, 9) and a is not None and b is not None:
            # truncated bounds (by code point for strings): the lower
            # cut to one unit, the upper cut and its last unit incremented
            if fid == 7:
                lo[fid] = a[:1].encode()
                hi[fid] = (b[:1] and chr(ord(b[0]) + 1)).encode()
            else:
                lo[fid] = a[:1]
                hi[fid] = b[:1] and bytes([min(b[0] + 1, 255)])
    return DataFile(
        file_path=f"/t/{kind}-{n}.parquet",
        record_count=rc,
        value_counts=vc or None,
        null_value_counts=nc,
        nan_value_counts=nanc,
        lower_bounds=lo,
        upper_bounds=hi,
    )


def _twin_leaf(rng):
    fid = rng.choice(list(_TWIN_FIELDS))
    f = _TWIN_FIELDS[fid]
    name, t = f.name, f.field_type

    def lit():
        v = _twin_value(rng, fid)
        return v.decode() if isinstance(v, bytes) else v

    ops = ["lt", "le", "gt", "ge", "eq", "ne", "in", "not_in", "is_null", "not_null", "in_big"]
    if isinstance(t, (ty.FloatType, ty.DoubleType)):
        ops += ["is_nan", "not_nan"]
    if isinstance(t, ty.StringType):
        ops += ["starts_with", "not_starts_with"]
    op = rng.choice(ops)
    if op in ("lt", "le", "gt", "ge", "eq", "ne"):
        fn = {
            "lt": E.less_than,
            "le": E.less_than_or_equal,
            "gt": E.greater_than,
            "ge": E.greater_than_or_equal,
            "eq": E.equal,
            "ne": E.not_equal,
        }[op]
        return fn(name, lit())
    if op in ("in", "not_in"):
        vals = list({lit() for _ in range(rng.randint(2, 4))})
        return (E.is_in if op == "in" else E.not_in)(name, vals)
    if op == "in_big":
        if isinstance(t, (ty.StringType, ty.BinaryType)):
            return E.is_in(name, [f"v{k}" for k in range(201)])
        if isinstance(t, (ty.FloatType, ty.DoubleType)):
            return E.is_in(name, [k + 0.5 for k in range(201)])
        return E.is_in(name, list(range(201)))
    if op in ("starts_with", "not_starts_with"):
        fn = E.starts_with if op == "starts_with" else E.not_starts_with
        return fn(name, rng.choice(_STRS))
    return {
        "is_null": E.is_null,
        "not_null": E.not_null,
        "is_nan": E.is_nan,
        "not_nan": E.not_nan,
    }[op](name)


def _twin_pred(rng, depth=2):
    if depth == 0 or rng.random() < 0.5:
        return _twin_leaf(rng)
    r = rng.random()
    if r < 0.4:
        return E.and_(_twin_pred(rng, depth - 1), _twin_pred(rng, depth - 1))
    if r < 0.8:
        return E.or_(_twin_pred(rng, depth - 1), _twin_pred(rng, depth - 1))
    return E.not_(_twin_pred(rng, depth - 1))


@pytest.mark.parametrize("kind", FILE_KINDS)
def test_block_evaluator_matches_per_file_oracle(kind):
    """The block evaluator must return, per file, exactly the per-file
    oracle's verdict: every predicate op on long, int, date, timestamp,
    float, double, string, decimal and binary columns, over manifests
    of one degenerate stats shape each (and a mixed one)."""
    import random

    from oracles import inclusive_metrics_oracle

    rng = random.Random(f"block-twin-{kind}")
    files = [_twin_file(rng, kind, n) for n in range(40)]
    block = ManifestBlock.of_files(files)
    for _ in range(150):
        expr = _twin_pred(rng)
        for empty in (False, True):
            got = EV.inclusive_metrics_evaluator(
                TWIN_SCHEMA, expr, include_empty_files=empty
            )(block).tolist()
            oracle = inclusive_metrics_oracle(TWIN_SCHEMA, expr, include_empty_files=empty)
            assert got == [oracle(f) for f in files], (kind, expr, empty)


def test_block_evaluator_on_empty_block():
    block = ManifestBlock.of_files([])
    for expr in (E.less_than("l", 3), E.starts_with("s", "a"), E.is_in("dec", [1, 2])):
        assert EV.inclusive_metrics_evaluator(TWIN_SCHEMA, expr)(block).tolist() == []


def test_metrics_field_ids_are_the_predicate_columns():
    expr = E.and_(E.less_than("l", 3), E.or_(E.is_null("s"), E.not_(E.equal("i", 1))))
    assert EV.metrics_field_ids(TWIN_SCHEMA, expr) == (1, 2, 7)
    assert EV.metrics_field_ids(TWIN_SCHEMA, E.AlwaysTrue()) == ()


@pytest.mark.parametrize("kind", FILE_KINDS + ("empty_manifest",))
def test_scan_manifest_block_path_matches_filtered_read(tmp_path, monkeypatch, kind):
    """The planner's block path — column-mode decode, one evaluator call
    per block, one partition-evaluator call per distinct tuple, entries
    built for survivors only — against read_manifest plus the per-entry
    oracles. Covers DELETED entries, explicit and inherited sequence
    numbers, non-DATA content and v3 first_row_id inheritance (non-kept
    live DATA files still consume ids), with the cache off (every read
    decodes) and on (survivors copied from prototypes)."""
    import random

    from oracles import inclusive_metrics_oracle

    from iceberg_go_distributed_spark.iceberg import manifest as M
    from iceberg_go_distributed_spark.iceberg.manifest import (
        DataFileContent,
        ManifestEntry,
        ManifestEntryStatus,
        read_manifest,
        scan_manifest,
        write_manifest,
    )
    from iceberg_go_distributed_spark.iceberg.partitioning import spec_from

    rng = random.Random(f"scan-twin-{kind}")
    spec = spec_from(TWIN_SCHEMA, ("i", "identity"))
    entries = []
    for n in range(0 if kind == "empty_manifest" else 30):
        f = _twin_file(rng, "mixed" if kind == "empty_manifest" else kind, n)
        f.partition = {"i": rng.choice([None, 1, 2, 3])}
        f.first_row_id = rng.choice([None, None, 10_000 + n])
        f.content = rng.choice([DataFileContent.DATA] * 4 + [DataFileContent.EQUALITY_DELETES])
        status = rng.choice(list(ManifestEntryStatus))
        seq = rng.choice([None, 3])
        entries.append(ManifestEntry(status, 1, seq, seq, f))
    path = str(tmp_path / "twin.avro")
    write_manifest(path, spec, TWIN_SCHEMA, 1, entries)
    monkeypatch.setattr(M, "_OCF_CACHE", {})
    monkeypatch.setattr(M, "_OCF_CACHE_ENTRY_COUNT", 0)
    monkeypatch.setattr(M, "_OCF_CACHE_MAX_ENTRIES", 0)  # every read decodes

    cases = []
    for _ in range(30):
        expr = _twin_pred(rng)
        proj = EV.inclusive_projection(TWIN_SCHEMA, spec)(expr)
        part_schema = ty.Schema(0, spec.partition_type(TWIN_SCHEMA).fields)
        part_eval = EV.expression_evaluator(part_schema, proj)
        metrics_eval = EV.inclusive_metrics_evaluator(TWIN_SCHEMA, expr)
        oracle = inclusive_metrics_oracle(TWIN_SCHEMA, expr)
        for seq, frid in ((None, None), (7, 500)):
            expected = [
                e
                for e in read_manifest(
                    path, inherit_sequence_number=seq, inherit_first_row_id=frid
                )
                if part_eval(e.data_file.partition) and oracle(e.data_file)
            ]
            keep = lambda b, pe=part_eval, me=metrics_eval: b.partition_mask(pe) & me(b)
            ids = EV.metrics_field_ids(TWIN_SCHEMA, expr)
            cases.append((keep, ids, seq, frid, expected, expr))

    def scan_all(label):
        for keep, ids, seq, frid, expected, expr in cases:
            got = scan_manifest(
                path,
                keep,
                inherit_sequence_number=seq,
                inherit_first_row_id=frid,
                stats_ids=ids,
            )
            assert got == expected, (kind, label, expr)

    scan_all("uncached column blocks")
    # cached: one column block, widened as the predicate columns change
    monkeypatch.setattr(M, "_OCF_CACHE_MAX_ENTRIES", 10**6)
    scan_all("cached column block")
    read_manifest(path)  # the cached block gains prototypes
    scan_all("cached block with prototypes")
