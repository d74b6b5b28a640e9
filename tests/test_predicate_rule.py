"""One predicate rule for every row evaluator (expressions.py module
docstring): NOT-rewritten, SQL three-valued logic, IEEE NaN (NaN
satisfies only `!=` and NOT IN), is_nan(null) false, and a DML
statement deletes exactly the rows whose predicate is TRUE.

`tests/oracles.py evaluate` is the reference. The pinned regressions
below each failed before the rule was enforced; the seeded fuzz
compares every layer against the oracle — the JVM read, the Arrow
reader, `to_arrow_expression` and `compile_evaluator` over raw rows,
the planner's file pruning, and `delete_where` / `overwrite_where` on
v2 and v3 tables. A short slice runs in the default tier; the long run
is listed in tests/slow_tests.txt.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg import types as ty
from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
from iceberg_go_distributed_spark.iceberg.partitioning import (
    PartitionField,
    PartitionSpec,
)
from iceberg_go_distributed_spark.iceberg.transforms import IdentityTransform
from iceberg_go_distributed_spark.iceberg.types import NestedField, Schema

from tests.oracles import evaluate

NAN, INF = float("nan"), float("inf")
ARROW_READ = "read.spark.max-listed-files"


@pytest.fixture()
def catalog(tmp_path):
    cat = FileSystemCatalog(str(tmp_path / "wh"))
    cat.create_namespace("db")
    return cat


def _table(catalog, name, schema, fv, spec=None):
    t = catalog.create_table(f"db.{name}", schema, spec=spec)
    if fv >= 3:
        t.upgrade_format_version(3)
    return t


def _ids(t, spark, expr=None, arrow=False):
    """Ids a scan returns: the JVM read, or the Arrow reader."""
    if arrow:
        t.properties[ARROW_READ] = "1"
    try:
        scan = t.scan(row_filter=expr) if expr is not None else t.scan()
        return sorted(r.id for r in scan.to_df(spark).select("id").collect())
    finally:
        t.properties.pop(ARROW_READ, None)


def _oracle_ids(rows, schema, expr):
    bound = E.bind_expr(E.rewrite_not(expr), schema)
    return sorted(r["id"] for r in rows if evaluate(bound, r))


def _survivors(rows, schema, expr):
    """Ids a DML on `expr` leaves: every row whose predicate is not TRUE."""
    hit = set(_oracle_ids(rows, schema, expr))
    return sorted(r["id"] for r in rows if r["id"] not in hit)


# ------------------------------------------------------ pinned regressions

XSCHEMA = Schema.of(
    1,
    NestedField(1, "id", ty.LongType(), required=True),
    NestedField(2, "x", ty.DoubleType()),
)


def _nan_layout(catalog, spark, fv, name):
    """File A holds x = {1.0, NaN, null} (ids 1-3), file B {NaN} (id 4):
    B fails the metrics NaN-only gate of every comparison."""
    t = _table(catalog, name, XSCHEMA, fv)
    for rows in ([(1, 1.0), (2, NAN), (3, None)], [(4, NAN)]):
        t.append(spark.createDataFrame(rows, "id long, x double").coalesce(1))
    return t


def test_nan_greater_than_is_layout_independent(catalog, spark):
    """NaN satisfies no ordering comparison: the residual must not keep
    NaN row 2 when the planner prunes NaN-only file B (row 4)."""
    t = _nan_layout(catalog, spark, 2, "nan_gt")
    gt = E.greater_than("x", 0.5)
    assert _ids(t, spark, gt) == [1]
    assert _ids(t, spark, gt, arrow=True) == [1]
    assert _ids(t, spark, E.greater_than_or_equal("x", 1.0)) == [1]


def test_nan_not_equal_on_both_readers(catalog, spark):
    """NaN satisfies `!=`: the Arrow reader must not push a float filter
    into parquet, whose statistics leave NaN out and skip row 2."""
    t = _nan_layout(catalog, spark, 2, "nan_ne")
    ne = E.not_equal("x", 1.0)
    assert _ids(t, spark, ne) == [2, 4]
    assert _ids(t, spark, ne, arrow=True) == [2, 4]


@pytest.mark.parametrize("fv", [2, 3])
def test_delete_where_deletes_exactly_the_true_rows(catalog, spark, fv):
    """DML deletes a row exactly when its predicate is TRUE: after
    delete_where(x > 0.5) no row matches x > 0.5, and the NaN and null
    rows survive."""
    t = _nan_layout(catalog, spark, fv, f"nan_del_v{fv}")
    gt = E.greater_than("x", 0.5)
    t.delete_where(spark, gt)
    assert _ids(t, spark, gt) == []
    assert _ids(t, spark) == [2, 3, 4]


@pytest.mark.parametrize("fv", [2, 3])
def test_overwrite_where_keeps_rows_its_predicate_does_not_match(
    catalog, spark, fv
):
    """The survivors of a partial file are the rows whose predicate is
    not TRUE — false, null or NaN — not the rows of the negation."""
    t = _table(catalog, f"ow_v{fv}", XSCHEMA, fv)
    t.append(
        spark.createDataFrame(
            [(1, 1.0), (2, NAN), (3, None), (4, 0.1)], "id long, x double"
        ).coalesce(1)
    )
    t.overwrite_where(
        spark.createDataFrame([(9, 7.0)], "id long, x double"),
        E.greater_than("x", 0.5),
    )
    assert _ids(t, spark) == [2, 3, 4, 9]


def test_saturated_int_delete_keeps_null_rows(catalog, spark):
    """`i < 2**40` holds for every int but not for null: the scan of it
    and a v3 delete_where on it leave the null-i row alone."""
    schema = Schema.of(
        1,
        NestedField(1, "id", ty.LongType(), required=True),
        NestedField(2, "i", ty.IntegerType()),
    )
    t = _table(catalog, "sat_int", schema, 3)
    for rows in ([(1, 5), (2, None), (3, -7)], [(4, 9)]):
        t.append(spark.createDataFrame(rows, "id long, i int").coalesce(1))
    pred = E.less_than("i", 1 << 40)
    assert _ids(t, spark, pred) == [1, 3, 4]
    t.delete_where(spark, pred)
    assert _ids(t, spark) == [2]


@pytest.mark.parametrize("fv", [2, 3])
def test_delete_where_on_renamed_column(catalog, spark, fv):
    """DML resolves predicate columns by field id: a column renamed
    after the file was written still matches."""
    schema = Schema.of(
        1,
        NestedField(1, "id", ty.LongType(), required=True),
        NestedField(2, "payload", ty.StringType()),
    )
    t = _table(catalog, f"ren_v{fv}", schema, fv)
    t.append(
        spark.createDataFrame(
            [(i, f"p{i}") for i in range(6)], "id long, payload string"
        ).coalesce(1)
    )
    t.update_schema().rename_column("payload", "body").commit()
    rows = [{"id": i, "body": f"p{i}"} for i in range(6)]
    pred = E.equal("body", "p3")
    t.delete_where(spark, pred)
    assert _ids(t, spark) == _survivors(rows, t.schema(), pred) == [0, 1, 2, 4, 5]


@pytest.mark.parametrize("fv", [2, 3])
def test_delete_where_on_added_column(catalog, spark, fv):
    """A predicate on a column added after a file was written reads
    that file's rows as null (the reader's projection), not a missing
    parquet column."""
    t = _table(catalog, f"add_v{fv}", XSCHEMA, fv)
    t.append(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, x double").coalesce(1)
    )
    t.update_schema().add_column("tag", ty.StringType()).commit()
    t.append(
        spark.createDataFrame(
            [(3, 3.0, "a"), (4, 4.0, "b")], "id long, x double, tag string"
        ).coalesce(1)
    )
    rows = [
        {"id": 1, "x": 1.0, "tag": None},
        {"id": 2, "x": 2.0, "tag": None},
        {"id": 3, "x": 3.0, "tag": "a"},
        {"id": 4, "x": 4.0, "tag": "b"},
    ]
    # the first file is partial: x picks row 1 of it
    pred = E.or_(
        E.and_(E.is_null("tag"), E.less_than("x", 1.5)), E.equal("tag", "a")
    )
    t.delete_where(spark, pred)
    assert _ids(t, spark) == _survivors(rows, t.schema(), pred) == [2, 4]


# ------------------------------------------------------------------- fuzz

FSCHEMA = Schema.of(
    1,
    NestedField(1, "id", ty.LongType(), required=True),
    NestedField(2, "f", ty.FloatType()),
    NestedField(3, "d", ty.DoubleType()),
    NestedField(4, "l", ty.LongType()),
    NestedField(5, "s", ty.StringType()),
)
FDDL = "id long, f float, d double, l long, s string"
ARROW_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("f", pa.float32()),
        ("d", pa.float64()),
        ("l", pa.int64()),
        ("s", pa.string()),
    ]
)
# every value is exact in float32, so Spark, Arrow and Python agree
FLOATS = [None, NAN, 0.0, -0.0, INF, -INF, 1.0, -2.5, 0.5, 3.0]
FLOAT_LITS = [-INF, -2.5, -0.0, 0.0, 0.5, 1.0, 3.0, INF, 1e39]
POOLS = {
    "f": (FLOATS, FLOAT_LITS),
    "d": (FLOATS, FLOAT_LITS),
    "l": ([None, -3, 0, 1, 5, 1 << 40], [-3, 0, 1, 4, 1 << 40]),
    "s": ([None, "", "a", "ab", "abc", "b"], ["", "a", "ab", "b"]),
}
UNARY = ["is_null", "not_null"]
FLOAT_UNARY = ["is_nan", "not_nan"]
LITERAL = ["less_than", "less_than_or_equal", "greater_than",
           "greater_than_or_equal", "equal", "not_equal"]
STRING_LITERAL = ["starts_with", "not_starts_with"]
SETS = ["is_in", "not_in"]


def _ops(col):
    return (
        UNARY
        + LITERAL
        + SETS
        + (FLOAT_UNARY if col in ("f", "d") else [])
        + (STRING_LITERAL if col == "s" else [])
    )


def _leaf(col, op, rng):
    lits = POOLS[col][1]
    if op in UNARY or op in FLOAT_UNARY:
        return getattr(E, op)(col)
    if op in SETS:
        return getattr(E, op)(col, rng.sample(lits, rng.randint(1, 3)))
    return getattr(E, op)(col, rng.choice(lits))


def _predicate(rng, depth=2):
    if depth == 0 or rng.random() < 0.35:
        col = rng.choice(list(POOLS))
        return _leaf(col, rng.choice(_ops(col)), rng)
    kind = rng.choice(["and", "or", "not"])
    if kind == "not":
        return E.not_(_predicate(rng, depth - 1))
    pair = _predicate(rng, depth - 1), _predicate(rng, depth - 1)
    return E.and_(*pair) if kind == "and" else E.or_(*pair)


def _rows(rng, n):
    return [
        {"id": i, **{c: rng.choice(POOLS[c][0]) for c in POOLS}}
        for i in range(n)
    ]


def _every_leaf(rng):
    """Every op on every column it applies to, each also negated."""
    out = []
    for col in POOLS:
        for op in _ops(col):
            leaf = _leaf(col, op, rng)
            out += [leaf, E.not_(leaf)]
    return out


def _check_row_compilers(rows, preds):
    """to_arrow_expression over the raw rows and compile_evaluator (the
    planner's partition evaluator) against the oracle."""
    tbl = pa.Table.from_pylist(rows, schema=ARROW_SCHEMA)
    for p in preds:
        bound = E.bind_expr(E.rewrite_not(p), FSCHEMA)
        want = _oracle_ids(rows, FSCHEMA, p)
        got = tbl.filter(E.to_arrow_expression(bound))["id"].to_pylist()
        assert sorted(got) == want, p
        ev = E.compile_evaluator(bound)
        assert sorted(r["id"] for r in rows if ev(r)) == want, p


def _build(catalog, spark, rows, layout, fv, name):
    """`one_per_file`: identity-partitioned by id, so every file holds
    one row (NaN-only, null-only and ±0.0-only files). `mixed`: three
    unpartitioned appends of a random split."""
    if layout == "one_per_file":
        spec = PartitionSpec(0, (PartitionField(1, 1000, "id", IdentityTransform()),))
        t = _table(catalog, name, FSCHEMA, fv, spec=spec)
        chunks = [rows]
    else:
        t = _table(catalog, name, FSCHEMA, fv)
        cut = sorted(random.Random(len(rows)).sample(range(1, len(rows)), 2))
        chunks = [rows[: cut[0]], rows[cut[0] : cut[1]], rows[cut[1] :]]
    for chunk in chunks:
        t.append(
            spark.createDataFrame(
                [tuple(r[c] for c in ARROW_SCHEMA.names) for r in chunk], FDDL
            ).coalesce(1)
        )
    return t


def _file_ids(t):
    return {
        task.file.file_path: set(
            pq.read_table(task.file.file_path, columns=["id"])["id"].to_pylist()
        )
        for task in t.scan().plan_files()
    }


def _fuzz(catalog, spark, seed, layouts, reads, dmls, n_rows):
    rng = random.Random(seed)
    rows = _rows(rng, n_rows)
    _check_row_compilers(rows, _every_leaf(rng) + [_predicate(rng) for _ in range(60)])
    for layout, fv in layouts:
        t = _build(catalog, spark, rows, layout, fv, f"fz{seed}_{layout}_v{fv}")
        by_id = {r["id"]: r for r in rows}
        files = _file_ids(t)
        for _ in range(reads):
            p = _predicate(rng)
            want = _oracle_ids(rows, FSCHEMA, p)
            assert _ids(t, spark, p) == want, (layout, fv, p)
            assert _ids(t, spark, p, arrow=True) == want, (layout, fv, p)
            planned = {task.file.file_path for task in t.scan(row_filter=p).plan_files()}
            for path, ids in files.items():
                assert path in planned or not ids & set(want), (layout, fv, p, path)
        live = sorted(by_id)
        for step in range(dmls):
            p = _predicate(rng)
            if step % 2 == 0:
                t.delete_where(spark, p)
            else:
                t.overwrite_where(spark.createDataFrame([], FDDL), p)
            live = _survivors([by_id[i] for i in live], FSCHEMA, p)
            assert _ids(t, spark) == live, (layout, fv, step, p)


def test_predicate_rule_fuzz_slice(catalog, spark):
    """Short slice of the differential fuzz (default tier)."""
    _fuzz(
        catalog, spark, 11,
        layouts=[("one_per_file", 3), ("mixed", 2)],
        reads=2, dmls=2, n_rows=12,
    )


@pytest.mark.parametrize("seed", [3, 5, 8])
def test_predicate_rule_fuzz(catalog, spark, seed):
    """Long run of the differential fuzz (slow tier)."""
    _fuzz(
        catalog, spark, seed,
        layouts=[(layout, fv) for layout in ("one_per_file", "mixed") for fv in (2, 3)],
        reads=6, dmls=4, n_rows=20,
    )
