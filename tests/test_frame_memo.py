"""The merge-on-read frame memo (`table._FRAME_MEMO`, IMPLEMENTATION.md
"One frame per snapshot"): `Scan._read_with_deletes` builds the frame of
one session's read of one snapshot once, and every later read of the
same tasks, schema and flags reuses it.

On a v3 table with deletion vectors and equality deletes:

  * a repeated `to_df` and a `count` reuse the frame, and return the
    rows of a fresh build and of `merge_on_read_oracle`;
  * an append, a `delete_where`, a key-column rename and a property
    change that makes the table name-mapped each miss and return the
    new snapshot's rows;
  * a session from `spark.newSession()` builds its own frame;
  * lineage, position-keeping and plain reads, and reads of different
    projections, never share an entry.
"""

from __future__ import annotations

import collections
from decimal import Decimal

import pytest

from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
from iceberg_go_distributed_spark.iceberg.manifest import DataFileContent
from iceberg_go_distributed_spark.iceberg.reader import mapped_names
from iceberg_go_distributed_spark.iceberg.sanitize import (
    name_mapping_from_schema,
    name_mapping_to_json,
)
from iceberg_go_distributed_spark.iceberg.table import _FRAME_MEMO, Scan
from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

from tests.oracles import merge_on_read_oracle

DDL = "id long, k string, v double"


@pytest.fixture()
def builds(monkeypatch):
    """The `Scan._build_read` calls made so far: one per memo miss."""
    calls = []
    orig = Scan._build_read

    def spy(self, *a, **kw):
        calls.append(a)
        return orig(self, *a, **kw)

    monkeypatch.setattr(Scan, "_build_read", spy)
    return calls


def _mor_table(tmp_path, spark):
    """40 rows in two files; ids 0-4 deleted by DVs, k = 'k1' (nine
    more rows) by an equality delete."""
    cat = FileSystemCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, f"k{i % 4}", float(i)) for i in range(40)], DDL
    )
    t = cat.create_table("db.mor", schema_from_spark(df.schema))
    t.upgrade_format_version(3)
    t.append(df.where("id < 20").coalesce(1))
    t.append(df.where("id >= 20").coalesce(1))
    t.delete_where(spark, E.less_than("id", 5))
    t.refresh()
    t.delete_by_keys(spark.createDataFrame([("k1",)], "k string"), ["k"])
    t.refresh()
    kinds = {
        (d.content, d.content_offset is not None)
        for task in t.scan().plan_files()
        for d in task.delete_files
    }
    assert kinds == {
        (DataFileContent.POSITION_DELETES, True),
        (DataFileContent.EQUALITY_DELETES, False),
    }
    return cat, t


def _oracle(t, columns=None, with_fp_pos=False):
    schema = t.schema()
    return merge_on_read_oracle(
        t.scan().plan_files(),
        schema,
        columns or [f.name for f in schema.fields],
        with_fp_pos,
        mapped=mapped_names(t.properties),
    )


def _rows(df, *columns):
    return collections.Counter(
        tuple(r) for r in (df.select(*columns) if columns else df).collect()
    )


def test_nested_columns_reuse_one_frame_across_loads(tmp_path, spark, builds):
    """Every `load_table` parses new type objects: the key must depend on
    the schema's content only, or a struct, list or decimal column would
    miss on every reload."""
    cat = FileSystemCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, (i, f"s{i}"), [i, i + 1], Decimal(i)) for i in range(10)],
        "id long, s struct<a:int,b:string>, l array<int>, d decimal(9,2)",
    )
    t = cat.create_table("db.nested", schema_from_spark(df.schema))
    t.upgrade_format_version(3)
    t.append(df.coalesce(1))
    t.delete_where(spark, E.less_than("id", 3))
    first = _rows(cat.load_table("db.nested").scan().to_df(spark), "id", "d")
    n = len(builds)
    for _ in range(3):
        again = _rows(cat.load_table("db.nested").scan().to_df(spark), "id", "d")
    assert len(builds) == n, "a reload of a nested-column table rebuilt its frame"
    assert first == again
    assert sorted(r[0] for r in again) == list(range(3, 10))


def test_only_to_df_reads_are_memoized(tmp_path, spark):
    """DML, compaction and eq→DV conversion read once and then commit,
    so they never put an entry in the memo."""
    cat, t = _mor_table(tmp_path, spark)
    _FRAME_MEMO.clear()
    t.delete_where(spark, E.greater_than("id", 35))
    t.rewrite_data_files(spark)
    t.convert_equality_deletes(spark)
    assert len(_FRAME_MEMO) == 0
    t = cat.load_table("db.mor")
    assert _rows(t.scan().to_df(spark)) == _oracle(t)
    assert len(_FRAME_MEMO) == 1


@pytest.mark.parametrize("bound", ["_FRAME_MEMO_MAX_FILES", "_FRAME_MEMO_MAX_DELETE_ROWS"])
def test_reads_above_the_bound_are_not_held(tmp_path, spark, builds, monkeypatch, bound):
    from iceberg_go_distributed_spark.iceberg import table as T

    cat, t = _mor_table(tmp_path, spark)
    monkeypatch.setattr(T, bound, 1)
    _FRAME_MEMO.clear()
    n = len(builds)
    _rows(t.scan().to_df(spark))
    assert _rows(t.scan().to_df(spark)) == _oracle(t)
    assert len(builds) == n + 2
    assert len(_FRAME_MEMO) == 0


def test_repeated_reads_reuse_one_frame(tmp_path, spark, builds):
    cat, t = _mor_table(tmp_path, spark)
    want = _oracle(t)
    first = _rows(cat.load_table("db.mor").scan().to_df(spark))
    n = len(builds)
    again = _rows(cat.load_table("db.mor").scan().to_df(spark))
    count = cat.load_table("db.mor").scan().count(spark)
    assert len(builds) == n, "a repeated read of the snapshot rebuilt its frame"
    _FRAME_MEMO.clear()
    fresh = _rows(t.scan().to_df(spark))
    assert len(builds) == n + 1
    assert first == again == fresh == want
    assert count == sum(want.values()) == 40 - 5 - 9


@pytest.mark.parametrize(
    "change", ["append", "delete_where", "rename_key", "name_mapped"]
)
def test_every_change_misses(tmp_path, spark, builds, change):
    cat, t = _mor_table(tmp_path, spark)
    _rows(t.scan().to_df(spark))
    if change == "append":
        t.append(spark.createDataFrame([(100, "k1", 1.0), (101, "k9", 2.0)], DDL))
    elif change == "delete_where":
        t.delete_where(spark, E.greater_than("id", 30))
    elif change == "rename_key":
        t.update_schema().rename_column("k", "kk").commit()
    else:
        mapping = name_mapping_to_json(name_mapping_from_schema(t.schema()))
        t.transaction().set_properties({"schema.name-mapping.default": mapping}).commit()
    t = cat.load_table("db.mor")
    n = len(builds)
    df = t.scan().to_df(spark)
    assert len(builds) == n + 1, f"{change}: the read reused a stale frame"
    assert df.columns == [f.name for f in t.schema().fields]
    assert _rows(df) == _oracle(t)


def test_a_new_session_builds_its_own_frame(tmp_path, spark, builds):
    cat, t = _mor_table(tmp_path, spark)
    _rows(t.scan().to_df(spark))
    other = spark.newSession()
    n = len(builds)
    df = t.scan().to_df(other)
    assert len(builds) == n + 1
    assert df.sparkSession is other
    assert _rows(df) == _oracle(t)


def test_flags_and_projections_never_share_an_entry(tmp_path, spark, builds):
    cat, t = _mor_table(tmp_path, spark)
    scan, schema = t.scan(), t.schema()
    tasks = scan.plan_files()
    plain = scan._read_with_deletes(spark, tasks, schema, memo=True)
    lineage = scan._read_with_deletes(spark, tasks, schema, lineage=True, memo=True)
    with_pos = scan._read_with_deletes(spark, tasks, schema, with_pos=True, memo=True)
    assert len(builds) == 3
    assert scan._read_with_deletes(spark, tasks, schema, memo=True) is plain
    assert len(builds) == 3
    names = [f.name for f in schema.fields]
    assert _rows(plain) == _oracle(t)
    for df in (lineage, with_pos):
        assert _rows(df, *names, "_fp", "_pos") == _oracle(t, with_fp_pos=True)

    n = len(builds)
    ids = t.scan().select("id").to_df(spark)
    vs = t.scan().select("v").to_df(spark)
    assert len(builds) == n + 2
    assert _rows(ids) == _oracle(t, ["id"])
    assert _rows(vs) == _oracle(t, ["v"])
