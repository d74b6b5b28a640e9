"""Row-level DML: positional deletes (merge-on-read), whole-file strict
drops, copy-on-write overwrite, add_files — plus the strict evaluator.
Ports the delete-matching semantics of scanner.go:285-309 and the MOR
read of arrow_scanner.go:102-190."""

from __future__ import annotations

import struct

import pytest

from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg import types as ty
from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
from iceberg_go_distributed_spark.iceberg.evaluators import strict_metrics_evaluator
from iceberg_go_distributed_spark.iceberg.manifest import DataFile
from iceberg_go_distributed_spark.iceberg.types import NestedField, Schema

from tests.test_table_e2e import LINEITEM_SCHEMA

_i32 = lambda v: struct.pack("<i", v)


@pytest.fixture()
def fs_catalog(tmp_path):
    return FileSystemCatalog(str(tmp_path / "warehouse"))


@pytest.fixture()
def lineitem_df(spark, sf_dir):
    from iceberg_go_distributed_spark.datasets import load_table

    return load_table(spark, sf_dir, "lineitem")


STRICT_SCHEMA = Schema.of(
    1,
    NestedField(1, "id", ty.IntegerType(), required=True),
    NestedField(2, "maybe_null", ty.StringType()),
)

F_RANGE = DataFile(
    file_path="a.parquet",
    record_count=10,
    value_counts={1: 10, 2: 10},
    null_value_counts={1: 0, 2: 0},
    lower_bounds={1: _i32(30)},
    upper_bounds={1: _i32(79)},
)
F_NULLS = DataFile(
    file_path="b.parquet",
    record_count=10,
    value_counts={1: 10, 2: 10},
    null_value_counts={1: 0, 2: 3},
    lower_bounds={1: _i32(5)},
    upper_bounds={1: _i32(5)},
)


def _strict(expr, f):
    return strict_metrics_evaluator(STRICT_SCHEMA, expr)(f)


def test_strict_evaluator_matrix():
    # every row in [30,79] is < 100 → must match
    assert _strict(E.less_than("id", 100), F_RANGE)
    assert not _strict(E.less_than("id", 79), F_RANGE)
    assert _strict(E.less_than_or_equal("id", 79), F_RANGE)
    assert _strict(E.greater_than("id", 29), F_RANGE)
    assert _strict(E.greater_than_or_equal("id", 30), F_RANGE)
    assert not _strict(E.greater_than("id", 30), F_RANGE)
    # EQ must-match only when lower==upper==lit
    assert not _strict(E.equal("id", 30), F_RANGE)
    assert _strict(E.equal("id", 5), F_NULLS)
    # NOT_EQ: range excludes value → must match
    assert _strict(E.not_equal("id", 100), F_RANGE)
    assert not _strict(E.not_equal("id", 50), F_RANGE)
    # nulls break must-match for value predicates
    assert not _strict(E.equal("maybe_null", "x"), F_NULLS)
    # null handling for unary
    assert _strict(E.not_null("id"), F_RANGE)
    assert not _strict(E.is_null("maybe_null"), F_NULLS)
    # IN: single-value range inside the set
    assert _strict(E.is_in("id", [5, 6]), F_NULLS)
    assert not _strict(E.is_in("id", [30, 79]), F_RANGE)
    assert _strict(E.not_in("id", [100, 200]), F_RANGE)


def test_delete_where_merge_on_read(fs_catalog, spark, lineitem_df):
    t = fs_catalog.create_table("db.li_del", LINEITEM_SCHEMA)
    t.append(lineitem_df.coalesce(1))
    n0 = t.scan().to_df(spark).count()
    n_target = lineitem_df.where("l_quantity > 45.0").count()
    assert 0 < n_target < n0

    t.delete_where(spark, E.greater_than("l_quantity", 45.0))
    assert t.current_snapshot().summary.operation == "delete"

    # read back: deleted rows are gone, everything else intact
    df = t.scan().to_df(spark)
    assert df.count() == n0 - n_target
    assert df.where("l_quantity > 45.0").count() == 0
    want = lineitem_df.where("l_quantity <= 45.0").agg({"l_extendedprice": "sum"}).first()[0]
    got = df.agg({"l_extendedprice": "sum"}).first()[0]
    assert abs(got - want) < 1e-6

    # filtered scan through the MOR path
    got2 = t.scan(row_filter=E.equal("l_returnflag", "R")).to_df(spark).count()
    want2 = lineitem_df.where("l_quantity <= 45.0 AND l_returnflag = 'R'").count()
    assert got2 == want2

    # time travel still sees the pre-delete state
    first = t.metadata.snapshots[0]
    assert t.scan(snapshot_id=first.snapshot_id).to_df(spark).count() == n0


def test_delete_where_whole_file_drop(fs_catalog, spark, lineitem_df):
    t = fs_catalog.create_table("db.li_drop", LINEITEM_SCHEMA)
    lo = lineitem_df.where("l_orderkey < 500")
    hi = lineitem_df.where("l_orderkey >= 1000")
    t.append(lo.coalesce(1))
    t.append(hi.coalesce(1))

    # the lo file strictly matches l_orderkey < 500 → dropped, no delete files
    t.delete_where(spark, E.less_than("l_orderkey", 500))
    snap = t.current_snapshot()
    assert snap.summary.operation == "delete"
    assert snap.summary.properties["deleted-data-files"] == "1"
    tasks = t.scan().plan_files()
    assert len(tasks) == 1 and not tasks[0].delete_files
    assert t.scan().to_df(spark).count() == hi.count()


def test_overwrite_where(fs_catalog, spark, lineitem_df):
    t = fs_catalog.create_table("db.li_ow", LINEITEM_SCHEMA)
    t.append(lineitem_df.coalesce(1))
    n0 = t.scan().to_df(spark).count()

    # replace all rows with l_linenumber == 1 by the same rows with
    # quantity zeroed (a realistic GDPR-style rewrite)
    from pyspark.sql import functions as F

    replacement = lineitem_df.where("l_linenumber = 1").withColumn(
        "l_quantity", F.lit(0.0)
    )
    t.overwrite_where(replacement, E.equal("l_linenumber", 1))
    snap = t.current_snapshot()
    assert snap.summary.operation == "overwrite"
    df = t.scan().to_df(spark)
    assert df.count() == n0
    assert df.where("l_linenumber = 1 AND l_quantity != 0.0").count() == 0
    assert df.where("l_linenumber = 1").count() == replacement.count()
    # untouched rows preserved bit-for-bit
    want = lineitem_df.where("l_linenumber != 1").agg({"l_extendedprice": "sum"}).first()[0]
    got = df.where("l_linenumber != 1").agg({"l_extendedprice": "sum"}).first()[0]
    assert abs(got - want) < 1e-6


def test_add_files(fs_catalog, spark, lineitem_df, tmp_path, sf_dir):
    import os

    t = fs_catalog.create_table("db.li_add", LINEITEM_SCHEMA)
    t.add_files([os.path.join(sf_dir, "lineitem.parquet")])
    assert t.scan().to_df(spark).count() == lineitem_df.count()
    # stats harvested: metrics pruning works on the registered file
    tasks = t.scan(row_filter=E.less_than("l_orderkey", -1)).plan_files()
    assert tasks == []


def test_equality_deletes(fs_catalog, spark, lineitem_df):
    """CDC-shape equality deletes: keys written once, applied to all
    older data files; rows appended after the delete are exempt."""
    t = fs_catalog.create_table("db.li_eq", LINEITEM_SCHEMA)
    t.append(lineitem_df.where("l_orderkey < 800").coalesce(1))
    n0 = t.scan().to_df(spark).count()

    victims = lineitem_df.where("l_orderkey < 100").select("l_orderkey").distinct()
    n_victim_rows = lineitem_df.where("l_orderkey < 100 AND l_orderkey < 800").count()
    t.delete_by_keys(victims, ["l_orderkey"])
    assert t.current_snapshot().summary.operation == "delete"

    df = t.scan().to_df(spark)
    assert df.count() == n0 - n_victim_rows
    assert df.where("l_orderkey < 100").count() == 0

    # rows appended AFTER the equality delete keep the deleted keys
    t.append(lineitem_df.where("l_orderkey < 50").coalesce(1))
    n_new = lineitem_df.where("l_orderkey < 50").count()
    df2 = t.scan().to_df(spark)
    assert df2.where("l_orderkey < 100").count() == n_new
    assert df2.count() == n0 - n_victim_rows + n_new


def test_equality_plus_positional_deletes(fs_catalog, spark, lineitem_df):
    """Both delete kinds stack on the same table."""
    from iceberg_go_distributed_spark.iceberg import expressions as E

    t = fs_catalog.create_table("db.li_mixed", LINEITEM_SCHEMA)
    t.append(lineitem_df.where("l_orderkey < 600").coalesce(1))
    base = lineitem_df.where("l_orderkey < 600")
    t.delete_by_keys(
        base.where("l_linenumber = 7").select("l_orderkey").distinct(), ["l_orderkey"]
    )
    t.delete_where(spark, E.greater_than("l_quantity", 45.0))
    df = t.scan().to_df(spark)
    import pyspark.sql.functions as F

    keys7 = {r.l_orderkey for r in base.where("l_linenumber = 7").select("l_orderkey").distinct().collect()}
    want = base.where(
        (~F.col("l_orderkey").isin(list(keys7))) & (F.col("l_quantity") <= 45.0)
    ).count()
    assert df.count() == want


def test_upsert_single_snapshot(fs_catalog, spark, lineitem_df):
    """MERGE: one snapshot replaces keyed rows and inserts the batch."""
    from pyspark.sql import functions as F

    t = fs_catalog.create_table("db.li_upsert", LINEITEM_SCHEMA)
    t.append(lineitem_df.where("l_orderkey < 500").coalesce(1))
    n_before = t.scan().to_df(spark).count()
    n_snapshots = len(t.metadata.snapshots)

    batch = (
        lineitem_df.where("l_orderkey < 100 OR (l_orderkey >= 1000 AND l_orderkey < 1100)")
        .withColumn("l_quantity", F.lit(-1.0))
    )
    t.upsert(batch, ["l_orderkey"])

    assert len(t.metadata.snapshots) == n_snapshots + 1  # ONE new snapshot
    df = t.scan().to_df(spark)
    # every batch key now maps exclusively to batch rows
    assert df.where("l_orderkey < 100 AND l_quantity != -1.0").count() == 0
    assert df.where("l_orderkey >= 1000 AND l_quantity != -1.0").count() == 0
    # untouched keys unchanged
    assert (
        df.where("l_orderkey >= 100 AND l_orderkey < 500 AND l_quantity = -1.0").count()
        == 0
    )
    want = (
        lineitem_df.where("l_orderkey >= 100 AND l_orderkey < 500").count()
        + batch.count()
    )
    assert df.count() == want


def test_rewrite_data_files_compaction(fs_catalog, spark, lineitem_df):
    from iceberg_go_distributed_spark.iceberg.manifest import read_manifest

    t = fs_catalog.create_table("db.li_compact", LINEITEM_SCHEMA)
    for i in range(5):
        t.append(lineitem_df.where(f"l_orderkey % 5 = {i}").coalesce(1))
    t.delete_where(spark, E.greater_than("l_quantity", 49.0))
    n = t.scan().to_df(spark).count()
    n_files_before = len(t.scan().plan_files())
    assert n_files_before == 5

    assert t.rewrite_data_files(spark)
    assert t.current_snapshot().summary.operation == "replace"
    tasks = t.scan().plan_files()
    assert len(tasks) < n_files_before
    assert not any(x.delete_files for x in tasks), "deletes materialized"
    assert t.scan().to_df(spark).count() == n
    # compacting an already-compact table is a no-op
    assert not t.rewrite_data_files(spark)


def test_overwrite_does_not_resurrect_deleted_rows(fs_catalog, spark, lineitem_df):
    """Code-review regression: overwrite must read survivors through the
    MOR path — raw parquet reads would bring MOR-deleted rows back."""
    from pyspark.sql import functions as F

    t = fs_catalog.create_table("db.li_resur", LINEITEM_SCHEMA)
    t.append(lineitem_df.coalesce(1))
    t.delete_where(spark, E.greater_than("l_quantity", 45.0))  # MOR deletes
    n_after_del = t.scan().to_df(spark).count()

    replacement = lineitem_df.where(
        "l_linenumber = 1 AND l_quantity <= 45.0"
    ).withColumn("l_extendedprice", F.lit(0.0))
    t.overwrite_where(replacement, E.equal("l_linenumber", 1))

    df = t.scan().to_df(spark)
    # no deleted (qty>45) rows may reappear
    assert df.where("l_quantity > 45.0").count() == 0
    want = (
        lineitem_df.where("l_quantity <= 45.0 AND l_linenumber != 1").count()
        + replacement.count()
    )
    assert df.count() == want


def test_compaction_leaves_wellsized_files_alone(fs_catalog, spark, lineitem_df):
    from iceberg_go_distributed_spark.iceberg.manifest import read_manifest

    t = fs_catalog.create_table("db.li_scope", LINEITEM_SCHEMA)
    t.append(lineitem_df.coalesce(1))  # one big-ish file (~170KB at sf0.001)
    for i in range(3):
        t.append(lineitem_df.limit(20 + i).coalesce(1))  # three tiny files
    before = {
        e.data_file.file_path
        for m in t.current_snapshot().manifests()
        for e in read_manifest(m.manifest_path)
    }
    big = max(
        (
            e.data_file
            for m in t.current_snapshot().manifests()
            for e in read_manifest(m.manifest_path)
        ),
        key=lambda f: f.file_size_in_bytes,
    ).file_path

    assert t.rewrite_data_files(spark, target_file_size=64 * 1024)
    after = {
        e.data_file.file_path
        for m in t.current_snapshot().manifests()
        for e in read_manifest(m.manifest_path)
    }
    assert big in after, "well-sized file must be carried, not rewritten"
    assert len(after) < len(before)
    n_expected = lineitem_df.count() + 20 + 21 + 22
    assert t.scan().to_df(spark).count() == n_expected


def test_equality_delete_null_keys(fs_catalog, spark):
    """Iceberg eq-delete semantics: NULL key values match NULL rows."""
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], "id bigint, k string"
    )
    t = fs_catalog.create_table("db.eq_null", schema_from_spark(df.schema))
    t.append(df.coalesce(1))
    victims = spark.createDataFrame([(None,), ("a",)], "k string")
    t.delete_by_keys(victims, ["k"])
    left = {r.id for r in t.scan().to_df(spark).collect()}
    assert left == {3}, f"null-keyed rows must be deleted too, got {left}"


def test_distributed_planner_handles_delete_tables(fs_catalog, spark, lineitem_df):
    """Executor-side planning must do the same sequence-gated delete
    matching as the local planner (ref scanner.go:268-309) — no driver
    fallback, identical task sets, identical scan results."""
    from iceberg_go_distributed_spark.iceberg.table import plan_files_distributed

    t = fs_catalog.create_table("db.dp_del", LINEITEM_SCHEMA)
    t.append(lineitem_df.limit(200).coalesce(1))
    t.delete_where(spark, E.greater_than("l_quantity", 45.0))  # positional
    t.append(lineitem_df.limit(300).where("l_quantity <= 45.0").coalesce(1))
    victims = lineitem_df.limit(200).where("l_linenumber = 6").select("l_orderkey").distinct()
    t.delete_by_keys(victims, ["l_orderkey"])  # equality

    local = t.scan().plan_files()
    dist = plan_files_distributed(t.scan(), spark)
    as_map = lambda tasks: {
        x.file.file_path: sorted(d.file_path for d in x.delete_files) for x in tasks
    }
    assert as_map(dist) == as_map(local)
    assert any(x.delete_files for x in dist), "expected matched delete files"
    # both kinds of deletes must appear in the matched sets
    kinds = {d.content for x in dist for d in x.delete_files}
    assert len(kinds) == 2, f"expected positional AND equality deletes, got {kinds}"


# -------- extended strict-evaluator corpus (evaluators_test.go:2166+) --------

F_WITH_NANS = DataFile(
    file_path="n.parquet",
    record_count=10,
    value_counts={1: 10, 2: 10},
    null_value_counts={1: 0, 2: 0},
    nan_value_counts={1: 0},
    lower_bounds={1: _i32(30)},
    upper_bounds={1: _i32(79)},
)

F_ALL_NULLS = DataFile(
    file_path="an.parquet",
    record_count=10,
    value_counts={1: 10, 2: 10},
    null_value_counts={1: 0, 2: 10},
    lower_bounds={1: _i32(30)},
    upper_bounds={1: _i32(79)},
)


def test_strict_nan_and_null_columns():
    # all-null string column: IS_NULL must match, NOT_NULL must not
    assert _strict(E.is_null("maybe_null"), F_ALL_NULLS)
    assert not _strict(E.not_null("maybe_null"), F_ALL_NULLS)
    # value predicate on all-null column can never must-match
    assert not _strict(E.equal("maybe_null", "x"), F_ALL_NULLS)
    # NOT_EQ with nulls present cannot must-match (null fails x != v);
    # soundness divergence from the reference's unexercised shortcut
    assert not _strict(E.not_equal("maybe_null", "x"), F_ALL_NULLS)


def test_strict_compound_and_not():
    assert _strict(
        E.and_(E.less_than("id", 100), E.greater_than("id", 29)), F_RANGE
    )
    assert not _strict(
        E.and_(E.less_than("id", 100), E.greater_than("id", 30)), F_RANGE
    )
    assert _strict(
        E.or_(E.less_than("id", 10), E.greater_than_or_equal("id", 30)), F_RANGE
    )
    # NOT(LT 100) = GT_EQ 100: no row >= 100 → might-not under strict
    assert not _strict(E.not_(E.less_than("id", 100)), F_RANGE)
    # NOT(GT 100) = LT_EQ 100: every row <= 100 → must match
    assert _strict(E.not_(E.greater_than("id", 100)), F_RANGE)


def test_strict_starts_with_bounds():
    f = DataFile(
        file_path="s.parquet",
        record_count=5,
        value_counts={2: 5},
        null_value_counts={2: 0},
        lower_bounds={2: b"apple"},
        upper_bounds={2: b"apricot"},
    )
    assert _strict(E.starts_with("maybe_null", "ap"), f)
    assert not _strict(E.starts_with("maybe_null", "app"), f)
    assert not _strict(E.starts_with("maybe_null", "b"), f)


def test_strict_empty_file_matches_everything():
    empty = DataFile(file_path="e.parquet", record_count=0)
    assert _strict(E.equal("id", 12345), empty)
    assert _strict(E.is_null("maybe_null"), empty)


def test_external_file_nan_vs_null(fs_catalog, spark, tmp_path):
    """Review regression bundle: add_files on a foreign parquet (no
    field ids) sets a name mapping so scans resolve by name, and
    IS_NAN deletes only true NaN rows, never nulls (arrow validity)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "ext.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1, 2, 3], pa.int64()),
                "x": pa.array([5.0, float("nan"), None], pa.float64()),
            }
        ),
        path,
    )
    t = fs_catalog.create_table(
        "db.ext_nan",
        Schema.of(
            0,
            NestedField(1, "id", ty.LongType(), required=True),
            NestedField(2, "x", ty.DoubleType()),
        ),
    )
    t.add_files([path])
    assert "schema.name-mapping.default" in t.properties
    assert t.scan().to_df(spark).count() == 3
    t.delete_where(spark, E.is_nan("x"))
    assert sorted(r.id for r in t.scan().to_df(spark).collect()) == [1, 3]


def test_date_set_predicates_through_compilers(fs_catalog, spark):
    """Review regression: IN/NOT_IN date literals convert to real dates
    in both the Spark and pandas compilers."""
    import datetime

    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    ddf = spark.createDataFrame(
        [
            (1, datetime.date(2020, 1, 1)),
            (2, datetime.date(2021, 6, 1)),
            (3, datetime.date(2022, 3, 3)),
        ],
        "id bigint, d date",
    )
    t = fs_catalog.create_table("db.din", schema_from_spark(ddf.schema))
    t.append(ddf.coalesce(1))
    n = t.scan(
        row_filter=E.is_in("d", [datetime.date(2021, 6, 1)])
    ).to_df(spark).count()
    assert n == 1
    t.delete_where(
        spark, E.is_in("d", [datetime.date(2020, 1, 1), datetime.date(2022, 3, 3)])
    )
    assert sorted(r.id for r in t.scan().to_df(spark).collect()) == [2]


def test_not_eq_delete_sound_with_nulls(fs_catalog, spark):
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    df = spark.createDataFrame([(1, 5.0), (2, 7.0), (3, None)], "id bigint, x double")
    t = fs_catalog.create_table("db.ne_sound", schema_from_spark(df.schema))
    t.append(df.coalesce(1))
    t.delete_where(spark, E.not_equal("x", 7.0))
    # x=5 deleted; x=7 kept; null kept (null != 7 is NULL, not true)
    assert sorted(r.id for r in t.scan().to_df(spark).collect()) == [2, 3]


def test_iter_matched_positions_batchwise_multi_rowgroup(tmp_path):
    """Predicate evaluation streams record batches with positions offset
    by batch start — executor memory bounded by batch size, not file
    size (ADVICE/VERDICT r5): verify exact global positions on a file
    with many row groups and with batch_rows smaller than a row group."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_go_distributed_spark.iceberg import types as ty
    from iceberg_go_distributed_spark.iceberg.expressions import (
        bind_expr,
        greater_than_or_equal,
        is_nan,
        or_,
        rewrite_not,
    )
    from iceberg_go_distributed_spark.iceberg.types import NestedField, Schema
    from iceberg_go_distributed_spark.iceberg.write import _iter_matched_positions

    n = 1000
    vals = [float(i % 97) for i in range(n)]
    vals[123] = float("nan")
    vals[777] = float("nan")
    path = str(tmp_path / "multi_rg.parquet")
    pq.write_table(
        pa.table({"id": list(range(n)), "v": vals}), path, row_group_size=128
    )
    schema = Schema.of(
        0,
        NestedField(1, "id", ty.LongType(), required=True),
        NestedField(2, "v", ty.DoubleType()),
    )
    expr = or_(greater_than_or_equal("v", 90.0), is_nan("v"))
    bound = bind_expr(rewrite_not(expr), schema)

    expect = sorted(
        i for i, v in enumerate(vals) if (v != v) or v >= 90.0
    )
    for batch_rows in (64, 128, 100000):  # < rowgroup, == rowgroup, whole file
        got = np.concatenate(
            list(_iter_matched_positions(path, ["v"], bound, batch_rows=batch_rows))
        )
        assert got.tolist() == expect, batch_rows


def test_snapshot_totals_track_every_commit_type(fs_catalog, spark, lineitem_df):
    """ref table/snapshots.go:445-486 (updateSnapshotSummaries): the six
    total-* counters advance incrementally (+added −removed) on EVERY
    snapshot — append, row-level delete (whole-file + MOR), DV-replacing
    second delete, equality delete, upsert, compaction — not just
    appends. The model below tracks what each total must be."""
    from iceberg_go_distributed_spark.iceberg import expressions as E

    rows = [r.asDict() for r in lineitem_df.limit(90).collect()]
    for i, r in enumerate(rows):
        r["l_orderkey"] = i
    df = spark.createDataFrame(rows, lineitem_df.schema)

    t = fs_catalog.create_table("db.totals", LINEITEM_SCHEMA)
    t.upgrade_format_version(3)

    def totals():
        p = t.current_snapshot().summary.properties
        return {
            k: int(p.get(f"total-{k}", "-1"))
            for k in ("data-files", "delete-files", "records",
                      "position-deletes", "equality-deletes")
        }

    # three appends → 3 files, 90 rows
    for lo, hi in ((0, 30), (30, 60), (60, 90)):
        t.append(df.where(f"l_orderkey >= {lo} AND l_orderkey < {hi}").coalesce(1))
    assert totals() == {
        "data-files": 3, "delete-files": 0, "records": 90,
        "position-deletes": 0, "equality-deletes": 0,
    }

    # whole-file drop (strict match on file 1) + MOR delete on file 2
    t.delete_where(spark, E.less_than("l_orderkey", 30))       # drops file 1
    assert totals() == {
        "data-files": 2, "delete-files": 0, "records": 60,
        "position-deletes": 0, "equality-deletes": 0,
    }
    t.delete_where(
        spark, E.and_(E.greater_than_or_equal("l_orderkey", 30), E.less_than("l_orderkey", 35))
    )  # 5 positions into a DV on file 2
    assert totals() == {
        "data-files": 2, "delete-files": 1, "records": 60,
        "position-deletes": 5, "equality-deletes": 0,
    }
    # DV merge-and-replace: +3 newly, entry count unchanged
    t.delete_where(
        spark, E.and_(E.greater_than_or_equal("l_orderkey", 33), E.less_than("l_orderkey", 38))
    )  # 33,34 already deleted → 3 newly
    assert totals() == {
        "data-files": 2, "delete-files": 1, "records": 60,
        "position-deletes": 8, "equality-deletes": 0,
    }

    # equality delete: one key file, 2 keys
    t.delete_by_keys(
        spark.createDataFrame([(62,), (63,)], "l_orderkey bigint"), ["l_orderkey"]
    )
    got = totals()
    assert got["delete-files"] == 2 and got["equality-deletes"] == 2
    assert got["records"] == 60  # eq deletes don't shrink data rows

    # compaction materializes everything; sweep then clears the
    # dangling DV + eq entries via rewrite_position_deletes... the DV
    # sweep handles positional only, so assert the data-side effects
    assert t.rewrite_data_files(spark) is True
    got = totals()
    live = t.scan().to_df(spark).count()
    assert got["records"] == live == 60 - 8 - 2
    assert got["data-files"] >= 1
    assert t.rewrite_position_deletes(spark) is True  # dangling DV sweep
    got = totals()
    assert got["position-deletes"] == 0, got


def test_snapshot_totals_fuzz_vs_manifest_recomputation(
    fs_catalog, spark, lineitem_df
):
    """Invariant: the incrementally-maintained total-* counters equal a
    ground-truth recomputation over the CURRENT snapshot's live manifest
    entries after ANY DML sequence. Seeded random sequences of append /
    delete_where / delete_by_keys / upsert / compaction / DV
    consolidation — the telescoping newly-only DV accounting must land
    on exactly the live DV cardinalities."""
    import random

    from iceberg_go_distributed_spark.iceberg import expressions as E
    from iceberg_go_distributed_spark.iceberg.maintenance import (
        rewrite_position_deletes,
    )
    from iceberg_go_distributed_spark.iceberg.manifest import (
        DataFileContent,
        ManifestContent,
        read_manifest,
    )

    rows = [r.asDict() for r in lineitem_df.limit(100).collect()]
    for i, r in enumerate(rows):
        r["l_orderkey"] = i
    df = spark.createDataFrame(rows, lineitem_df.schema).cache()

    def ground_truth(t):
        got = {
            "total-data-files": 0, "total-delete-files": 0,
            "total-records": 0, "total-position-deletes": 0,
            "total-equality-deletes": 0,
        }
        for m in t.current_snapshot().manifests():
            for e in read_manifest(
                m.manifest_path, inherit_sequence_number=m.sequence_number
            ):
                d = e.data_file
                if m.content == ManifestContent.DATA:
                    got["total-data-files"] += 1
                    got["total-records"] += d.record_count
                elif d.content == DataFileContent.POSITION_DELETES:
                    got["total-delete-files"] += 1
                    got["total-position-deletes"] += d.record_count
                elif d.content == DataFileContent.EQUALITY_DELETES:
                    got["total-delete-files"] += 1
                    got["total-equality-deletes"] += d.record_count
        return got

    for seed in (7, 23):
        rng = random.Random(seed)
        t = fs_catalog.create_table(f"db.fuzz{seed}", LINEITEM_SCHEMA)
        t.upgrade_format_version(3)
        next_key = 0

        def fresh_batch(n):
            nonlocal next_key
            lo, next_key = next_key, next_key + n
            return df.where(f"l_orderkey >= {lo % 100}").limit(n).selectExpr(
                *[c if c != "l_orderkey" else f"l_orderkey + {lo * 1000} AS l_orderkey"
                  for c in df.columns]
            )

        ops_run = []
        for step in range(8):
            op = rng.choice(
                ["append", "delete", "delete", "eq_delete", "upsert",
                 "compact", "consolidate"]
            )
            if op == "append" or t.current_snapshot() is None:
                t.append(fresh_batch(rng.randint(5, 20)).coalesce(1))
                op = "append"
            elif op == "delete":
                t.delete_where(
                    spark, E.equal("l_linenumber", rng.randint(1, 4))
                )
            elif op == "eq_delete":
                keys = [
                    r.l_orderkey
                    for r in t.scan().to_df(spark).select("l_orderkey").limit(3).collect()
                ]
                if keys:
                    t.delete_by_keys(
                        spark.createDataFrame([(k,) for k in keys], "l_orderkey bigint"),
                        ["l_orderkey"],
                    )
            elif op == "upsert":
                t.upsert(fresh_batch(rng.randint(3, 8)).coalesce(1), ["l_orderkey"])
            elif op == "compact":
                t.rewrite_data_files(spark)
            elif op == "consolidate":
                rewrite_position_deletes(t, spark, min_input_files=2)
            ops_run.append(op)

            props = t.current_snapshot().summary.properties
            want = ground_truth(t)
            got = {k: int(props.get(k, "0")) for k in want}
            assert got == want, f"seed={seed} step={step} ops={ops_run}: {got} != {want}"


def test_eq_delete_on_dropped_key_fails_loudly(fs_catalog, spark):
    """Review fix: an equality delete keyed on a since-dropped column
    can no longer be evaluated — matching the remaining key subset
    would over-delete and skipping would resurrect rows, so the scan
    must raise instead of silently corrupting either way."""
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    df = spark.createDataFrame(
        [(1, "eu", 1.0), (2, "us", 2.0), (3, "eu", 3.0)],
        "id long, region string, v double",
    )
    t = fs_catalog.create_table("db.eqdrop", schema_from_spark(df.schema))
    t.append(df.coalesce(1))
    t.delete_by_keys(
        spark.createDataFrame([(1, "eu")], "id long, region string"),
        ["id", "region"],
    )
    assert t.scan().to_df(spark).count() == 2

    t.update_schema().drop_column("region").commit()
    with pytest.raises(ValueError, match="dropped field ids"):
        t.scan().to_df(spark).count()


def test_delete_matcher_index_equals_linear_scan():
    """build_delete_matcher (DV dict + equality bisect + ranged scan)
    must return exactly match_deletes' tuples — same deletes, same
    order — across fuzzed delete sets mixing DVs, path-ranged
    positional deletes, and equality deletes."""
    import random

    from iceberg_go_distributed_spark.iceberg.conversions import to_bytes
    from iceberg_go_distributed_spark.iceberg.manifest import (
        POSITIONAL_DELETE_FILE_PATH_ID,
        DataFile,
        DataFileContent,
    )
    from oracles import match_deletes

    from iceberg_go_distributed_spark.iceberg.table import build_delete_matcher
    from iceberg_go_distributed_spark.iceberg.types import StringType

    rng = random.Random(42)
    paths = [f"/data/f{i:03d}.parquet" for i in range(40)]

    def dv(seq, target):
        return (
            seq,
            DataFile(
                file_path=f"/del/dv-{seq}-{target[-11:-8]}.puffin",
                content=DataFileContent.POSITION_DELETES,
                referenced_data_file=target,
                content_offset=4,
                content_size_in_bytes=16,
                record_count=1,
            ),
        )

    def ranged(seq, lo, hi):
        fid = POSITIONAL_DELETE_FILE_PATH_ID
        return (
            seq,
            DataFile(
                file_path=f"/del/pos-{seq}-{lo[-11:-8]}.parquet",
                content=DataFileContent.POSITION_DELETES,
                lower_bounds={fid: to_bytes(StringType(), lo)},
                upper_bounds={fid: to_bytes(StringType(), hi)},
                record_count=1,
            ),
        )

    def eq(seq):
        return (
            seq,
            DataFile(
                file_path=f"/del/eq-{seq}.parquet",
                content=DataFileContent.EQUALITY_DELETES,
                equality_ids=[1],
                record_count=1,
            ),
        )

    for trial in range(25):
        rows = []
        for _ in range(rng.randint(0, 12)):
            rows.append(dv(rng.randint(1, 20), rng.choice(paths)))
        for _ in range(rng.randint(0, 6)):
            lo, hi = sorted(rng.sample(paths, 2))
            rows.append(ranged(rng.randint(1, 20), lo, hi))
        for _ in range(rng.randint(0, 8)):
            rows.append(eq(rng.randint(1, 20)))
        rows.sort(key=lambda t: t[0])  # planners sort by sequence
        match = build_delete_matcher(rows)
        for p in paths:
            for data_seq in (0, 1, 5, 10, 19, 20, 25):
                assert match(data_seq, p) == match_deletes(data_seq, p, rows), (
                    f"trial {trial} seq {data_seq} path {p}"
                )


def test_delete_matcher_ranged_heavy_prefix_adversarial():
    """The r15 interval-tree index for legacy path-RANGED positional
    deletes must reproduce match_deletes exactly on ranged-HEAVY sets
    engineered around `_delete_covers_path`'s truncated-bounds slack:
    data paths that are prefixes of lower bounds, upper bounds that are
    prefixes of data paths (truncated+incremented), inverted bounds,
    bounds equal to paths, missing bounds, and undecodable bound bytes."""
    import random

    from iceberg_go_distributed_spark.iceberg.conversions import to_bytes
    from iceberg_go_distributed_spark.iceberg.manifest import (
        POSITIONAL_DELETE_FILE_PATH_ID as FP,
        DataFile,
        DataFileContent,
    )
    from oracles import match_deletes

    from iceberg_go_distributed_spark.iceberg.table import build_delete_matcher
    from iceberg_go_distributed_spark.iceberg.types import StringType

    rng = random.Random(515)
    # prefix-chain paths plus ordinary ones
    paths = (
        ["/w/a", "/w/ab", "/w/abc", "/w/abcd", "/w/abcde", "/w/b", "/w/ba"]
        + [f"/w/f{i:02d}.parquet" for i in range(20)]
        + ["/w", "/x/zzz"]
    )

    def ranged(seq, lo_b, hi_b):
        bounds = {}
        if lo_b is not None:
            bounds["lo"] = {FP: lo_b}
        if hi_b is not None:
            bounds["hi"] = {FP: hi_b}
        return (
            seq,
            DataFile(
                file_path=f"/del/pos-{seq}-{rng.randrange(1 << 30):08x}.parquet",
                content=DataFileContent.POSITION_DELETES,
                lower_bounds=bounds.get("lo"),
                upper_bounds=bounds.get("hi"),
                record_count=1,
            ),
        )

    def str_b(s):
        return to_bytes(StringType(), s)

    for trial in range(12):
        rows = []
        for _ in range(200):
            kind = rng.randrange(8)
            if kind == 0:  # ordinary in-order bounds
                lo, hi = sorted(rng.sample(paths, 2))
                rows.append(ranged(rng.randint(1, 20), str_b(lo), str_b(hi)))
            elif kind == 1:  # truncated bounds (prefix slack both sides)
                p = rng.choice(paths)
                q = rng.choice(paths)
                rows.append(
                    ranged(
                        rng.randint(1, 20),
                        str_b(p[: rng.randint(0, len(p))]),
                        str_b(q[: rng.randint(0, len(q))]),
                    )
                )
            elif kind == 2:  # lo extends a real path (path prefix-of-lo)
                p = rng.choice(paths)
                rows.append(
                    ranged(rng.randint(1, 20), str_b(p + "zz"), str_b(p + "zzzz"))
                )
            elif kind == 3:  # inverted bounds
                lo, hi = sorted(rng.sample(paths, 2))
                rows.append(ranged(rng.randint(1, 20), str_b(hi), str_b(lo)))
            elif kind == 4:  # bounds equal to a path
                p = rng.choice(paths)
                rows.append(ranged(rng.randint(1, 20), str_b(p), str_b(p)))
            elif kind == 5:  # missing one/both bounds → covers everything
                p = rng.choice(paths)
                rows.append(
                    ranged(
                        rng.randint(1, 20),
                        None if rng.random() < 0.5 else str_b(p),
                        None,
                    )
                )
            elif kind == 6:  # undecodable bound bytes → covers everything
                rows.append(
                    ranged(rng.randint(1, 20), b"\xff\xfe\x80", str_b("/w/b"))
                )
            else:  # empty-string bounds
                rows.append(ranged(rng.randint(1, 20), str_b(""), str_b("")))
        rows.sort(key=lambda t: t[0])
        match = build_delete_matcher(rows)
        for p in paths:
            for data_seq in (0, 1, 10, 20, 21):
                assert match(data_seq, p) == match_deletes(data_seq, p, rows), (
                    f"trial {trial} seq {data_seq} path {p}"
                )


def test_delete_matcher_all_inverted_bounds_still_match():
    """When EVERY bounded ranged positional delete has hi < lo, no
    interval tree is built — the prefix-slack lookups must still run, or
    deletes that match_deletes applies are dropped and deleted rows come
    back."""
    from iceberg_go_distributed_spark.iceberg.conversions import to_bytes
    from iceberg_go_distributed_spark.iceberg.manifest import (
        POSITIONAL_DELETE_FILE_PATH_ID as FP,
        DataFile,
        DataFileContent,
    )
    from oracles import match_deletes

    from iceberg_go_distributed_spark.iceberg.table import build_delete_matcher
    from iceberg_go_distributed_spark.iceberg.types import StringType

    def inverted(seq, lo, hi):
        return (
            seq,
            DataFile(
                file_path=f"/del/pos-{seq}-{lo[3:]}-{hi[3:]}.parquet",
                content=DataFileContent.POSITION_DELETES,
                lower_bounds={FP: to_bytes(StringType(), lo)},
                upper_bounds={FP: to_bytes(StringType(), hi)},
                record_count=1,
            ),
        )

    # hi < lo everywhere; each is still reachable through one slack
    # branch: a path that prefixes lo (and is <= hi or extends it), or a
    # path that extends hi
    rows = [
        inverted(1, "/w/ab", "/w/a"),
        inverted(2, "/w/b", "/w/a"),
        inverted(3, "/w/zz", "/w/c"),
        inverted(3, "/w/cz", "/w/ca"),
    ]
    match = build_delete_matcher(rows)
    paths = ["/w/a", "/w/ab", "/w/abc", "/w/b", "/w/c", "/w/ca.parquet", "/w/z", "/x"]
    n_matched = 0
    for p in paths:
        for data_seq in (0, 1, 2, 3, 4):
            expected = match_deletes(data_seq, p, rows)
            n_matched += len(expected)
            assert match(data_seq, p) == expected, (p, data_seq)
    assert n_matched, "the inverted set must cover some paths"
