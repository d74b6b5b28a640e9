"""Incremental append scan: rows added between two snapshots, with the
same pruning cascade as full scans. Replace (compaction) snapshots are
skipped — their files are rewrites of already-delivered rows — and
overwrite/delete snapshots in the range raise."""

from __future__ import annotations

import pytest

from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog

from tests.test_table_e2e import LINEITEM_SCHEMA


@pytest.fixture()
def fs_catalog(tmp_path):
    return FileSystemCatalog(str(tmp_path / "warehouse"))


@pytest.fixture()
def lineitem_df(spark, sf_dir):
    from iceberg_go_distributed_spark.datasets import load_table

    return load_table(spark, sf_dir, "lineitem")


def test_incremental_append_scan_basic(fs_catalog, spark, lineitem_df):
    t = fs_catalog.create_table("db.inc", LINEITEM_SCHEMA)
    b1 = lineitem_df.where("l_orderkey % 3 = 0")
    b2 = lineitem_df.where("l_orderkey % 3 = 1")
    b3 = lineitem_df.where("l_orderkey % 3 = 2")
    t.append(b1.coalesce(1))
    s1 = t.current_snapshot().snapshot_id
    t.append(b2.coalesce(1))
    s2 = t.current_snapshot().snapshot_id
    t.append(b3.coalesce(1))

    # everything after s1
    inc = t.incremental_append_scan(from_snapshot_id=s1)
    assert inc.to_df(spark).count() == b2.count() + b3.count()
    # bounded range (s1, s2]
    inc12 = t.incremental_append_scan(from_snapshot_id=s1, to_snapshot_id=s2)
    assert inc12.to_df(spark).count() == b2.count()
    # no lower bound = all appends
    assert t.incremental_append_scan().to_df(spark).count() == t.scan().to_df(
        spark
    ).count()
    # row filter prunes + filters like a normal scan
    n = (
        t.incremental_append_scan(
            from_snapshot_id=s1, row_filter=E.greater_than("l_quantity", 45.0)
        )
        .to_df(spark)
        .count()
    )
    want = (
        b2.where("l_quantity > 45.0").count() + b3.where("l_quantity > 45.0").count()
    )
    assert n == want


def test_incremental_skips_compaction_rewrites(fs_catalog, spark, lineitem_df):
    t = fs_catalog.create_table("db.inc_c", LINEITEM_SCHEMA)
    for i in range(3):
        t.append(lineitem_df.where(f"l_orderkey % 3 = {i}").coalesce(1))
    s1 = t.metadata.snapshots[0].snapshot_id
    n_after_s1 = t.incremental_append_scan(from_snapshot_id=s1).to_df(spark).count()

    from iceberg_go_distributed_spark.iceberg.write import rewrite_data_files

    assert rewrite_data_files(t, spark)
    assert t.current_snapshot().summary.operation == "replace"
    # compaction rewrote everything into new files, but delivered-row
    # semantics must not change
    assert (
        t.incremental_append_scan(from_snapshot_id=s1).to_df(spark).count()
        == n_after_s1
    )


def test_incremental_raises_on_row_level_changes(fs_catalog, spark, lineitem_df):
    t = fs_catalog.create_table("db.inc_d", LINEITEM_SCHEMA)
    t.append(lineitem_df.where("l_orderkey < 500").coalesce(1))
    s1 = t.current_snapshot().snapshot_id
    t.delete_where(spark, E.greater_than("l_quantity", 45.0))
    t.append(lineitem_df.where("l_orderkey >= 500").coalesce(1))
    with pytest.raises(ValueError, match="delete"):
        t.incremental_append_scan(from_snapshot_id=s1).plan_files()


def test_incremental_rejects_non_ancestor(fs_catalog, spark, lineitem_df):
    t = fs_catalog.create_table("db.inc_n", LINEITEM_SCHEMA)
    t.append(lineitem_df.where("l_orderkey < 500").coalesce(1))
    with pytest.raises(ValueError, match="not an ancestor"):
        t.incremental_append_scan(from_snapshot_id=123456789).plan_files()


def test_incremental_never_routes_to_full_snapshot_planner(
    fs_catalog, spark, lineitem_df, monkeypatch
):
    """Review fix: IncrementalAppendScan inherits plan_files_auto, and
    above the executor-planning constant the FULL-snapshot planner
    would ignore the range, silently returning the whole table. The
    incremental override must keep the O(appended manifests) walk."""
    from iceberg_go_distributed_spark.iceberg import table as table_mod

    monkeypatch.setattr(table_mod, "_EXECUTOR_PLAN_MIN_ENTRIES", 0)
    t = fs_catalog.create_table("db.inc_auto", LINEITEM_SCHEMA)
    t.append(lineitem_df.limit(50).coalesce(1))
    cp = t.current_snapshot().snapshot_id
    t.append(lineitem_df.limit(100).where("l_orderkey % 2 = 0").coalesce(1))

    sc = t.incremental_append_scan(from_snapshot_id=cp)
    tasks = sc.plan_files_auto(spark)
    assert tasks == sc.plan_files()
    assert len(tasks) == 1, "only the appended file, never the full snapshot"
    want = lineitem_df.limit(100).where("l_orderkey % 2 = 0").count()
    assert sc.to_df(spark).count() == want
    # and count() (which rides plan_files_auto) agrees
    assert sc.count(spark) == want


def test_incremental_scan_carries_row_lineage(fs_catalog, spark, lineitem_df):
    """Review fix: the incremental planner inherits first_row_id and
    data sequence numbers, so with_row_lineage() works on the appended
    range of a v3 table."""
    t = fs_catalog.create_table("db.inc_lin", LINEITEM_SCHEMA)
    t.upgrade_format_version(3)
    t.append(lineitem_df.limit(40).coalesce(1))
    cp = t.current_snapshot().snapshot_id
    t.append(lineitem_df.limit(100).where("l_orderkey % 3 = 0").coalesce(1))
    n2 = lineitem_df.limit(100).where("l_orderkey % 3 = 0").count()

    rows = (
        t.incremental_append_scan(from_snapshot_id=cp)
        .with_row_lineage()
        .to_df(spark)
        .collect()
    )
    ids = sorted(r._row_id for r in rows)
    assert ids == list(range(40, 40 + n2)), "second append's id range exactly"
    assert all(r._last_updated_sequence_number == 2 for r in rows)
