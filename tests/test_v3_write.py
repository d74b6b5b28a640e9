"""v3 write path: row lineage (next-row-id / first-row-id / added-rows)
and puffin deletion vectors written by delete_where.

The reference parses the v3 surface (manifest.go:1791-1793 lineage + DV
fields, metadata.go:1789-1856 next-row-id) but never writes it; these
tests pin our writer's spec compliance end to end: upgrade → append
(lineage assignment) → delete (DV write) → scan (DV application) →
second delete (DV merge-and-replace, at most one DV per data file).
"""

from __future__ import annotations

import os

import pytest

from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
from iceberg_go_distributed_spark.iceberg.manifest import (
    DataFileContent,
    ManifestContent,
    read_manifest,
)
from iceberg_go_distributed_spark.iceberg.metadata import CommitStateError

from test_table_e2e import LINEITEM_SCHEMA


@pytest.fixture()
def fs_catalog(tmp_path):
    return FileSystemCatalog(str(tmp_path / "warehouse"))


@pytest.fixture()
def lineitem_df(spark, sf_dir):
    from iceberg_go_distributed_spark.datasets import load_table

    return load_table(spark, sf_dir, "lineitem")


def _v3_table(fs_catalog, lineitem_df, name="db.v3", rows=200, files=1):
    t = fs_catalog.create_table(name, LINEITEM_SCHEMA)
    t.upgrade_format_version(3)
    df = lineitem_df.limit(rows)
    t.append(df.coalesce(files) if files else df)
    return t


def test_v3_append_assigns_row_lineage(fs_catalog, spark, lineitem_df):
    t = _v3_table(fs_catalog, lineitem_df, rows=150)
    md = t.metadata
    assert md.format_version == 3
    snap = t.current_snapshot()
    assert snap.first_row_id == 0
    assert snap.added_rows == 150
    assert md.next_row_id == 150
    # manifest list carries the assigned first_row_id per data manifest
    [m] = [m for m in snap.manifests() if m.content == ManifestContent.DATA]
    assert m.first_row_id == 0
    # second append starts where the first left off
    t.append(lineitem_df.limit(50).coalesce(1))
    snap2 = t.current_snapshot()
    assert snap2.first_row_id == 150
    assert snap2.added_rows == 50
    assert t.metadata.next_row_id == 200
    # carried manifest keeps its assignment; only the new one is assigned
    firsts = sorted(
        m.first_row_id
        for m in snap2.manifests()
        if m.content == ManifestContent.DATA
    )
    assert firsts == [0, 150]


def test_v3_upgrade_assigns_preexisting_manifests(fs_catalog, spark, lineitem_df):
    """v2-era manifests have no first_row_id; the first post-upgrade
    commit assigns them (reference manifest.go:1478-1486 semantics)."""
    t = fs_catalog.create_table("db.up", LINEITEM_SCHEMA)
    t.append(lineitem_df.limit(100).coalesce(1))  # v2 commit
    t.upgrade_format_version(3)
    assert t.metadata.next_row_id == 0
    t.append(lineitem_df.limit(40).coalesce(1))  # first v3 commit
    snap = t.current_snapshot()
    assert snap.first_row_id == 0
    # both the new manifest (40) and the carried v2-era one (100) consume ids
    assert snap.added_rows == 140
    assert t.metadata.next_row_id == 140
    assert all(
        m.first_row_id is not None
        for m in snap.manifests()
        if m.content == ManifestContent.DATA
    )


def test_v3_lineage_less_snapshot_refused():
    """A v2-style snapshot (no lineage) on a v3 table must be refused."""
    from dataclasses import replace

    from iceberg_go_distributed_spark.iceberg.metadata import (
        MetadataBuilder,
        Snapshot,
        Summary,
        new_table_metadata,
    )
    from iceberg_go_distributed_spark.iceberg.partitioning import PartitionSpec

    md = replace(
        new_table_metadata(
            LINEITEM_SCHEMA, PartitionSpec.unpartitioned(), "/tmp/x", {}
        ),
        format_version=3,
        next_row_id=0,
    )
    b = MetadataBuilder(md)
    snap = Snapshot(
        snapshot_id=1,
        sequence_number=1,
        timestamp_ms=md.last_updated_ms,
        manifest_list="x.avro",
        summary=Summary("append"),
    )
    with pytest.raises(CommitStateError, match="row lineage"):
        b.add_snapshot(snap)
    # overlapping first-row-id is refused too
    with pytest.raises(CommitStateError, match="overlaps"):
        b2 = MetadataBuilder(replace(md, next_row_id=100))
        b2.add_snapshot(replace(snap, first_row_id=50, added_rows=10))


def test_v3_delete_where_writes_deletion_vector(fs_catalog, spark, lineitem_df):
    t = _v3_table(fs_catalog, lineitem_df, rows=200)
    before = t.scan().to_df(spark).count()
    t.delete_where(spark, E.equal("l_linenumber", 1))
    expected = lineitem_df.limit(200).where("l_linenumber != 1").count()
    assert t.scan().to_df(spark).count() == expected < before

    # the delete produced a puffin DV entry, not a parquet delete file
    snap = t.current_snapshot()
    dms = [m for m in snap.manifests() if m.content == ManifestContent.DELETES]
    assert dms, "delete manifest missing"
    dvs = [
        e.data_file
        for m in dms
        for e in read_manifest(m.manifest_path)
        if e.data_file.content == DataFileContent.POSITION_DELETES
    ]
    assert len(dvs) == 1
    dv = dvs[0]
    assert dv.file_format == "PUFFIN"
    assert dv.file_path.endswith(".puffin")
    assert dv.referenced_data_file and dv.content_offset is not None
    # and the blob itself round-trips through the spec codec
    from iceberg_go_distributed_spark.iceberg.puffin import read_deletion_vector

    positions = read_deletion_vector(
        dv.file_path, dv.content_offset, dv.content_size_in_bytes
    )
    assert len(positions) == dv.record_count == before - expected
    # snapshot summary carries the reference's position-delete counters
    props = snap.summary.properties
    assert props["added-position-deletes"] == str(before - expected)
    assert props["added-position-delete-files"] == "1"
    assert props["added-dvs"] == "1"


def test_v3_second_delete_merges_dv(fs_catalog, spark, lineitem_df):
    """Spec: at most one DV per data file — a second delete must write a
    merged DV (old ∪ new positions) and drop the superseded entry."""
    t = _v3_table(fs_catalog, lineitem_df, rows=200)
    t.delete_where(spark, E.equal("l_linenumber", 1))
    n1 = t.scan().to_df(spark).count()
    t.delete_where(spark, E.equal("l_linenumber", 2))
    expected = (
        lineitem_df.limit(200).where("l_linenumber NOT IN (1, 2)").count()
    )
    assert t.scan().to_df(spark).count() == expected < n1

    snap = t.current_snapshot()
    dvs = [
        e.data_file
        for m in snap.manifests()
        if m.content == ManifestContent.DELETES
        for e in read_manifest(m.manifest_path)
        if e.data_file.content_offset is not None
    ]
    # one (merged) DV per referenced data file, never two
    refs = [d.referenced_data_file for d in dvs]
    assert len(refs) == len(set(refs)) == 1
    from iceberg_go_distributed_spark.iceberg.puffin import read_deletion_vector

    merged = read_deletion_vector(
        dvs[0].file_path, dvs[0].content_offset, dvs[0].content_size_in_bytes
    )
    assert len(merged) == 200 - expected  # union of both predicates

    # summary counts only positions newly matched by the SECOND delete —
    # not the carried-over union from the replaced DV (ADVICE r5, low)
    n_first = 200 - n1
    props = snap.summary.properties
    assert props["added-position-deletes"] == str(len(merged) - n_first)
    # ...and a fully-overlapping repeat delete adds zero
    t.delete_where(spark, E.equal("l_linenumber", 1))
    props2 = t.current_snapshot().summary.properties
    assert props2["added-position-deletes"] == "0"
    assert t.scan().to_df(spark).count() == expected  # rows unchanged


def test_v3_row_id_read(fs_catalog, spark, lineitem_df):
    """The `_row_id` virtual column (Scan.with_row_lineage): dense and
    unique across appends, and STABLE — a DV delete removes ids without
    renumbering the survivors."""
    t = fs_catalog.create_table("db.v3rid", LINEITEM_SCHEMA)
    t.upgrade_format_version(3)
    df = lineitem_df.limit(200)
    t.append(df.where("l_orderkey % 2 = 0").coalesce(1))
    t.append(df.where("l_orderkey % 2 = 1").coalesce(1))
    total = df.count()

    before = t.scan().with_row_lineage().to_df(spark)
    assert "_row_id" in before.columns
    rows = before.select("_row_id", "l_orderkey", "l_linenumber").collect()
    assert sorted(r._row_id for r in rows) == list(range(total))
    by_key = {(r.l_orderkey, r.l_linenumber): r._row_id for r in rows}

    t.delete_where(spark, E.equal("l_linenumber", 2))
    after = t.scan().with_row_lineage().to_df(spark)
    rows2 = after.select("_row_id", "l_orderkey", "l_linenumber").collect()
    assert all(r.l_linenumber != 2 for r in rows2)
    # survivors keep their exact pre-delete ids (lineage stability)
    assert {(r.l_orderkey, r.l_linenumber): r._row_id for r in rows2} == {
        k: v for k, v in by_key.items() if k[1] != 2
    }

    # projection keeps the full lineage surface; v2 tables refuse
    proj = t.scan().with_row_lineage().select("l_orderkey").to_df(spark)
    assert set(proj.columns) == {
        "l_orderkey",
        "_row_id",
        "_last_updated_sequence_number",
    }
    t2 = fs_catalog.create_table("db.v2rid", LINEITEM_SCHEMA)
    t2.append(lineitem_df.limit(10).coalesce(1))
    with pytest.raises(ValueError, match="format-version 3"):
        t2.scan().with_row_lineage().to_df(spark)


def test_v3_manifest_merge_preserves_row_ids(fs_catalog, spark, lineitem_df):
    """merge_manifests on a v3 table must materialize the per-file
    first_row_id into the merged manifests: rows keep their exact
    _row_id through the merge (a fresh manifest-level assignment would
    otherwise silently renumber them)."""
    from iceberg_go_distributed_spark.iceberg.maintenance import merge_manifests

    t = fs_catalog.create_table("db.v3mm", LINEITEM_SCHEMA)
    t.upgrade_format_version(3)
    df = lineitem_df.limit(120)
    for k in range(4):  # four small manifests
        t.append(df.where(f"l_orderkey % 4 = {k}").coalesce(1))
    before = {
        (r.l_orderkey, r.l_linenumber): r._row_id
        for r in t.scan().with_row_lineage().to_df(spark).collect()
    }
    assert merge_manifests(t, min_count=2) is True
    t.refresh()
    after = {
        (r.l_orderkey, r.l_linenumber): r._row_id
        for r in t.scan().with_row_lineage().to_df(spark).collect()
    }
    assert after == before
    # and the next append still gets a non-overlapping fresh range
    n = len(before)
    t.append(df.limit(0).union(df.where("l_orderkey % 4 = 0")).coalesce(1))
    snap = t.current_snapshot()
    assert snap.first_row_id >= n


def test_v3_changelog_surfaces_updates_as_delete_insert(
    fs_catalog, spark, lineitem_df
):
    """CDC via row lineage: an upsert replaces a row under a new
    row id, so changelog_scan reports one delete (old id, old values)
    plus one insert (new id, new values) per updated key."""
    from pyspark.sql import functions as F

    t = _v3_table(fs_catalog, lineitem_df, name="db.v3cdc", rows=120)
    checkpoint = t.current_snapshot().snapshot_id
    df = lineitem_df.limit(120)
    updated = df.where("l_linenumber = 1").withColumn("l_quantity", F.lit(77.0))
    n_upd = updated.count()
    t.upsert(updated, key_columns=["l_orderkey", "l_linenumber"])

    log = t.changelog_scan(spark, from_snapshot_id=checkpoint)
    by_type = {
        r._change_type: r.n
        for r in log.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type == {"delete": n_upd, "insert": n_upd}
    ins = log.where("_change_type = 'insert'")
    assert ins.where("l_quantity = 77.0").count() == n_upd
    # deletes carry the OLD values, not the replacements
    dels = log.where("_change_type = 'delete'")
    assert dels.where("l_quantity = 77.0").count() == 0
    # and an empty window is an empty changelog
    head = t.current_snapshot().snapshot_id
    assert t.changelog_scan(spark, from_snapshot_id=head).count() == 0

    t2 = fs_catalog.create_table("db.v2cdc", LINEITEM_SCHEMA)
    t2.append(lineitem_df.limit(10).coalesce(1))
    with pytest.raises(ValueError, match="format-version 3"):
        t2.changelog_scan(spark, t2.current_snapshot().snapshot_id)


def test_v3_changelog_append_only_fast_path(fs_catalog, spark, lineitem_df):
    """When every snapshot in (from, to] is an append, the changelog is
    a map-side filter on one lineage scan — no join in the executed
    plan — and still returns exactly the appended rows as inserts."""
    t = _v3_table(fs_catalog, lineitem_df, name="db.v3cfast", rows=100)
    checkpoint = t.current_snapshot().snapshot_id
    df = lineitem_df.limit(300)
    second = df.where("l_orderkey % 3 = 1")
    third = df.where("l_orderkey % 3 = 2")
    t.append(second.coalesce(1))
    t.append(third.coalesce(1))

    log = t.changelog_scan(spark, from_snapshot_id=checkpoint)
    plan = log._jdf.queryExecution().executedPlan().toString()
    # fast path: a filter on one lineage scan — the only join left is
    # the broadcast (file -> first_row_id) lineage map, never an anti-join
    assert "LeftAnti" not in plan
    assert log.where("_change_type = 'delete'").count() == 0
    assert log.count() == second.count() + third.count()
    keys = {
        (r.l_orderkey, r.l_linenumber)
        for r in log.select("l_orderkey", "l_linenumber").collect()
    }
    expect = {
        (r.l_orderkey, r.l_linenumber)
        for r in second.unionByName(third).collect()
    }
    assert keys == expect

    # a delete inside the range disables the fast path but not the answer
    t.delete_where(spark, E.equal("l_linenumber", 4))
    log2 = t.changelog_scan(spark, from_snapshot_id=checkpoint)
    plan2 = log2._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan2
    # net-changes semantics: deletes = rows live at `from` and gone at
    # head, i.e. the FIRST append's l_linenumber=4 rows only
    dels = log2.where("_change_type = 'delete'")
    assert dels.count() == lineitem_df.limit(100).where("l_linenumber = 4").count()


def test_v3_write_sequence_against_model(fs_catalog, spark, lineitem_df):
    """Deterministic pseudo-random interleaving of appends and DV
    deletes on one v3 table, checked after every op against a local
    pandas model — the stateful-workload shape unit oracles miss
    (DV merges chaining across snapshots, lineage advancing only on
    appends, deletes on already-thinned files)."""
    import random

    rng = random.Random(7)
    base = lineitem_df.limit(600).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    pool = base.toPandas()

    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    t = fs_catalog.create_table("db.v3seq", schema_from_spark(base.schema))
    t.upgrade_format_version(3)

    import pandas as pd

    model = pool.iloc[0:0]  # empty, dtype-preserving
    appended = 0
    next_slice = 0
    for step in range(6):
        if step % 2 == 0:  # append a fresh slice of the pool
            k = rng.randint(50, 150)
            chunk = pool.iloc[next_slice : next_slice + k]
            next_slice += k
            t.append(spark.createDataFrame(chunk).coalesce(1))
            model = pd.concat([model, chunk], ignore_index=True)
            appended += len(chunk)
        else:  # DV delete on a quantity band
            lo = rng.uniform(1, 40)
            hi = lo + rng.uniform(1, 15)
            t.delete_where(
                spark,
                E.and_(
                    E.greater_than_or_equal("l_quantity", lo),
                    E.less_than("l_quantity", hi),
                ),
            )
            model = model[~((model.l_quantity >= lo) & (model.l_quantity < hi))]
        assert t.scan().to_df(spark).count() == len(model), f"step {step}"
        assert t.metadata.next_row_id == appended, f"step {step}"

    got = (
        t.scan().to_df(spark).toPandas()
        .sort_values(["l_orderkey", "l_linenumber"]).reset_index(drop=True)
    )
    want = model.sort_values(["l_orderkey", "l_linenumber"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_v3_concurrent_writers_get_disjoint_row_ids(
    fs_catalog, spark, lineitem_df
):
    """Two writers racing on a v3 table: the loser's CAS retry must
    re-reserve against refreshed metadata, so the two snapshots consume
    DISJOINT row-id ranges — overlapping first-row-ids would silently
    duplicate lineage (the overlap check in add_snapshot is the last
    line of defense; the retry loop must make it unnecessary)."""
    from iceberg_go_distributed_spark.iceberg.catalog import CommitConflictError
    from iceberg_go_distributed_spark.iceberg.write import (
        begin_distributed_snapshot,
        commit_data_files,
        write_data_files,
    )

    t_a = fs_catalog.create_table("db.v3race", LINEITEM_SCHEMA)
    t_a.upgrade_format_version(3)
    t_a.append(lineitem_df.limit(100).coalesce(1))
    t_b = fs_catalog.load_table("db.v3race")

    df = lineitem_df.limit(160)
    ds_a = begin_distributed_snapshot(t_a)
    files_a = write_data_files(
        df.where("l_orderkey % 2 = 0").coalesce(1),
        t_a.schema(), t_a.spec(), t_a.location, ds_a.commit_uuid,
    )
    ds_b = begin_distributed_snapshot(t_b)
    files_b = write_data_files(
        df.where("l_orderkey % 2 = 1").coalesce(1),
        t_b.schema(), t_b.spec(), t_b.location, ds_b.commit_uuid,
    )
    n_a = sum(f.record_count for f in files_a)
    n_b = sum(f.record_count for f in files_b)

    commit_data_files(t_a, files_a, max_retries=0)
    with pytest.raises(CommitConflictError):
        commit_data_files(t_b, files_b, max_retries=0)
    commit_data_files(t_b, files_b, max_retries=2)  # refresh + re-reserve

    t_b.refresh()
    snaps = {s.snapshot_id: s for s in t_b.metadata.snapshots}
    ranges = sorted(
        (s.first_row_id, s.first_row_id + s.added_rows)
        for s in snaps.values()
        if s.added_rows
    )
    # ranges tile [0, total) with no overlap
    assert ranges[0][0] == 0
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 == lo2, f"row-id ranges overlap or gap: {ranges}"
    assert ranges[-1][1] == 100 + n_a + n_b == t_b.metadata.next_row_id
    assert t_b.scan().to_df(spark).count() == 100 + n_a + n_b


def test_v3_manifest_list_wire_parity(fs_catalog, spark, lineitem_df):
    """The v3 manifest list carries the OCF metadata keys and the
    first_row_id column (avro field id 520) exactly as the reference's
    list writer emits them (manifest.go:1397-1417,1478-1486 /
    internal/avro_schemas.go:497), so a reference-style reader can
    consume our lists."""
    import json as _json

    from iceberg_go_distributed_spark.iceberg import avro as avro_io

    t = _v3_table(fs_catalog, lineitem_df, name="db.v3wire", rows=50)
    snap = t.current_snapshot()
    schema, meta, records = avro_io.read_ocf(snap.manifest_list)
    meta_s = {k: v.decode() for k, v in meta.items() if k != "avro.schema"}
    assert meta_s["format-version"] == "3"
    assert meta_s["snapshot-id"] == str(snap.snapshot_id)
    assert meta_s["sequence-number"] == str(snap.sequence_number)
    assert meta_s["first-row-id"] == "0"
    assert meta_s["parent-snapshot-id"] == "null"

    avro_schema = _json.loads(meta["avro.schema"])
    frid = next(
        f for f in avro_schema["fields"] if f["name"] == "first_row_id"
    )
    assert frid["field-id"] == 520
    assert records[0]["first_row_id"] == 0


def test_v3_equality_deletes_and_upsert(fs_catalog, spark, lineitem_df):
    """Equality deletes stay legal in v3 (only position-delete FILES are
    replaced by DVs); upsert = eq-delete + append, and the appended rows
    get fresh row ids."""
    t = _v3_table(fs_catalog, lineitem_df, name="db.v3eq", rows=100)
    first_ids = t.metadata.next_row_id
    df = lineitem_df.limit(100)
    from pyspark.sql import functions as F

    updated = df.where("l_linenumber = 1").withColumn("l_quantity", F.lit(99.0))
    t.upsert(updated, key_columns=["l_orderkey", "l_linenumber"])
    out = t.scan().to_df(spark)
    assert out.count() == 100
    n_updated = updated.count()
    assert out.where("l_quantity = 99.0").count() == n_updated
    # the upsert's append consumed new row ids
    assert t.metadata.next_row_id == first_ids + n_updated


def test_v3_partial_overwrite_preserves_lineage(fs_catalog, spark, lineitem_df):
    """Copy-on-write overwrite of PARTIALLY-matching files on v3
    materializes the reserved lineage columns into the rewritten
    survivors (the compaction mechanism), so unchanged rows keep their
    exact _row_id / _last_updated_sequence_number while replacement
    rows get fresh ids — the spec's Row Lineage rewrite rule."""
    t = _v3_table(fs_catalog, lineitem_df, name="db.v3cow", rows=100)
    df = lineitem_df.limit(100)
    before = {
        (r.l_orderkey, r.l_linenumber): (r._row_id, r._last_updated_sequence_number)
        for r in t.scan().with_row_lineage().to_df(spark).collect()
        if r.l_linenumber != 1
    }
    n_replaced = df.where("l_linenumber = 1").count()

    t.overwrite_where(df.where("l_linenumber = 1"), E.equal("l_linenumber", 1))

    rows = t.scan().with_row_lineage().to_df(spark).collect()
    assert len(rows) == 100
    after_survivors = {
        (r.l_orderkey, r.l_linenumber): (r._row_id, r._last_updated_sequence_number)
        for r in rows
        if r.l_linenumber != 1
    }
    assert after_survivors == before, "survivors keep exact lineage"
    new_ids = {r._row_id for r in rows if r.l_linenumber == 1}
    assert len(new_ids) == n_replaced
    assert min(new_ids) >= 100, "replacement rows draw FRESH row ids"

    # whole-file replacement: every row in the single file matches an
    # always-true-for-this-file predicate via the strict evaluator
    lo = df.agg({"l_orderkey": "min"}).first()[0]
    t2 = _v3_table(fs_catalog, lineitem_df, name="db.v3cow2", rows=100)
    t2.overwrite_where(
        df.where("l_orderkey >= 0"), E.greater_than_or_equal("l_orderkey", lo)
    )
    assert t2.scan().to_df(spark).count() == 100
    # replacement rows were assigned fresh ids
    assert t2.metadata.next_row_id == 200


def test_v3_compaction_preserves_lineage(fs_catalog, spark, lineitem_df):
    """rewrite_data_files on v3 materializes the spec's reserved
    `_row_id` / `_last_updated_sequence_number` columns (field ids
    2147483540 / 2147483539) into the compacted parquet, so every
    surviving row keeps its exact lineage through the rewrite — and
    through a SECOND rewrite that re-reads the materialized columns."""
    import pyarrow.parquet as pq

    t = fs_catalog.create_table("db.v3compact", LINEITEM_SCHEMA)
    t.upgrade_format_version(3)
    df = lineitem_df.limit(300)
    for k in range(3):
        t.append(df.where(f"l_orderkey % 3 = {k}").coalesce(1))
    t.delete_where(spark, E.equal("l_linenumber", 2))
    before = {
        (r.l_orderkey, r.l_linenumber): (
            r._row_id,
            r._last_updated_sequence_number,
        )
        for r in t.scan().with_row_lineage().to_df(spark).collect()
    }

    assert t.rewrite_data_files(spark) is True
    t.refresh()
    after = {
        (r.l_orderkey, r.l_linenumber): (
            r._row_id,
            r._last_updated_sequence_number,
        )
        for r in t.scan().with_row_lineage().to_df(spark).collect()
    }
    assert after == before  # exact lineage stability through the rewrite

    # the compacted parquet physically carries the reserved columns,
    # stamped with the spec field ids
    [task] = t.scan().plan_files()
    assert not task.delete_files  # deletes were materialized away
    pf_schema = pq.read_schema(task.file.file_path)
    names = set(pf_schema.names)
    assert {"_row_id", "_last_updated_sequence_number"} <= names
    fid = pf_schema.field("_row_id").metadata[b"PARQUET:field_id"]
    assert fid == b"2147483540"
    # ...but the manifest's column stats don't track the reserved ids
    assert 2147483540 not in (task.file.value_counts or {})

    # a later append + second compaction: the re-read of materialized
    # lineage keeps the full id multiset intact (fresh rows keep their
    # fresh ids, old rows keep their old ids)
    t.append(df.limit(7).coalesce(1))
    ids = sorted(
        r._row_id
        for r in t.scan().with_row_lineage().to_df(spark).collect()
    )
    assert len(ids) == len(set(ids))
    assert t.rewrite_data_files(spark) is True
    t.refresh()
    ids2 = sorted(
        r._row_id
        for r in t.scan().with_row_lineage().to_df(spark).collect()
    )
    assert ids2 == ids


def test_v3_time_travel_and_delete_preserve_lineage(
    fs_catalog, spark, lineitem_df
):
    """Deletes on a v3 table must not disturb prior manifests' row-id
    assignments, and time travel to a pre-delete snapshot still works."""
    t = fs_catalog.create_table("db.v3rw", LINEITEM_SCHEMA)
    t.upgrade_format_version(3)
    df = lineitem_df.limit(200)
    t.append(df.where("l_orderkey % 2 = 0").coalesce(1))
    t.append(df.where("l_orderkey % 2 = 1").coalesce(1))
    snap_before = t.current_snapshot()
    evens = df.where("l_orderkey % 2 = 0").count()
    odds = df.where("l_orderkey % 2 = 1").count()

    # no-op delete: nothing matches, no snapshot is committed
    t.delete_where(spark, E.equal("l_orderkey", -1))
    assert t.current_snapshot().snapshot_id == snap_before.snapshot_id

    # partial delete across both files → DVs, data manifests untouched
    t.delete_where(spark, E.equal("l_linenumber", 3))
    expected = df.where("l_linenumber != 3").count()
    assert t.scan().to_df(spark).count() == expected

    # time travel to the pre-delete snapshot still sees everything
    assert (
        t.scan(snapshot_id=snap_before.snapshot_id).to_df(spark).count()
        == evens + odds
    )
    # row ids: every data manifest still carries its original assignment
    firsts = [
        m.first_row_id
        for m in t.current_snapshot().manifests()
        if m.content == ManifestContent.DATA
    ]
    assert sorted(firsts) == [0, evens]
    # the delete snapshot consumed no new row ids
    assert t.metadata.next_row_id == evens + odds
    assert t.current_snapshot().added_rows == 0


def test_v3_lineage_over_name_mapped_files(fs_catalog, spark, tmp_path):
    """Row lineage on a table carrying schema.name-mapping.default
    (ID-less add_files imports): imported files inherit _row_id from
    first_row_id + position via the grouped name-mapping read; engine
    appends coexist; a DV delete keeps survivors' ids; and compaction
    materializes lineage that the name-resolved reader then prefers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_go_distributed_spark.iceberg import types as ty
    from iceberg_go_distributed_spark.iceberg.types import NestedField, Schema

    ext = str(tmp_path / "imported.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1, 2, 3], pa.int64()),
                "x": pa.array([10.0, 20.0, 30.0], pa.float64()),
            }
        ),
        ext,
    )
    t = fs_catalog.create_table(
        "db.nm_lineage",
        Schema.of(
            0,
            NestedField(1, "id", ty.LongType(), required=True),
            NestedField(2, "x", ty.DoubleType()),
        ),
    )
    t.upgrade_format_version(3)
    t.add_files([ext])
    assert "schema.name-mapping.default" in t.properties

    # engine-written rows alongside the import
    t.append(
        spark.createDataFrame([(4, 40.0), (5, 50.0)], "id long, x double").coalesce(1)
    )

    rows = t.scan().with_row_lineage().to_df(spark).collect()
    ids = {r.id: r._row_id for r in rows}
    assert sorted(ids.values()) == [0, 1, 2, 3, 4]  # dense, unique
    by_key = dict(ids)

    # DV delete on a name-mapped v3 table: survivors keep exact ids
    t.delete_where(spark, E.equal("id", 2))
    after = {r.id: r._row_id for r in t.scan().with_row_lineage().to_df(spark).collect()}
    assert after == {k: v for k, v in by_key.items() if k != 2}

    # compaction materializes _row_id; the name-mapped reader must
    # prefer the materialized values over re-inheritance
    assert t.rewrite_data_files(spark) is True
    t.refresh()
    final = {r.id: r._row_id for r in t.scan().with_row_lineage().to_df(spark).collect()}
    assert final == after
    [task] = t.scan().plan_files()
    assert {"_row_id"} <= set(pq.read_schema(task.file.file_path).names)


def test_v3_lineage_survives_distributed_planning(
    fs_catalog, spark, lineitem_df, monkeypatch, executor_plan
):
    """Review regression: the executor-side planner serializes DataFile
    descriptors; first_row_id must survive the round trip or every
    auto-routed lineage/changelog read fails on a valid table."""
    from iceberg_go_distributed_spark.iceberg.write import (
        _decode_descriptor,
        _encode_descriptor,
    )
    from iceberg_go_distributed_spark.iceberg.manifest import DataFile

    rt = _decode_descriptor(
        _encode_descriptor(
            DataFile(file_path="/f.parquet", record_count=1, file_size_in_bytes=1,
                     first_row_id=42)
        )
    )
    assert rt.first_row_id == 42

    t = _v3_table(fs_catalog, lineitem_df, name="db.v3dist", rows=120, files=2)
    t.append(lineitem_df.limit(200).where("l_orderkey % 2 = 1").coalesce(1))
    local = {
        (r.l_orderkey, r.l_linenumber): r._row_id
        for r in t.scan().with_row_lineage().to_df(spark).collect()
    }
    # force the executor leg: the constant at 0 and every manifest cold
    from oracles import plan_fields

    from iceberg_go_distributed_spark.iceberg import manifest as manifest_mod
    from iceberg_go_distributed_spark.iceberg import table as table_mod

    t.refresh()
    scan = t.scan()
    assert plan_fields(executor_plan(scan)) == plan_fields(scan.plan_files())
    monkeypatch.setattr(table_mod, "_EXECUTOR_PLAN_MIN_ENTRIES", 0)
    monkeypatch.setattr(manifest_mod, "_OCF_CACHE", {})
    monkeypatch.setattr(manifest_mod, "_OCF_CACHE_ENTRY_COUNT", 0)
    table_mod._PLAN_CACHE.clear()
    dist = {
        (r.l_orderkey, r.l_linenumber): r._row_id
        for r in t.scan().with_row_lineage().to_df(spark).collect()
    }
    assert dist == local


def test_v3_changelog_after_full_delete(fs_catalog, spark, lineitem_df):
    """Review regression: changelog over a range whose `to` side plans
    ZERO files (every row deleted via whole-file drops) must return all
    prior rows as deletes, not crash on a missing _row_id column."""
    t = fs_catalog.create_table("db.v3wipe", LINEITEM_SCHEMA)
    t.upgrade_format_version(3)
    df = lineitem_df.limit(50)
    t.append(df.coalesce(1))
    snap1 = t.current_snapshot().snapshot_id

    # strict whole-file predicate: every row matches → file dropped
    lo = df.agg({"l_orderkey": "min"}).first()[0]
    t.delete_where(spark, E.greater_than_or_equal("l_orderkey", lo))
    assert t.scan().plan_files() == []

    changes = t.changelog_scan(spark, from_snapshot_id=snap1)
    rows = changes.collect()
    assert len(rows) == 50
    assert {r._change_type for r in rows} == {"delete"}


def test_v3_partial_overwrite_partitioned(fs_catalog, spark, lineitem_df):
    """The lineage-preserving overwrite composes with partitioned
    fanout: survivors rewrite through the partition router with the
    extended (lineage) schema, and pruning still works afterwards."""
    from iceberg_go_distributed_spark.iceberg.partitioning import spec_from

    spec = spec_from(LINEITEM_SCHEMA, ("l_returnflag", "identity"))
    t = fs_catalog.create_table("db.v3cowp", LINEITEM_SCHEMA, spec=spec)
    t.upgrade_format_version(3)
    df = lineitem_df.limit(150)
    t.append(df)
    before = {
        (r.l_orderkey, r.l_linenumber): r._row_id
        for r in t.scan().with_row_lineage().to_df(spark).collect()
        if r.l_linenumber != 1
    }

    t.overwrite_where(df.where("l_linenumber = 1"), E.equal("l_linenumber", 1))

    rows = t.scan().with_row_lineage().to_df(spark).collect()
    assert len(rows) == 150
    assert {
        (r.l_orderkey, r.l_linenumber): r._row_id
        for r in rows
        if r.l_linenumber != 1
    } == before
    # partition pruning still sound over the rewritten layout
    wantA = df.where("l_returnflag = 'A'").count()
    scan = t.scan(row_filter=E.equal("l_returnflag", "A"))
    assert len(scan.plan_files()) < len(t.scan().plan_files())
    assert scan.to_df(spark).count() == wantA


def test_mor_small_delete_debt_broadcasts_antijoin(fs_catalog, spark, lineitem_df):
    """The MOR anti-join's delete-side cardinality is known at plan time
    (manifest record_count), so a small delete debt must broadcast the
    positions frame (scan stays shuffle-free) instead of sort-merge
    shuffling every data row; setting
    read.mor.broadcast-deletes-max-positions=0 restores the shuffle
    anti-join (the 100 TB delete-heavy shape) with identical results."""
    t = _v3_table(fs_catalog, lineitem_df, name="db.v3bhj", rows=300, files=2)
    t.delete_where(spark, E.equal("l_linenumber", 1))
    expected = lineitem_df.limit(300).where("l_linenumber != 1").count()

    df = t.scan().to_df(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert df.count() == expected

    # large-debt path (forced): shuffle anti-join, same rows
    tx = t.transaction()
    tx.set_properties({"read.mor.broadcast-deletes-max-positions": "0"})
    tx.commit()
    df2 = t.scan().to_df(spark)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan2, plan2
    assert df2.count() == expected
    # both paths return the same row multiset
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, df2.collect()))
    assert a == b
