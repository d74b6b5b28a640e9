"""Maintenance ops: orphan cleanup, manifest merge, location providers,
name sanitization, name mapping."""

from __future__ import annotations

import os
import time

import pytest

from iceberg_go_distributed_spark.iceberg import types as ty
from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
from iceberg_go_distributed_spark.iceberg.maintenance import (
    delete_orphan_files,
    merge_manifests,
    object_store_location,
    referenced_files,
    simple_location,
)
from iceberg_go_distributed_spark.iceberg.sanitize import (
    apply_name_mapping,
    make_compatible_name,
    name_mapping_from_json,
    name_mapping_from_schema,
    name_mapping_to_json,
    sanitize_column_names,
    valid_avro_name,
)
from iceberg_go_distributed_spark.iceberg.types import NestedField, Schema

from tests.test_table_e2e import LINEITEM_SCHEMA


@pytest.fixture()
def fs_catalog(tmp_path):
    return FileSystemCatalog(str(tmp_path / "warehouse"))


@pytest.fixture()
def lineitem_df(spark, sf_dir):
    from iceberg_go_distributed_spark.datasets import load_table

    return load_table(spark, sf_dir, "lineitem")


def test_orphan_cleanup(fs_catalog, spark, lineitem_df):
    t = fs_catalog.create_table("db.li_orphan", LINEITEM_SCHEMA)
    t.append(lineitem_df.limit(100).coalesce(1))

    # plant orphans: a stray data file and a stray metadata file
    stray1 = os.path.join(t.location, "data", "stray.parquet")
    stray2 = os.path.join(t.location, "metadata", "stray.avro")
    for p in (stray1, stray2):
        with open(p, "wb") as f:
            f.write(b"junk")
    old = time.time() - 10 * 86400
    os.utime(stray1, (old, old))
    os.utime(stray2, (old, old))

    refs = referenced_files(t)
    assert any(p.endswith(".parquet") for p in refs)

    # dry run: lists but doesn't delete
    listed = delete_orphan_files(t, dry_run=True)
    assert set(listed) == {stray1, stray2}
    assert os.path.exists(stray1)

    # real run deletes only the aged orphans, never referenced files
    deleted = delete_orphan_files(t)
    assert set(deleted) == {stray1, stray2}
    assert not os.path.exists(stray1) and not os.path.exists(stray2)
    assert t.scan().to_df(spark).count() == 100  # table intact

    # young orphans survive the age cutoff
    young = os.path.join(t.location, "data", "young.parquet")
    with open(young, "wb") as f:
        f.write(b"junk")
    assert delete_orphan_files(t) == []
    assert os.path.exists(young)


def test_orphan_cleanup_keeps_statistics_files(fs_catalog, spark, lineitem_df):
    """Statistics puffins and partition-statistics parquet are reachable
    only through metadata `statistics` / `partition-statistics` entries
    (not through any snapshot), so orphan cleanup must treat them as
    referenced — ref orphan_cleanup.go:229 (statistics files branch)."""
    from iceberg_go_distributed_spark.iceberg.maintenance import (
        compute_partition_statistics,
    )
    from iceberg_go_distributed_spark.iceberg.puffin import compute_ndv_statistics

    from iceberg_go_distributed_spark.iceberg.partitioning import spec_from
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    schema = schema_from_spark(lineitem_df.schema)
    spec = spec_from(schema, ("l_returnflag", "identity"))
    t = fs_catalog.create_table("db.li_orphan_stats", schema, spec=spec)
    t.append(lineitem_df.limit(100).coalesce(1))

    ndv = compute_ndv_statistics(t, spark, columns=["l_returnflag"])
    pstats = compute_partition_statistics(t)
    stats_paths = {ndv["statistics-path"], pstats["statistics-path"]}
    for p in stats_paths:
        assert os.path.exists(p)
        old = time.time() - 10 * 86400
        os.utime(p, (old, old))

    refs = referenced_files(t)
    assert stats_paths <= refs

    assert delete_orphan_files(t) == []
    for p in stats_paths:
        assert os.path.exists(p)

    # the distributed listing path must protect them identically
    assert delete_orphan_files(t, spark=spark) == []
    for p in stats_paths:
        assert os.path.exists(p)

    # unpartitioned tables refuse partition stats (Java parity) rather
    # than writing an unreadable empty partition struct
    flat = fs_catalog.create_table("db.li_orphan_stats_flat", LINEITEM_SCHEMA)
    flat.append(lineitem_df.limit(10).coalesce(1))
    with pytest.raises(ValueError, match="partitioned"):
        compute_partition_statistics(flat)


def test_manifest_merge(fs_catalog, spark, lineitem_df):
    t = fs_catalog.create_table("db.li_merge", LINEITEM_SCHEMA)
    for i in range(6):
        t.append(lineitem_df.where(f"l_orderkey % 6 = {i}").coalesce(1))
    snap = t.current_snapshot()
    assert len(snap.manifests()) == 6

    # below min-count → no-op
    assert not merge_manifests(t, min_count=100)
    # force merge
    assert merge_manifests(t, min_count=2)
    t.refresh()
    merged = t.current_snapshot()
    assert merged.summary.operation == "replace"
    assert len(merged.manifests()) < 6
    assert t.scan().to_df(spark).count() == lineitem_df.count()


def test_manifest_merge_spec_evolution(fs_catalog, spark, lineitem_df):
    """Merging must never mix partition specs in one manifest: a foreign-
    spec entry re-keyed under another spec's field names would get null
    partition values and then be wrongly pruned at scan time (silent
    missing rows) — ref snapshot_producers.go:255-257 groups per spec."""
    from iceberg_go_distributed_spark.iceberg import expressions as E
    from iceberg_go_distributed_spark.iceberg.manifest import read_manifest

    t = fs_catalog.create_table("db.li_merge_specs", LINEITEM_SCHEMA)
    li = lineitem_df.limit(300).cache()
    for i in range(3):
        t.append(li.where(f"l_orderkey % 3 = {i}").coalesce(1))  # spec 0 (unpartitioned)
    t.update_spec().add_field("l_returnflag", "identity").commit()
    for i in range(3):
        t.append(li.where(f"l_orderkey % 3 = {i}"))  # spec 1 (identity on flag)
    total = 2 * li.count()  # each spec era appended the full 300 rows once
    want_A = 2 * li.where("l_returnflag = 'A'").count()

    assert merge_manifests(t, min_count=2)
    t.refresh()
    snap = t.current_snapshot()
    # no merged manifest may contain entries from a different spec
    for m in snap.manifests():
        spec = t.metadata.spec_by_id(m.partition_spec_id)
        names = [f.name for f in spec.fields]
        for e in read_manifest(m.manifest_path, discard_deleted=False):
            if names:  # spec-1 entries must keep real partition values
                assert e.data_file.partition.get(names[0]) is not None
    assert t.scan().to_df(spark).count() == total
    # partition-filtered scan still finds the spec-1 files (prune soundness)
    got_A = t.scan(row_filter=E.equal("l_returnflag", "A")).to_df(spark).count()
    assert got_A == want_A
    li.unpersist()


def test_location_providers():
    assert simple_location("/wh/t", "a=1", "f.parquet") == "/wh/t/data/a=1/f.parquet"
    p = object_store_location("/wh/t", "a=1", "f.parquet")
    # 4 x 4-bit binary dirs between data/ and the partition path
    mid = p.split("/data/")[1].split("/a=1/")[0]
    parts = mid.split("/")
    assert len(parts) == 4 and all(set(x) <= {"0", "1"} and len(x) == 4 for x in parts)
    # deterministic
    assert p == object_store_location("/wh/t", "a=1", "f.parquet")
    assert p != object_store_location("/wh/t", "a=1", "g.parquet")


def test_sanitize_names():
    # schema.go semantics: leading digit → _d, special runes → _xHEX
    assert valid_avro_name("abc_123")
    assert not valid_avro_name("9x")
    assert not valid_avro_name("a.b")
    assert make_compatible_name("valid_name") == "valid_name"
    assert make_compatible_name("9x") == "_9x"
    assert make_compatible_name("a.b") == "a_x2Eb"
    assert make_compatible_name("a b") == "a_x20b"

    s = Schema.of(
        0,
        NestedField(1, "a.b", ty.StringType()),
        NestedField(2, "ok", ty.LongType()),
    )
    out = sanitize_column_names(s)
    assert [f.name for f in out.fields] == ["a_x2Eb", "ok"]
    assert [f.field_id for f in out.fields] == [1, 2]  # ids untouched


def test_name_mapping_roundtrip():
    s = Schema.of(
        0,
        NestedField(1, "id", ty.LongType()),
        NestedField(2, "data", ty.StringType()),
    )
    m = name_mapping_from_schema(s)
    j = name_mapping_to_json(m)
    m2 = name_mapping_from_json(j)
    assert apply_name_mapping(m2, "id") == 1
    assert apply_name_mapping(m2, "data") == 2
    assert apply_name_mapping(m2, "nope") is None


def test_puffin_roundtrip(tmp_path):
    from iceberg_go_distributed_spark.iceberg.puffin import (
        BlobMetadata,
        read_puffin,
        write_puffin,
    )

    path = str(tmp_path / "x.puffin")
    blobs = [
        (BlobMetadata("ndv-exact-v1", [1], 10, 2, properties={"ndv": "42"}), b"42"),
        (BlobMetadata("ndv-exact-v1", [2], 10, 2, properties={"ndv": "7"}), b"7"),
    ]
    info = write_puffin(path, blobs, {"created-by": "test"})
    assert info["size"] > info["footer_size"] > 0
    metas, props, payloads = read_puffin(path)
    assert props == {"created-by": "test"}
    assert [m.fields for m in metas] == [[1], [2]]
    assert metas[0].properties["ndv"] == "42"
    assert payloads[0] == b"42" and payloads[1] == b"7"


def test_ndv_properties_consumption(fs_catalog, spark, lineitem_df):
    """Engines read NDV from the statistics entry's
    blob-metadata[].properties.ndv (Trino/Spark CBO path, and the
    reference's statistics.go parse) — never from the payload. Assert
    the consumed field is present, integer-parseable, and correct via
    ONLY the table-metadata JSON (no puffin read)."""
    from iceberg_go_distributed_spark.iceberg.puffin import compute_ndv_statistics

    t = fs_catalog.create_table("db.li_ndvprops", LINEITEM_SCHEMA)
    t.append(lineitem_df.limit(400).coalesce(1))
    compute_ndv_statistics(t, spark, columns=["l_returnflag", "l_linestatus"])

    t2 = fs_catalog.load_table("db.li_ndvprops")
    (entry,) = t2.metadata.statistics
    assert entry["snapshot-id"] == t2.current_snapshot().snapshot_id
    by_field = {
        bm["fields"][0]: bm["properties"]["ndv"] for bm in entry["blob-metadata"]
    }
    fid_flag = next(f.field_id for f in t2.schema().fields if f.name == "l_returnflag")
    fid_stat = next(f.field_id for f in t2.schema().fields if f.name == "l_linestatus")
    want_flag = lineitem_df.limit(400).select("l_returnflag").distinct().count()
    want_stat = lineitem_df.limit(400).select("l_linestatus").distinct().count()
    assert int(by_field[fid_flag]) == want_flag
    assert int(by_field[fid_stat]) == want_stat


def test_compute_ndv_statistics(fs_catalog, spark, lineitem_df):
    from iceberg_go_distributed_spark.iceberg.puffin import (
        compute_ndv_statistics,
        read_puffin,
    )

    t = fs_catalog.create_table("db.li_stats", LINEITEM_SCHEMA)
    t.append(lineitem_df.limit(500).coalesce(1))
    entry = compute_ndv_statistics(t, spark, columns=["l_orderkey", "l_returnflag"])

    # entry landed in table metadata and survives reload
    t2 = fs_catalog.load_table("db.li_stats")
    assert t2.metadata.statistics[0]["statistics-path"] == entry["statistics-path"]

    metas, _, _ = read_puffin(entry["statistics-path"])
    ndv_by_field = {m.fields[0]: int(m.properties["ndv"]) for m in metas}
    want_orderkey = lineitem_df.limit(500).select("l_orderkey").distinct().count()
    want_flag = lineitem_df.limit(500).select("l_returnflag").distinct().count()
    assert ndv_by_field[1] == want_orderkey
    assert ndv_by_field[9] == want_flag


def test_partition_statistics_file(fs_catalog, spark, sf_dir):
    """Partition-statistics file (ref statistics.go:79-87): per-partition
    rollups written as sorted parquet + SetPartitionStatistics commit."""
    import pyarrow.parquet as pq

    from iceberg_go_distributed_spark.datasets import load_table
    from iceberg_go_distributed_spark.iceberg.maintenance import (
        compute_partition_statistics,
    )
    from iceberg_go_distributed_spark.iceberg.partitioning import spec_from
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    li = load_table(spark, sf_dir, "lineitem")
    schema = schema_from_spark(li.schema)
    spec = spec_from(schema, ("l_returnflag", "identity"))
    t = fs_catalog.create_table("db.pstats", schema, spec=spec)
    t.append(li)

    entry = compute_partition_statistics(t)
    assert t.metadata.partition_statistics == [entry]
    stats = pq.read_table(entry["statistics-path"]).to_pylist()
    want = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").count().withColumnRenamed("count", "n").collect()
    }
    got = {r["partition"]["l_returnflag"]: r["data_record_count"] for r in stats}
    assert got == want
    assert all(r["data_file_count"] >= 1 for r in stats)
    # sorted by partition for reader-side binary search
    keys = [r["partition"]["l_returnflag"] for r in stats]
    assert keys == sorted(keys)
    # survives a metadata round trip
    t2 = fs_catalog.load_table("db.pstats")
    assert t2.metadata.partition_statistics == [entry]


# ------------------------------------------------- DV consolidation

def _live_dv_entries(t):
    from iceberg_go_distributed_spark.iceberg.manifest import (
        ManifestContent,
        read_manifest,
    )

    snap = t.current_snapshot()
    out = []
    for m in snap.manifests():
        if m.content != ManifestContent.DELETES:
            continue
        for e in read_manifest(
            m.manifest_path, inherit_sequence_number=m.sequence_number
        ):
            if e.data_file.content_offset is not None:
                out.append(e)
    return out


def test_rewrite_position_deletes_consolidates_dvs(fs_catalog, spark, lineitem_df):
    """VERDICT r6 task 5: a steady delete stream scatters live DVs over
    many small puffin files; rewrite_position_deletes repacks them into
    one (per target-size bin) without rewriting data or re-deriving a
    single delete — the DV analogue of Spark's
    rewrite_position_deletes procedure."""
    from iceberg_go_distributed_spark.iceberg import expressions as E
    from iceberg_go_distributed_spark.iceberg.maintenance import (
        rewrite_position_deletes,
    )
    from iceberg_go_distributed_spark.iceberg.puffin import read_deletion_vector

    rows = [r.asDict() for r in lineitem_df.limit(120).collect()]
    for i, r in enumerate(rows):
        r["l_orderkey"] = i  # deterministic disjoint key ranges per file
    df = spark.createDataFrame(rows, lineitem_df.schema)

    t = fs_catalog.create_table("db.dvcons", LINEITEM_SCHEMA)
    t.upgrade_format_version(3)
    # three appends → three data files with disjoint l_orderkey ranges
    t.append(df.where("l_orderkey < 40").coalesce(1))
    t.append(df.where("l_orderkey >= 40 AND l_orderkey < 80").coalesce(1))
    t.append(df.where("l_orderkey >= 80").coalesce(1))

    # three delete rounds, each touching a different file → three live
    # puffin files (merge-and-replace only rewrites the touched file's DV)
    t.delete_where(spark, E.and_(E.greater_than_or_equal("l_orderkey", 5), E.less_than("l_orderkey", 10)))
    t.delete_where(spark, E.and_(E.greater_than_or_equal("l_orderkey", 45), E.less_than("l_orderkey", 50)))
    t.delete_where(spark, E.and_(E.greater_than_or_equal("l_orderkey", 85), E.less_than("l_orderkey", 90)))

    before_entries = _live_dv_entries(t)
    before_puffins = {e.data_file.file_path for e in before_entries}
    assert len(before_entries) == 3
    assert len(before_puffins) == 3, "setup must scatter DVs over 3 puffins"
    before_seqs = {
        e.data_file.referenced_data_file: e.sequence_number for e in before_entries
    }
    expect = set(
        r.l_orderkey for r in t.scan().to_df(spark).select("l_orderkey").collect()
    )
    assert len(expect) == 105

    assert rewrite_position_deletes(t, spark) is True

    after = _live_dv_entries(t)
    after_puffins = {e.data_file.file_path for e in after}
    assert len(after) == 3, "one DV blob per data file preserved"
    assert len(after_puffins) == 1, "all DVs consolidated into one puffin"
    assert after_puffins.isdisjoint(before_puffins)
    # each blob keeps its ORIGINAL sequence number (scan gating unchanged)
    assert {
        e.data_file.referenced_data_file: e.sequence_number for e in after
    } == before_seqs
    # blob payloads decode to the same deleted positions
    for e in after:
        d = e.data_file
        pos = read_deletion_vector(d.file_path, d.content_offset, d.content_size_in_bytes)
        assert len(pos) == d.record_count == 5
    # scan results identical
    got = set(
        r.l_orderkey for r in t.scan().to_df(spark).select("l_orderkey").collect()
    )
    assert got == expect
    # summary records the rewrite; totals are preserved exactly (the
    # repack nets to zero in every total-* counter)
    props = t.current_snapshot().summary.properties
    assert props["rewritten-delete-files"] == "3"
    assert props["consolidated-puffin-files"] == "1"
    assert props["added-delete-files"] == props["removed-delete-files"] == "3"
    assert props["total-position-deletes"] == "15"
    assert props["total-delete-files"] == "3"

    # idempotent: already consolidated → no-op, no new snapshot
    sid = t.current_snapshot().snapshot_id
    assert rewrite_position_deletes(t, spark) is False
    assert t.current_snapshot().snapshot_id == sid


def test_rewrite_position_deletes_respects_sequence_gate(
    fs_catalog, spark, lineitem_df, executor_plan
):
    """A data file appended AFTER the deletes must stay untouched by the
    consolidated DVs: entry-level sequence numbers gate `dv.seq >=
    data.seq` exactly as before the rewrite."""
    from iceberg_go_distributed_spark.iceberg import expressions as E
    from iceberg_go_distributed_spark.iceberg.maintenance import (
        rewrite_position_deletes,
    )

    rows = [r.asDict() for r in lineitem_df.limit(90).collect()]
    for i, r in enumerate(rows):
        r["l_orderkey"] = i
    df = spark.createDataFrame(rows, lineitem_df.schema)

    t = fs_catalog.create_table("db.dvseq", LINEITEM_SCHEMA)
    t.upgrade_format_version(3)
    t.append(df.where("l_orderkey < 30").coalesce(1))
    t.append(df.where("l_orderkey >= 30 AND l_orderkey < 60").coalesce(1))
    t.delete_where(spark, E.less_than("l_orderkey", 3))
    t.delete_where(
        spark,
        E.and_(E.greater_than_or_equal("l_orderkey", 30), E.less_than("l_orderkey", 33)),
    )
    # late arrival: rows 60..89 appended AFTER both deletes
    t.append(df.where("l_orderkey >= 60").coalesce(1))

    assert rewrite_position_deletes(t, spark) is True
    got = sorted(
        r.l_orderkey for r in t.scan().to_df(spark).select("l_orderkey").collect()
    )
    assert got == [k for k in range(90) if k not in (0, 1, 2, 30, 31, 32)]
    # the executor leg agrees with the driver plan post-rewrite
    from oracles import plan_fields

    sc = t.scan()
    assert plan_fields(executor_plan(sc)) == plan_fields(sc.plan_files())


def test_dv_lifecycle_expire_then_orphan_cleanup(fs_catalog, spark, lineitem_df):
    """Full DV lifecycle: delete stream → consolidation → snapshot
    expiry → orphan cleanup. Superseded puffins stay REFERENCED (older
    snapshots can still read them) until expiry releases them; cleanup
    then removes exactly those, and the consolidated scan is unchanged."""
    import os
    import time

    from iceberg_go_distributed_spark.iceberg import expressions as E
    from iceberg_go_distributed_spark.iceberg.maintenance import (
        delete_orphan_files,
        rewrite_position_deletes,
    )

    rows = [r.asDict() for r in lineitem_df.limit(90).collect()]
    for i, r in enumerate(rows):
        r["l_orderkey"] = i
    df = spark.createDataFrame(rows, lineitem_df.schema)

    t = fs_catalog.create_table("db.dvlife", LINEITEM_SCHEMA)
    t.upgrade_format_version(3)
    for lo, hi in ((0, 30), (30, 60), (60, 90)):
        t.append(df.where(f"l_orderkey >= {lo} AND l_orderkey < {hi}").coalesce(1))
    t.delete_where(spark, E.and_(E.greater_than_or_equal("l_orderkey", 5), E.less_than("l_orderkey", 8)))
    t.delete_where(spark, E.and_(E.greater_than_or_equal("l_orderkey", 35), E.less_than("l_orderkey", 38)))

    old_puffins = {e.data_file.file_path for e in _live_dv_entries(t)}
    assert len(old_puffins) == 2
    assert rewrite_position_deletes(t, spark) is True
    [new_puffin] = {e.data_file.file_path for e in _live_dv_entries(t)}
    expect = t.scan().to_df(spark).count()

    # (older_than_ms is an absolute mtime cutoff; a future one makes
    # every unreferenced file eligible immediately)
    future = int(time.time() * 1000) + 60_000

    # superseded puffins are still reachable via older snapshots
    assert delete_orphan_files(t, older_than_ms=future, dry_run=True) == []

    tx = t.transaction()
    tx.expire_snapshots(retain_last=1)
    tx.commit()
    t.refresh()
    removed = delete_orphan_files(t, older_than_ms=future)
    assert old_puffins <= set(removed)
    assert new_puffin not in set(removed)
    for p in old_puffins:
        assert not os.path.exists(p)
    assert t.scan().to_df(spark).count() == expect


def test_rewrite_position_deletes_preserves_partitions(fs_catalog, spark, lineitem_df):
    """Spec: a position-delete entry carries the referenced data file's
    partition tuple. Consolidation on a partitioned table must keep
    every DV's partition values and spec id (one consolidated manifest
    per spec), with non-null partition field summaries."""
    from iceberg_go_distributed_spark.iceberg import expressions as E
    from iceberg_go_distributed_spark.iceberg.maintenance import (
        rewrite_position_deletes,
    )
    from iceberg_go_distributed_spark.iceberg.manifest import (
        ManifestContent,
        read_manifest,
    )
    from iceberg_go_distributed_spark.iceberg.partitioning import spec_from

    spec = spec_from(LINEITEM_SCHEMA, ("l_returnflag", "identity"))
    t = fs_catalog.create_table("db.dvpart", LINEITEM_SCHEMA, spec=spec)
    t.upgrade_format_version(3)
    t.append(lineitem_df.limit(200))
    # two delete rounds → scattered DVs across the partitioned files
    t.delete_where(spark, E.equal("l_linenumber", 1))
    t.delete_where(spark, E.equal("l_linenumber", 2))

    before = {
        e.data_file.referenced_data_file: dict(e.data_file.partition or {})
        for m in t.current_snapshot().manifests()
        if m.content == ManifestContent.DELETES
        for e in read_manifest(m.manifest_path, inherit_sequence_number=m.sequence_number)
        if e.data_file.content_offset is not None
    }
    assert before and all(
        p.get("l_returnflag") is not None for p in before.values()
    ), "setup: DV entries must carry real partition values"
    expect = t.scan().to_df(spark).count()

    assert rewrite_position_deletes(t, spark, min_input_files=2) is True

    after_manifests = [
        m for m in t.current_snapshot().manifests()
        if m.content == ManifestContent.DELETES
    ]
    after = {}
    for m in after_manifests:
        assert m.partition_spec_id == spec.spec_id
        # manifest-level partition summaries must not be all-null
        assert m.partitions and not m.partitions[0].contains_null
        for e in read_manifest(m.manifest_path, inherit_sequence_number=m.sequence_number):
            if e.data_file.content_offset is not None:
                after[e.data_file.referenced_data_file] = dict(e.data_file.partition or {})
    assert after == before, "partition tuples must survive the repack"
    assert t.scan().to_df(spark).count() == expect


def _append_count_props(t, min_count):
    tx = t.transaction()
    # merge-append is opt-in (reference defaults
    # commit.manifest-merge.enabled=false, table/properties.go:58-59)
    tx.set_properties(
        {
            "commit.manifest-merge.enabled": "true",
            "commit.manifest.min-count-to-merge": str(min_count),
        }
    )
    tx.commit()


def test_merge_append_on_commit(fs_catalog, spark, lineitem_df):
    """The reference's mergeManager runs ON the append commit (ref
    snapshot_producers.go:245-373): once the table accumulates
    min-count-to-merge small data manifests, the append itself writes
    merged manifests — same file set, ONE snapshot, bounded manifest
    count under continuous appends (a streaming sink's shape)."""
    t = fs_catalog.create_table("db.li_ma", LINEITEM_SCHEMA)
    _append_count_props(t, 3)
    counts = []
    for i in range(6):
        t.append(lineitem_df.where(f"l_orderkey % 6 = {i}").coalesce(1))
        t.refresh()
        counts.append(len(t.current_snapshot().manifests()))
    # appends 1,2 accumulate; append 3 merges (3 candidates >= 3);
    # append 4 accumulates (merged manifest + new = 2 < 3); append 5
    # merges again; append 6 accumulates
    assert counts == [1, 2, 1, 2, 1, 2], counts
    # the merge-append is ONE snapshot per append — no extra 'replace'
    snaps = list(t.metadata.snapshots)
    assert len(snaps) == 6
    assert all(s.summary.operation == "append" for s in snaps)
    assert snaps[2].summary.properties.get("manifests-merged") == "3"
    # file set identical to a never-merged twin
    t2 = fs_catalog.create_table("db.li_ma_twin", LINEITEM_SCHEMA)
    for i in range(6):
        t2.append(lineitem_df.where(f"l_orderkey % 6 = {i}").coalesce(1))
    rows = lambda x: sorted(
        tuple(r) for r in x.scan().to_df(spark).collect()
    )
    assert rows(t) == rows(t2)
    assert len(t.scan().plan_files()) == len(t2.scan().plan_files()) == 6


def test_merge_append_preserves_delete_gating(fs_catalog, spark, lineitem_df):
    """A merged-append manifest rewrites OLD entries: their sequence
    numbers must stay explicit (inheritance would re-stamp them with the
    new snapshot's sequence number, making older delete files stop
    applying — resurrected rows, silent corruption) and the manifest's
    min_sequence_number must keep the oldest entry's value."""
    from iceberg_go_distributed_spark.iceberg import expressions as E
    from iceberg_go_distributed_spark.iceberg.manifest import (
        ManifestContent,
        read_manifest,
    )

    t = fs_catalog.create_table("db.li_gate", LINEITEM_SCHEMA)
    t.upgrade_format_version(3)
    _append_count_props(t, 3)
    base = lineitem_df.limit(300)
    t.append(base.coalesce(1))  # seq 1: data file f1
    t.delete_where(spark, E.equal("l_linenumber", 1))  # seq 2: DV on f1
    live = base.where("l_linenumber != 1").count()
    assert t.scan().to_df(spark).count() == live

    # two more appends; the second triggers a merge that rewrites f1's
    # manifest entry into a new manifest committed at seq 4
    extra = lineitem_df.limit(400).subtract(base)
    n_extra = extra.count()
    t.append(extra.limit(50).coalesce(1))
    t.append(extra.subtract(extra.limit(50)).coalesce(1))
    t.refresh()
    snap = t.current_snapshot()
    data_m = [m for m in snap.manifests() if m.content == ManifestContent.DATA]
    assert len(data_m) == 1, "merge-append did not fire"
    merged = data_m[0]
    # wire-level: stamp preserved the oldest merged entry's sequence
    assert merged.sequence_number == snap.sequence_number == 4
    assert merged.min_sequence_number == 1
    entries = read_manifest(
        merged.manifest_path, inherit_sequence_number=merged.sequence_number
    )
    f1 = [e for e in entries if e.data_file.record_count == 300]
    assert f1 and f1[0].sequence_number == 1, "old entry lost its explicit seq"
    # and the DV still applies after the merge: deleted rows stay gone
    assert t.scan().to_df(spark).count() == live + n_extra


def test_merge_append_row_lineage_stable(fs_catalog, spark, lineitem_df):
    """v3: a merge-append must not renumber existing rows' _row_id —
    old entries materialize their first_row_id into the merged manifest;
    new rows draw fresh ids from the merged manifest's assigned range."""
    t = fs_catalog.create_table("db.li_lin", LINEITEM_SCHEMA)
    t.upgrade_format_version(3)
    _append_count_props(t, 3)
    t.append(lineitem_df.where("l_orderkey % 3 = 0").coalesce(1))
    t.append(lineitem_df.where("l_orderkey % 3 = 1").coalesce(1))
    before = {
        (r.l_orderkey, r.l_linenumber): r._row_id
        for r in t.scan().with_row_lineage().to_df(spark).collect()
    }
    t.append(lineitem_df.where("l_orderkey % 3 = 2").coalesce(1))  # merges
    t.refresh()
    assert len([m for m in t.current_snapshot().manifests()]) == 1
    after = {
        (r.l_orderkey, r.l_linenumber): r._row_id
        for r in t.scan().with_row_lineage().to_df(spark).collect()
    }
    for k, rid in before.items():
        assert after[k] == rid, f"row {k} renumbered {rid} -> {after[k]}"
    new_ids = {v for k, v in after.items() if k not in before}
    assert new_ids and not (new_ids & set(before.values()))
    assert len(set(after.values())) == len(after), "duplicate _row_id"


def test_merge_append_incremental_scan_delivers_only_new(
    fs_catalog, spark, lineitem_df
):
    """An incremental append scan (and therefore the readStream source)
    across a merge-append snapshot must deliver ONLY that snapshot's
    added files — the merged manifest's EXISTING entries are history."""
    t = fs_catalog.create_table("db.li_inc", LINEITEM_SCHEMA)
    _append_count_props(t, 3)
    t.append(lineitem_df.where("l_orderkey % 3 = 0").coalesce(1))
    t.append(lineitem_df.where("l_orderkey % 3 = 1").coalesce(1))
    t.refresh()
    mid = t.current_snapshot().snapshot_id
    t.append(lineitem_df.where("l_orderkey % 3 = 2").coalesce(1))  # merges
    t.refresh()
    tasks = t.incremental_append_scan(from_snapshot_id=mid).plan_files()
    assert len(tasks) == 1
    want = lineitem_df.where("l_orderkey % 3 = 2").count()
    assert sum(x.file.record_count for x in tasks) == want


def test_merge_append_singleton_bin_not_duplicated(fs_catalog, spark, lineitem_df):
    """Regression: when the bin-packer closes bins at the target size, a
    leftover SINGLETON bin holds a manifest that is merged into nothing.
    That manifest must appear in the new manifest list exactly once —
    the original carry logic re-added singleton parents on top of the
    untouched-parent carry, listing the same manifest twice and
    silently duplicating every row it references on scan."""
    li = lineitem_df
    t = fs_catalog.create_table("db.li_single", LINEITEM_SCHEMA)
    t.append(li.where("l_orderkey % 5 = 0").coalesce(1))
    t.refresh()
    m0 = t.current_snapshot().manifests()[0]
    tx = t.transaction()
    # target = 1.5 manifests: bins close at two members, odd counts
    # leave a singleton leftover bin
    tx.set_properties(
        {
            "commit.manifest-merge.enabled": "true",
            "commit.manifest.min-count-to-merge": "5",
            "commit.manifest.target-size-bytes": str(int(m0.manifest_length * 1.5)),
        }
    )
    tx.commit()
    for i in range(1, 5):
        t.append(li.where(f"l_orderkey % 5 = {i}").coalesce(1))
        t.refresh()
    paths = [m.manifest_path for m in t.current_snapshot().manifests()]
    assert len(paths) == len(set(paths)), f"manifest listed twice: {paths}"
    assert t.scan().to_df(spark).count() == li.count()


def test_merge_append_off_by_default(fs_catalog, spark, lineitem_df):
    """Parity pin: the reference defaults commit.manifest-merge.enabled
    to FALSE (table/properties.go:58-59), unlike upstream Java Iceberg.
    With only min-count set, appends must NOT merge manifests."""
    t = fs_catalog.create_table("db.li_default_off", LINEITEM_SCHEMA)
    tx = t.transaction()
    tx.set_properties({"commit.manifest.min-count-to-merge": "2"})
    tx.commit()
    for i in range(4):
        t.append(lineitem_df.where(f"l_orderkey % 4 = {i}").coalesce(1))
    t.refresh()
    assert len(t.current_snapshot().manifests()) == 4


def test_merge_append_disabled_by_property(fs_catalog, spark, lineitem_df):
    t = fs_catalog.create_table("db.li_off", LINEITEM_SCHEMA)
    tx = t.transaction()
    tx.set_properties(
        {
            "commit.manifest.min-count-to-merge": "2",
            "commit.manifest-merge.enabled": "false",
        }
    )
    tx.commit()
    for i in range(4):
        t.append(lineitem_df.where(f"l_orderkey % 4 = {i}").coalesce(1))
    t.refresh()
    assert len(t.current_snapshot().manifests()) == 4


def test_merge_append_fuzz_against_unmerged_twin(fs_catalog, spark, lineitem_df):
    """Randomized DML battery over TWO v3 tables fed identical operation
    sequences — one with aggressive merge-append (min-count 2), one with
    merging disabled. After EVERY op: identical live-row multisets and
    planned file counts across the twins, and WITHIN the merged table,
    row-lineage stability (every surviving row keeps its _row_id from
    step to step) and id uniqueness. Absolute _row_id equality across
    twins is deliberately NOT asserted — merge-append burns fresh
    covering id ranges (spec-sanctioned), shifting later assignments.
    Catches the silent-corruption class a manifest rewrite can introduce
    (re-inherited sequence numbers un-applying deletes, renumbered or
    duplicated lineage, lost/resurrected rows) across op interleavings
    the deterministic tests don't enumerate."""
    import random

    from iceberg_go_distributed_spark.iceberg import expressions as E

    rng = random.Random(0xA8)
    rows = lineitem_df.limit(600).cache()
    rows.count()

    def mk(name, props):
        t = fs_catalog.create_table(f"db.{name}", LINEITEM_SCHEMA)
        t.upgrade_format_version(3)
        tx = t.transaction()
        tx.set_properties(props)
        tx.commit()
        return t

    t_m = mk(
        "fz_merge",
        {
            "commit.manifest-merge.enabled": "true",
            "commit.manifest.min-count-to-merge": "2",
        },
    )
    t_u = mk("fz_plain", {"commit.manifest-merge.enabled": "false"})

    def snapshot_state(t):
        df = t.scan().with_row_lineage().to_df(spark)
        data = sorted(
            (r.l_orderkey, r.l_linenumber, float(r.l_quantity), r._row_id)
            for r in df.collect()
        )
        return data

    next_slice = [0]

    def op_append():
        lo = next_slice[0] % 500
        batch = rows.where(f"l_orderkey % 10 = {lo % 10}").limit(60)
        next_slice[0] += 1
        for t in (t_m, t_u):
            t.append(batch.coalesce(1))

    def op_delete():
        ln = rng.randint(1, 7)
        for t in (t_m, t_u):
            t.delete_where(spark, E.equal("l_linenumber", ln))

    def op_delete_qty():
        q = rng.choice([10.0, 25.0, 40.0])
        for t in (t_m, t_u):
            t.delete_where(spark, E.greater_than("l_quantity", q))

    ops = [op_append, op_append, op_append, op_delete, op_delete_qty]
    op_append()  # both tables start non-empty
    prev_ids: dict[tuple, set] = {}
    for step in range(12):
        rng.choice(ops)()
        sm, su = snapshot_state(t_m), snapshot_state(t_u)
        # identical live rows (values only — see docstring on ids)
        vm = [r[:3] for r in sm]
        vu = [r[:3] for r in su]
        assert vm == vu, f"step {step}: merged table diverged"
        assert len(t_m.scan().plan_files()) == len(t_u.scan().plan_files()), (
            f"step {step}: planned file sets differ"
        )
        # merged-table lineage: unique ids, and id STABILITY — deletes
        # are predicate-based (they remove every instance of a value
        # triple at once), so any value triple still live must retain
        # ALL its previous ids (new appended instances only add ids)
        ids = [r[3] for r in sm]
        assert len(ids) == len(set(ids)), f"step {step}: duplicate _row_id"
        cur: dict[tuple, set] = {}
        for r in sm:
            cur.setdefault(r[:3], set()).add(r[3])
        for triple, old_ids in prev_ids.items():
            if triple in cur:
                missing = old_ids - cur[triple]
                assert not missing, (
                    f"step {step}: row {triple} lost/renumbered ids {missing}"
                )
        prev_ids = cur
    # merging actually happened (the whole point of the battery)
    t_m.refresh(); t_u.refresh()
    assert len(t_m.current_snapshot().manifests()) < len(
        t_u.current_snapshot().manifests()
    )
    rows.unpersist()


def test_orphan_cleanup_distributed_matches_driver(fs_catalog, spark, lineitem_df):
    """The Spark-distributed orphan sweep (executor listing + manifest
    reads, anti-join diff) must find exactly the same orphans as the
    driver-side walk, protect the same control files, and leave the
    table intact after deletion."""
    t = fs_catalog.create_table("db.li_orph_d", LINEITEM_SCHEMA)
    t.append(lineitem_df.limit(100).coalesce(1))
    t.append(lineitem_df.limit(150).subtract(lineitem_df.limit(100)).coalesce(1))

    old = time.time() - 10 * 86400
    strays = []
    for rel in ("data/stray1.parquet", "data/sub/stray2.parquet", "metadata/stray.avro"):
        p = os.path.join(t.location, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(b"junk")
        os.utime(p, (old, old))
        strays.append(p)
    # protected + young files must survive both paths
    lockp = os.path.join(t.location, "metadata", "commit.flock")
    open(lockp, "wb").close()
    os.utime(lockp, (old, old))
    young = os.path.join(t.location, "data", "young.parquet")
    open(young, "wb").write(b"j")

    want = delete_orphan_files(t, dry_run=True)
    got = delete_orphan_files(t, dry_run=True, spark=spark)
    assert got == want == sorted(strays)

    deleted = delete_orphan_files(t, spark=spark)
    assert deleted == sorted(strays)
    assert all(not os.path.exists(p) for p in strays)
    assert os.path.exists(lockp) and os.path.exists(young)
    assert t.scan().to_df(spark).count() == 150


def test_orphan_cleanup_object_store_requires_spark(fs_catalog, lineitem_df):
    """Driver-side os.walk of an object-store URI lists nothing — the
    old behavior silently reported zero orphans. It must raise and point
    at the distributed path instead."""
    t = fs_catalog.create_table("db.li_orph_s3", LINEITEM_SCHEMA)
    # fake a remote location without touching any store
    t.metadata = __import__("dataclasses").replace(
        t.metadata, location="s3://bucket/tables/li"
    )
    with pytest.raises(ValueError, match="distributed listing"):
        delete_orphan_files(t)
