"""v3 deletion vectors: portable Roaring codec, puffin DV blobs, and
merge-on-read scans that apply a DV instead of a parquet positional
delete file. The reference carries the DV manifest fields
(manifest.go:1792-1793, 2364-2365); the decode itself follows the
Iceberg v3 spec (Deletion Vectors) + RoaringFormatSpec."""

from __future__ import annotations

import copy
import struct
import time

import pytest

from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
from iceberg_go_distributed_spark.iceberg.manifest import (
    DataFile,
    DataFileContent,
    ManifestContent,
    ManifestEntry,
    ManifestEntryStatus,
    write_manifest,
    write_manifest_list,
)
from iceberg_go_distributed_spark.iceberg.metadata import (
    Snapshot,
    SnapshotLogEntry,
    SnapshotRef,
    Summary,
)
from iceberg_go_distributed_spark.iceberg.puffin import (
    BlobMetadata,
    parse_deletion_vector,
    read_deletion_vector,
    serialize_deletion_vector,
    write_puffin,
)
from iceberg_go_distributed_spark.iceberg.roaring import (
    deserialize_portable64,
    serialize_portable64,
)
from iceberg_go_distributed_spark.iceberg.table import Table

from tests.test_table_e2e import LINEITEM_SCHEMA


# ----------------------------------------------------------------- roaring

def test_roaring_roundtrip_array_and_bitmap_containers():
    # spans two 16-bit containers in one high-32 key plus a second
    # high-32 key; includes a dense container (> 4096 values → bitmap)
    sparse = [0, 1, 5, 65536 + 7, (1 << 32) + 3, (1 << 40) + 9]
    dense = list(range(200_000, 205_000))  # 5000 values, one container
    positions = sparse + dense
    out = deserialize_portable64(serialize_portable64(positions))
    assert out.tolist() == sorted(positions)


def test_roaring_roundtrip_empty_and_single():
    assert deserialize_portable64(serialize_portable64([])).size == 0
    assert deserialize_portable64(serialize_portable64([42])).tolist() == [42]


def test_roaring_decodes_run_containers():
    """Other writers may emit run containers (cookie 12347); hand-craft
    one: values 10..19 as a single run in container key 0."""
    n = 1
    cookie = ((n - 1) << 16) | 12347
    buf = struct.pack("<I", cookie)
    buf += bytes([0b1])  # run flag for container 0
    buf += struct.pack("<HH", 0, 10 - 1)  # key 0, cardinality-1
    # n < NO_OFFSET_THRESHOLD → no offset table
    buf += struct.pack("<H", 1)  # one run
    buf += struct.pack("<HH", 10, 9)  # start 10, length-1 = 9
    buf64 = struct.pack("<Q", 1) + struct.pack("<I", 0) + buf
    assert deserialize_portable64(buf64).tolist() == list(range(10, 20))


def test_deletion_vector_blob_roundtrip_and_corruption():
    positions = [3, 7, 11, 100_000]
    blob = serialize_deletion_vector(positions)
    assert parse_deletion_vector(blob).tolist() == positions
    # flipped payload byte → CRC failure, never silent wrong deletes
    bad = bytearray(blob)
    bad[10] ^= 0xFF
    with pytest.raises(ValueError, match="CRC|magic"):
        parse_deletion_vector(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        parse_deletion_vector(blob[: len(blob) - 8])


# --------------------------------------------------------------------- e2e

@pytest.fixture()
def fs_catalog(tmp_path):
    return FileSystemCatalog(str(tmp_path / "warehouse"))


def _attach_deletion_vector(t: Table, data_path: str, positions, tmp_path):
    """Fabricate the commit a v3 writer would produce: a puffin DV file,
    a delete manifest pointing at it, a new manifest list and snapshot.
    (Our own writer is v2-only by design — commits to v3 tables are
    refused — so the test builds the metadata by hand.)"""
    dv_path = str(tmp_path / "deletes.puffin")
    meta = BlobMetadata(
        type="deletion-vector-v1", fields=[], snapshot_id=99, sequence_number=2
    )
    write_puffin(dv_path, [(meta, serialize_deletion_vector(positions))])
    assert read_deletion_vector(dv_path, meta.offset, meta.length).tolist() == sorted(
        positions
    )

    dv_file = DataFile(
        file_path=dv_path,
        file_format="PUFFIN",
        content=DataFileContent.POSITION_DELETES,
        record_count=len(positions),
        file_size_in_bytes=meta.length,
        referenced_data_file=data_path,
        content_offset=meta.offset,
        content_size_in_bytes=meta.length,
    )
    entry = ManifestEntry(
        status=ManifestEntryStatus.ADDED,
        snapshot_id=99,
        sequence_number=2,
        file_sequence_number=2,
        data_file=dv_file,
    )
    dm_path = str(tmp_path / "dv-manifest.avro")
    mf = write_manifest(
        dm_path,
        t.metadata.default_spec(),
        t.schema(),
        99,
        [entry],
        content=ManifestContent.DELETES,
    )
    old = t.current_snapshot()
    ml_path = str(tmp_path / "dv-manifest-list.avro")
    write_manifest_list(ml_path, list(old.manifests()) + [mf])

    md = copy.deepcopy(t.metadata)
    snap = Snapshot(
        snapshot_id=99,
        sequence_number=2,
        timestamp_ms=int(time.time() * 1000),
        manifest_list=ml_path,
        summary=Summary("delete"),
        parent_snapshot_id=old.snapshot_id,
        schema_id=t.schema().schema_id,
    )
    md.snapshots.append(snap)
    md.current_snapshot_id = 99
    md.last_sequence_number = 2
    md.refs["main"] = SnapshotRef(99, "branch")
    md.snapshot_log.append(SnapshotLogEntry(99, snap.timestamp_ms))
    return Table(t.identifier, md, t.metadata_location, t.catalog)


def test_scan_applies_deletion_vector(fs_catalog, spark, sf_dir, tmp_path, monkeypatch):
    from iceberg_go_distributed_spark.datasets import load_table

    li = load_table(spark, sf_dir, "lineitem")
    t = fs_catalog.create_table("db.li_dv", LINEITEM_SCHEMA)
    t.append(li.coalesce(1))
    n0 = t.scan().to_df(spark).count()
    [task] = t.scan().plan_files()
    data_path = task.file.file_path

    # delete the first 5 and two mid-file row positions
    positions = [0, 1, 2, 3, 4, 100, 2_000]
    t2 = _attach_deletion_vector(t, data_path, positions, tmp_path)

    df = t2.scan().to_df(spark)
    assert df.count() == n0 - len(positions)

    # the exact rows at those file positions are gone (file order = row
    # position): the surviving l_extendedprice sum must equal the full
    # file minus the values at the deleted positions ((orderkey,
    # linenumber) is not unique in the synthetic data, so compare by
    # positional content, not keys)
    import pyarrow.parquet as pq

    prices = pq.read_table(data_path, columns=["l_extendedprice"])[
        "l_extendedprice"
    ].to_numpy(zero_copy_only=False)
    want = float(prices.sum() - prices[positions].sum())
    got = float(df.agg({"l_extendedprice": "sum"}).first()[0])
    assert abs(got - want) < 1e-4

    # time travel to the pre-delete snapshot still sees every row
    assert t2.scan(snapshot_id=t.current_snapshot().snapshot_id).to_df(
        spark
    ).count() == n0

    # the Arrow reroute (taken when the JVM frame build fails on paths
    # that are not local) returns exactly the JVM path's rows
    from iceberg_go_distributed_spark.iceberg import fileio
    from iceberg_go_distributed_spark.iceberg.table import _FRAME_MEMO, Scan

    jvm_rows = sorted(tuple(r) for r in df.collect())

    def jvm_fails(*_a, **_k):
        raise RuntimeError("no FileSystem for scheme")

    monkeypatch.setattr(Scan, "_read_jvm", jvm_fails)
    # the JVM frame above is memoized; the reroute needs a new build
    _FRAME_MEMO.clear()
    remote = {tk.file.file_path for tk in t2.scan().plan_files()}
    is_local = fileio.is_local
    monkeypatch.setattr(fileio, "is_local", lambda p: p not in remote and is_local(p))
    arrow_df = t2.scan().to_df(spark)
    assert "MapInArrow" in arrow_df._jdf.queryExecution().executedPlan().toString()
    assert sorted(tuple(r) for r in arrow_df.collect()) == jvm_rows
    assert len(jvm_rows) == n0 - len(positions)


def test_dv_only_deletes_its_referenced_file(fs_catalog, spark, sf_dir, tmp_path):
    """A DV names exactly one data file; rows at the same positions of
    OTHER files must survive."""
    from iceberg_go_distributed_spark.datasets import load_table

    li = load_table(spark, sf_dir, "lineitem")
    t = fs_catalog.create_table("db.li_dv2", LINEITEM_SCHEMA)
    t.append(li.where("l_orderkey % 2 = 0").coalesce(1))
    t.append(li.where("l_orderkey % 2 = 1").coalesce(1))
    tasks = t.scan().plan_files()
    assert len(tasks) == 2
    target = tasks[0].file
    n0 = t.scan().to_df(spark).count()

    positions = [0, 1, 2]
    t2 = _attach_deletion_vector(t, target.file_path, positions, tmp_path)
    # exactly 3 rows vanish, all from the targeted file
    assert t2.scan().to_df(spark).count() == n0 - 3


def test_distributed_planning_matches_local_with_dv(
    fs_catalog, spark, sf_dir, tmp_path, executor_plan
):
    """The executor leg must plan a DV table exactly as the driver does:
    data descriptors round-trip the codec, and the DVs (planned on the
    driver) keep their pointers and match by referenced_data_file."""
    from oracles import plan_fields

    from iceberg_go_distributed_spark.datasets import load_table

    li = load_table(spark, sf_dir, "lineitem")
    t = fs_catalog.create_table("db.li_dv3", LINEITEM_SCHEMA)
    t.append(li.where("l_orderkey % 2 = 0").coalesce(1))
    t.append(li.where("l_orderkey % 2 = 1").coalesce(1))
    tasks = t.scan().plan_files()
    t2 = _attach_deletion_vector(t, tasks[0].file.file_path, [0, 5, 9], tmp_path)

    local = t2.scan().plan_files()
    dist = executor_plan(t2.scan())
    assert plan_fields(dist) == plan_fields(local)

    def key(ts):
        return sorted(
            (
                x.file.file_path,
                tuple(
                    sorted(
                        (d.file_path, d.content_offset, d.referenced_data_file)
                        for d in x.delete_files
                    )
                ),
            )
            for x in ts
        )

    assert key(local) == key(dist)
    # and the DV actually survived the round trip with its pointer
    dv_dels = [d for x in dist for d in x.delete_files if d.content_offset is not None]
    assert dv_dels and dv_dels[0].content_size_in_bytes > 0


def test_roaring_roundtrip_property():
    """Property: serialize→deserialize is identity on arbitrary
    position sets, across container-type boundaries (array <= 4096 <
    bitmap) and 16/32-bit key splits."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=2**62 - 1),
            max_size=300,
        )
    )
    def check(positions):
        out = deserialize_portable64(serialize_portable64(positions))
        assert out.tolist() == sorted(set(positions))

    check()


def test_roaring_dense_boundary():
    """Exactly 4096 values (array max) and 4097 (first bitmap) in one
    container round-trip."""
    base = 7 << 16
    for n in (4096, 4097):
        vals = [base + i for i in range(n)]
        assert deserialize_portable64(serialize_portable64(vals)).tolist() == vals
