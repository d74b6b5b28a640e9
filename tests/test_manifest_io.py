"""Avro OCF + manifest/manifest-list round-trips (the wire-format layer
the reference exercises in manifest_test.go via hand-built Avro)."""

from __future__ import annotations

import io

import pytest

from iceberg_go_distributed_spark.iceberg import avro as A
from iceberg_go_distributed_spark.iceberg import types as ty
from iceberg_go_distributed_spark.iceberg.conversions import from_bytes, to_bytes
from iceberg_go_distributed_spark.iceberg.manifest import (
    DataFile,
    FieldSummary,
    ManifestEntry,
    ManifestEntryStatus,
    ManifestFile,
    read_manifest,
    read_manifest_list,
    write_manifest,
    write_manifest_list,
)
from iceberg_go_distributed_spark.iceberg.partitioning import spec_from
from iceberg_go_distributed_spark.iceberg.types import Schema, NestedField


def test_avro_datum_roundtrip():
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"]},
            {"name": "c", "type": {"type": "array", "items": "int"}},
            {"name": "d", "type": ["null", {"type": "map", "values": "long"}]},
            {"name": "e", "type": "bytes"},
            {"name": "f", "type": "double"},
            {"name": "g", "type": "boolean"},
        ],
    }
    recs = [
        {"a": -1, "b": None, "c": [1, 2, 3], "d": {"x": 9}, "e": b"\x00\xff", "f": 1.5, "g": True},
        {"a": 1 << 40, "b": "héllo", "c": [], "d": None, "e": b"", "f": -0.0, "g": False},
    ]
    buf = io.BytesIO()
    A.write_ocf(buf, schema, recs, codec="deflate")
    buf.seek(0)
    got_schema, meta, got = A.read_ocf(buf)
    assert got == recs
    assert got_schema == schema


def test_avro_zigzag_longs():
    for v in (0, -1, 1, 63, -64, 64, (1 << 62), -(1 << 62)):
        out = io.BytesIO()
        A._write_long(out, v)
        out.seek(0)
        assert A._read_long(out) == v


SCHEMA = Schema.of(
    0,
    NestedField(1, "id", ty.LongType(), required=True),
    NestedField(2, "category", ty.StringType()),
    NestedField(3, "ts", ty.TimestampType()),
)


def test_manifest_roundtrip(tmp_path):
    spec = spec_from(SCHEMA, ("category", "identity"), ("id", "bucket[16]"))
    df = DataFile(
        file_path="/data/x.parquet",
        partition={"category": "a", "id_bucket": 3},
        record_count=100,
        file_size_in_bytes=2048,
        value_counts={1: 100, 2: 100},
        null_value_counts={1: 0, 2: 5},
        lower_bounds={1: to_bytes(ty.LongType(), 7)},
        upper_bounds={1: to_bytes(ty.LongType(), 99)},
        split_offsets=[4],
    )
    entry = ManifestEntry(ManifestEntryStatus.ADDED, 123, 456, 456, df)
    path = str(tmp_path / "m1.avro")
    mf = write_manifest(path, spec, SCHEMA, 123, [entry])

    assert mf.added_files_count == 1
    assert mf.added_rows_count == 100
    assert mf.sequence_number == 456 and mf.min_sequence_number == 456
    # summaries: identity(category) bounds a..a; bucket bounds 3..3
    assert from_bytes(ty.StringType(), mf.partitions[0].lower_bound) == "a"
    assert from_bytes(ty.IntegerType(), mf.partitions[1].upper_bound) == 3
    assert mf.partitions[0].contains_null is False

    got = read_manifest(path)
    assert len(got) == 1
    g = got[0]
    assert g.status == ManifestEntryStatus.ADDED
    assert g.snapshot_id == 123
    assert g.data_file.file_path == df.file_path
    assert g.data_file.partition == {"category": "a", "id_bucket": 3}
    assert g.data_file.value_counts == {1: 100, 2: 100}
    assert from_bytes(ty.LongType(), g.data_file.lower_bounds[1]) == 7
    assert g.data_file.split_offsets == [4]


def test_manifest_list_roundtrip(tmp_path):
    mf = ManifestFile(
        manifest_path="/meta/m1.avro",
        manifest_length=1234,
        partition_spec_id=0,
        sequence_number=5,
        min_sequence_number=5,
        added_snapshot_id=777,
        added_files_count=2,
        added_rows_count=200,
        partitions=[FieldSummary(False, None, b"a", b"z")],
    )
    path = str(tmp_path / "snap-777.avro")
    write_manifest_list(path, [mf])
    got = read_manifest_list(path)
    assert len(got) == 1
    assert got[0].manifest_path == mf.manifest_path
    assert got[0].added_snapshot_id == 777
    assert got[0].partitions[0].lower_bound == b"a"
    assert got[0].content == mf.content


def test_truncated_avro_fails_loudly(tmp_path):
    """Short reads on fixed/float/bytes payloads must raise EOFError,
    never silently decode short values — mirrors write-side validation."""
    import io
    import struct

    from oracles import read_datum

    from iceberg_go_distributed_spark.iceberg.avro import compile_block_reader, write_datum

    def both_fail(data, schema):
        with pytest.raises(EOFError):
            read_datum(io.BytesIO(data), schema)
        with pytest.raises(EOFError):
            compile_block_reader(schema)(data, 0, 1, [].append)

    # fixed
    fixed8 = {"type": "fixed", "name": "f8", "size": 8}
    buf = io.BytesIO()
    write_datum(buf, fixed8, b"12345678")
    both_fail(buf.getvalue()[:5], fixed8)
    # bytes with a length prefix longer than the payload
    buf2 = io.BytesIO()
    write_datum(buf2, "bytes", b"abcdef")
    both_fail(buf2.getvalue()[:4], "bytes")
    # double truncated mid-value
    both_fail(struct.pack("<d", 1.5)[:3], "double")
    # truncated manifest file body
    spec = spec_from(SCHEMA)
    path = str(tmp_path / "trunc.avro")
    write_manifest(
        path, spec, SCHEMA, 1,
        [ManifestEntry(ManifestEntryStatus.ADDED, 1, 1, 1,
                       DataFile(file_path="/d/x.parquet", record_count=1))],
    )
    whole = open(path, "rb").read()
    bad = str(tmp_path / "bad.avro")
    with open(bad, "wb") as f:
        f.write(whole[: len(whole) - 7])
    with pytest.raises((EOFError, ValueError)):  # sync-marker / short-read
        read_manifest(bad)


def test_deleted_entries_discarded(tmp_path):
    spec = spec_from(SCHEMA)  # unpartitioned
    mk = lambda st: ManifestEntry(
        st, 1, 1, 1, DataFile(file_path=f"/d/{st}.parquet", record_count=1)
    )
    path = str(tmp_path / "m2.avro")
    write_manifest(
        path, spec, SCHEMA, 1,
        [mk(ManifestEntryStatus.ADDED), mk(ManifestEntryStatus.DELETED)],
    )
    assert len(read_manifest(path, discard_deleted=True)) == 1
    assert len(read_manifest(path, discard_deleted=False)) == 2


def test_v3_deletion_vector_fields_parse():
    """v3 manifests carry DV pointers on delete entries (ref
    manifest.go:1792-1793); the reader must surface them so the scan
    can refuse loudly instead of misreading puffin as parquet."""
    from iceberg_go_distributed_spark.iceberg.manifest import _entry_from_avro

    rec = {
        "status": 1,
        "snapshot_id": 7,
        "sequence_number": 3,
        "file_sequence_number": 3,
        "data_file": {
            "content": 1,
            "file_path": "s3://b/deletes/dv.puffin",
            "file_format": "PUFFIN",
            "partition": {},
            "record_count": 10,
            "file_size_in_bytes": 128,
            "referenced_data_file": "s3://b/data/f1.parquet",
            "content_offset": 4,
            "content_size_in_bytes": 64,
        },
    }
    e = _entry_from_avro(rec)
    df = e.data_file
    assert df.referenced_data_file == "s3://b/data/f1.parquet"
    assert df.content_offset == 4
    assert df.content_size_in_bytes == 64


def test_v3_manifest_list_first_row_id_parses(tmp_path):
    """A v3 manifest list (written elsewhere) carries first_row_id
    (avro field id 520, ref manifest.go:1481-1485); the reader must
    surface it."""
    import copy

    from iceberg_go_distributed_spark.iceberg import avro as avro_io
    from iceberg_go_distributed_spark.iceberg.manifest import (
        MANIFEST_LIST_V2_SCHEMA,
        _f,
        _nullable,
        read_manifest_list,
    )

    v3_schema = copy.deepcopy(MANIFEST_LIST_V2_SCHEMA)
    v3_schema["fields"].append(_f("first_row_id", _nullable("long"), 520, None))
    rec = {
        "manifest_path": "m1.avro",
        "manifest_length": 100,
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": 1,
        "min_sequence_number": 1,
        "added_snapshot_id": 7,
        "added_files_count": 1,
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "partitions": None,
        "added_rows_count": 500,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
        "key_metadata": None,
        "first_row_id": 12345,
    }
    path = str(tmp_path / "ml-v3.avro")
    avro_io.write_ocf(path, v3_schema, [rec])
    [mf] = read_manifest_list(path)
    assert mf.first_row_id == 12345
    assert mf.added_rows_count == 500


def test_first_row_id_inheritance_skips_explicit_and_deleted(tmp_path):
    """v3 row-lineage assignment on read: only LIVE data files with a
    null first_row_id consume from the manifest's id range. EXISTING
    entries carrying a materialized first_row_id (e.g. a merge-append
    written by another engine) and DELETED entries must not advance the
    running id (spec assignment rule; ADVICE r5, medium)."""
    spec = spec_from(SCHEMA)
    mk = lambda st, path, n, frid: ManifestEntry(
        st, 1, 1, 1,
        DataFile(file_path=path, record_count=n, first_row_id=frid),
    )
    entries = [
        mk(ManifestEntryStatus.EXISTING, "/d/a.parquet", 100, 5000),  # explicit
        mk(ManifestEntryStatus.ADDED, "/d/b.parquet", 10, None),      # assign
        mk(ManifestEntryStatus.DELETED, "/d/c.parquet", 7, None),     # skip
        mk(ManifestEntryStatus.ADDED, "/d/d.parquet", 20, None),      # assign
    ]
    path = str(tmp_path / "mixed.avro")
    write_manifest(path, spec, SCHEMA, 1, entries)

    got = read_manifest(path, discard_deleted=False, inherit_first_row_id=900)
    by_path = {e.data_file.file_path: e.data_file.first_row_id for e in got}
    assert by_path["/d/a.parquet"] == 5000  # untouched
    assert by_path["/d/b.parquet"] == 900   # first assigned
    assert by_path["/d/c.parquet"] is None  # deleted: never assigned
    assert by_path["/d/d.parquet"] == 910   # advanced by b's 10 only


def test_ocf_cache_eviction_thread_safe(tmp_path, monkeypatch):
    """The local planner reads manifests from a thread pool
    (table.py plan_files); with the cache at capacity, concurrent
    evictions used to race on pop(next(iter(...))) and die with
    KeyError mid-plan (caught live by a bench run)."""
    import threading

    from iceberg_go_distributed_spark.iceberg import manifest as M

    spec = spec_from(SCHEMA)
    paths = []
    for i in range(24):
        p = str(tmp_path / f"m{i}.avro")
        write_manifest(
            p, spec, SCHEMA, 1,
            [ManifestEntry(
                ManifestEntryStatus.ADDED, 1, 1, 1,
                DataFile(file_path=f"/d/{i}.parquet", record_count=1),
            )],
        )
        paths.append(p)

    monkeypatch.setattr(M, "_OCF_CACHE_MAX", 2)
    monkeypatch.setattr(M, "_OCF_CACHE", {})
    errors = []

    def worker(seed):
        try:
            for j in range(200):
                read_manifest(paths[(seed * 7 + j) % len(paths)])
        except Exception as exc:  # pragma: no cover - the regression
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert len(M._OCF_CACHE) <= 2


# ------------------------- fused entry decoder (r14 optimization round)

def _rich_entries():
    """Entries exercising every DataFile field the fused schema→entry
    reader decodes: stats maps with null branches, DV pointers +
    lineage (forces the v3 writer fields), key_metadata, equality ids."""
    d1 = DataFile(
        file_path="/data/a.parquet",
        partition={"category": "a", "id_bucket": 3},
        record_count=100,
        file_size_in_bytes=2048,
        column_sizes={1: 10, 2: 20},
        value_counts={1: 100, 2: 100},
        null_value_counts={1: 0, 2: 5},
        nan_value_counts={3: 2},
        lower_bounds={1: to_bytes(ty.LongType(), 7)},
        upper_bounds={1: to_bytes(ty.LongType(), 99)},
        key_metadata=b"\x01\x02",
        split_offsets=[4, 4096],
        equality_ids=[1],
        sort_order_id=2,
        first_row_id=1000,
    )
    d2 = DataFile(
        file_path="/deletes/dv.puffin",
        file_format="PUFFIN",
        partition={"category": None, "id_bucket": None},
        record_count=10,
        file_size_in_bytes=128,
        content=2,  # DataFileContent.EQUALITY_DELETES via int
        referenced_data_file="/data/a.parquet",
        content_offset=4,
        content_size_in_bytes=64,
    )
    from iceberg_go_distributed_spark.iceberg.manifest import DataFileContent

    d2.content = DataFileContent.EQUALITY_DELETES
    return [
        ManifestEntry(ManifestEntryStatus.ADDED, 123, 456, 456, d1),
        ManifestEntry(ManifestEntryStatus.EXISTING, 122, 455, 455, d2),
    ]


def test_fused_entry_reader_parity(tmp_path):
    """The fused schema→ManifestEntry reader must produce entries EQUAL
    to the generic dict-model + _entry_from_avro path on a manifest
    exercising null/non-null stats maps, DV and lineage fields."""
    from iceberg_go_distributed_spark.iceberg.manifest import (
        _entry_from_avro,
        _entry_reader_factory,
    )

    spec = spec_from(SCHEMA, ("category", "identity"), ("id", "bucket[16]"))
    path = str(tmp_path / "rich.avro")
    write_manifest(path, spec, SCHEMA, 123, _rich_entries())

    _, _, generic = A.read_ocf(path)
    expected = [_entry_from_avro(r) for r in generic]
    _, _, fused = A.read_ocf(path, record_reader_factory=_entry_reader_factory)
    assert fused and isinstance(fused[0], ManifestEntry), "fused reader must engage"
    assert fused == expected
    # and the public read path returns the same entries
    assert read_manifest(path, discard_deleted=False) == expected


def test_fused_entry_reader_rejects_unknown_shapes():
    """Schemas off the known manifest_entry shape must compile to None
    so read_ocf falls back to the generic reader (semantic safety)."""
    from iceberg_go_distributed_spark.iceberg.manifest import (
        _compile_entry_reader,
        _compile_kv_map_reader,
    )

    assert _compile_entry_reader({"type": "record", "name": "other", "fields": []}) is None
    assert (
        _compile_entry_reader(
            {
                "type": "record",
                "name": "manifest_entry",
                "fields": [{"name": "mystery", "type": "long"}],
            }
        )
        is None
    )
    # string-keyed avro map is NOT the Iceberg k_v encoding
    assert _compile_kv_map_reader({"type": "map", "values": "long"}) is None
    # k_v record with swapped field order must be rejected
    assert (
        _compile_kv_map_reader(
            {
                "type": "array",
                "items": {
                    "type": "record",
                    "name": "kv",
                    "fields": [
                        {"name": "value", "type": "long"},
                        {"name": "key", "type": "int"},
                    ],
                },
            }
        )
        is None
    )


def test_ocf_cache_entry_count_bound(tmp_path, monkeypatch):
    """The manifest cache evicts by TOTAL ENTRIES: with a 3-entry
    budget, two 2-entry manifests cannot coexist."""
    import iceberg_go_distributed_spark.iceberg.manifest as M

    spec = spec_from(SCHEMA, ("category", "identity"), ("id", "bucket[16]"))
    paths = []
    for i in range(3):
        p = str(tmp_path / f"m{i}.avro")
        write_manifest(p, spec, SCHEMA, 1, _rich_entries())
        paths.append(p)

    monkeypatch.setattr(M, "_OCF_CACHE", {})
    monkeypatch.setattr(M, "_OCF_CACHE_ENTRY_COUNT", 0)
    monkeypatch.setattr(M, "_OCF_CACHE_MAX_ENTRIES", 3)
    first = read_manifest(paths[0], discard_deleted=False)
    for p in paths[1:]:
        read_manifest(p, discard_deleted=False)
        assert len(M._OCF_CACHE) == 1, "2+2 entries exceed the 3-entry budget"
        assert M._OCF_CACHE_ENTRY_COUNT == 2
    # reads stay correct through eviction
    assert read_manifest(paths[0], discard_deleted=False) == first


def test_scan_manifest_matches_filtered_read(tmp_path, monkeypatch):
    """scan_manifest(keep) must equal read_manifest() followed by the
    same per-entry verdicts — including the first_row_id assignment
    rule: non-kept live DATA files still consume from the manifest's
    row-id range, so survivors' assigned ids must be identical whichever
    path ran. Checked on a freshly decoded column block (survivors
    decoded from their offsets) and on a block holding prototypes."""
    import numpy as np

    import iceberg_go_distributed_spark.iceberg.manifest as M
    from iceberg_go_distributed_spark.iceberg.manifest import (
        ManifestEntryStatus,
        read_manifest,
        scan_manifest,
    )

    spec = spec_from(SCHEMA, ("category", "identity"), ("id", "bucket[16]"))
    entries = _rich_entries()
    # add a DELETED entry and extra ADDED data entries so the row-id
    # accounting has non-kept and non-consuming participants
    import copy

    d3 = copy.deepcopy(entries[0])
    d3.status = ManifestEntryStatus.DELETED
    d3.data_file.file_path = "/data/deleted.parquet"
    d3.data_file.first_row_id = None
    d4 = copy.deepcopy(entries[0])
    d4.data_file.file_path = "/data/b.parquet"
    d4.data_file.first_row_id = None
    d4.data_file.record_count = 7
    d5 = copy.deepcopy(entries[0])
    d5.data_file.file_path = "/data/c.parquet"
    d5.data_file.first_row_id = None
    d5.data_file.record_count = 11
    entries = entries + [d3, d4, d5]
    path = str(tmp_path / "scan.avro")
    write_manifest(path, spec, SCHEMA, 123, entries)

    monkeypatch.setattr(M, "_OCF_CACHE", {})
    monkeypatch.setattr(M, "_OCF_CACHE_ENTRY_COUNT", 0)
    for keep_fn in (
        lambda b: np.ones(len(b), bool),
        lambda b: np.zeros(len(b), bool),
        lambda b: np.arange(len(b)) == len(b) - 1,
        lambda b: b.record_count > 8,
    ):
        for seq, frid in ((None, None), (9, None), (None, 1000), (9, 1000)):
            M._OCF_CACHE.clear()
            M._OCF_CACHE_ENTRY_COUNT = 0
            fresh = scan_manifest(
                path, keep_fn, inherit_sequence_number=seq, inherit_first_row_id=frid
            )
            assert M._OCF_CACHE[path]._protos is None, "column block expected"
            everything = read_manifest(
                path,
                discard_deleted=False,
                inherit_sequence_number=seq,
                inherit_first_row_id=frid,
            )
            verdicts = keep_fn(M._OCF_CACHE[path]).tolist()
            expected = [
                e
                for e, k in zip(everything, verdicts)
                if k and e.status != ManifestEntryStatus.DELETED
            ]
            assert fresh == expected, (seq, frid)
            # the block now holds prototypes: survivors are copies
            assert M._OCF_CACHE[path]._protos is not None
            again = scan_manifest(
                path, keep_fn, inherit_sequence_number=seq, inherit_first_row_id=frid
            )
            assert again == expected, (seq, frid)


def test_scan_manifest_rejects_a_verdict_count_mismatch(tmp_path):
    from iceberg_go_distributed_spark.iceberg.manifest import scan_manifest

    path = str(tmp_path / "one.avro")
    write_manifest(path, spec_from(SCHEMA), SCHEMA, 1, _rich_entries())
    with pytest.raises(ValueError):
        scan_manifest(path, lambda b: True)


def test_column_reader_matches_object_reader(tmp_path):
    """The column-mode entry reader must carry, per entry, exactly the
    object-mode reader's status, content, record count, first_row_id,
    partition and requested stats, and the offset each entry decodes
    from; field ids absent from every stats map read as None."""
    from iceberg_go_distributed_spark.iceberg.manifest import (
        _STATS_COLUMNS,
        _entry_reader_factory,
    )

    spec = spec_from(SCHEMA, ("category", "identity"), ("id", "bucket[16]"))
    path = str(tmp_path / "rich.avro")
    # keys of one, two and three varint bytes, and near-miss neighbours
    wide_keys = DataFile(
        file_path="/data/wide.parquet",
        partition={"category": "w", "id_bucket": 1},
        record_count=3,
        value_counts={63: 1, 64: 2, 65: 3, 8191: 4, 8192: 5},
        lower_bounds={64: b"lo64", 8192: b"lo8192"},
        upper_bounds={8191: b"hi8191"},
    )
    entries = _rich_entries() + [
        ManifestEntry(ManifestEntryStatus.ADDED, 1, 2, 2, wide_keys)
    ]
    write_manifest(path, spec, SCHEMA, 123, entries)
    _, _, objects = A.read_ocf(path, record_reader_factory=_entry_reader_factory)
    schema, meta, _ = A.read_ocf(path)
    decode = _entry_reader_factory(schema, meta["avro.schema"])
    for ids in ((), (1,), (1, 2, 3, 99), (64, 8192), (63, 8191, 65)):
        _, _, rows = A.read_ocf(
            path,
            record_reader_factory=lambda s, raw: _entry_reader_factory(s, raw, ids),
        )
        assert len(rows) == len(objects)
        for row, e in zip(rows, objects):
            payload, offset, status, content, rc, frid, part, *stats = row
            f = e.data_file
            assert (status, content, rc, frid) == (
                e.status, f.content, f.record_count, f.first_row_id
            )
            assert dict(part) == f.partition
            assert stats == [
                (getattr(f, c) or {}).get(fid) for fid in ids for c in _STATS_COLUMNS
            ]
            one = []
            decode(payload, offset, 1, one.append)
            assert one == [e]


def test_entry_readers_walk_exactly_and_fail_loudly_when_truncated():
    """Both reader modes must consume a block to its last byte, and
    every truncated prefix of it must raise, never decode short: the
    column mode skips most fields without building them, with the same
    bounds checks."""
    import json

    from iceberg_go_distributed_spark.iceberg.manifest import (
        _entry_reader_factory,
        _entry_to_avro,
        manifest_entry_schema,
    )

    spec = spec_from(SCHEMA, ("category", "identity"), ("id", "bucket[16]"))
    schema = manifest_entry_schema(spec, SCHEMA, dv_fields=True, lineage_fields=True)
    entries = _rich_entries()
    buf = io.BytesIO()
    for e in entries:
        A.write_datum(buf, schema, _entry_to_avro(e, spec))
    payload = buf.getvalue()
    raw = json.dumps(schema).encode()
    for ids in (None, (), (1, 2, 3)):
        read = _entry_reader_factory(schema, raw, ids)
        out = []
        assert read(payload, 0, len(entries), out.append) == len(payload)
        assert len(out) == len(entries)
        for k in range(len(payload)):
            with pytest.raises((EOFError, IndexError)):
                read(payload[:k], 0, len(entries), [].append)


def test_oversized_manifest_is_returned_uncached_and_evicts_nothing(
    tmp_path, monkeypatch
):
    """A manifest with more entries than the whole cache budget used to
    evict every resident manifest and then not be cached itself."""
    import iceberg_go_distributed_spark.iceberg.manifest as M

    spec = spec_from(SCHEMA)

    def manifest(name, n):
        p = str(tmp_path / name)
        write_manifest(
            p, spec, SCHEMA, 1,
            [
                ManifestEntry(
                    ManifestEntryStatus.ADDED, 1, 1, 1,
                    DataFile(file_path=f"/d/{name}-{i}.parquet", record_count=1),
                )
                for i in range(n)
            ],
        )
        return p

    small = [manifest(f"s{i}.avro", 250) for i in range(4)]
    big = manifest("big.avro", 4000)
    monkeypatch.setattr(M, "_OCF_CACHE", {})
    monkeypatch.setattr(M, "_OCF_CACHE_ENTRY_COUNT", 0)
    monkeypatch.setattr(M, "_OCF_CACHE_MAX_ENTRIES", 3000)
    for p in small:
        read_manifest(p)
    assert len(read_manifest(big)) == 4000
    assert all(M.is_resident(p) for p in small)
    assert not M.is_resident(big)
    assert M._OCF_CACHE_ENTRY_COUNT == 1000


def test_fixed_size_from_header_is_never_executed(tmp_path):
    """A `fixed` size is copied from the file header into generated
    decoder source: an expression there must fail loudly at compile time
    and run nothing."""
    marker = tmp_path / "ran"
    size = f"0 if __import__('pathlib').Path({str(marker)!r}).touch() else 0"
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "x", "type": {"type": "fixed", "name": "f", "size": size}}],
    }
    path = str(tmp_path / "crafted.avro")
    A.write_ocf(path, schema, [], codec="null")
    with open(path, "rb") as f:
        sync = f.read()[-A.SYNC_SIZE :]
    block = io.BytesIO()
    A._write_long(block, 1)  # one record
    A._write_long(block, 0)  # of zero payload bytes
    with open(path, "ab") as f:
        f.write(block.getvalue() + sync)
    with pytest.raises(ValueError):
        A.read_ocf(path)
    assert not marker.exists()
    for bad in (-1, "-3"):
        schema["fields"][0]["type"]["size"] = bad
        with pytest.raises(ValueError, match="negative avro fixed size"):
            A.compile_block_reader(schema)


def test_negative_map_key_length_raises_instead_of_spinning():
    """A negative map-key length moves the decode cursor backwards; the
    payload below (one item whose key length -2 rewinds to the block
    count) loops forever unless the length is rejected."""

    class Budgeted(bytes):
        reads = 0

        def __getitem__(self, i):
            type(self).reads += 1
            if type(self).reads > 10_000:
                raise RuntimeError("decoder is spinning")
            return super().__getitem__(i)

    read_block = A.compile_block_reader({"type": "map", "values": "null"})
    with pytest.raises(ValueError, match="negative avro bytes length -2"):
        read_block(Budgeted(b"\x02\x03"), 0, 1, [].append)
