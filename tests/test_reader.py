"""The executor-side per-file reader (iceberg/reader.py), without Spark:
delete-position decoding against a plain-Python oracle, the one column
resolution rule, and read_file's projection + position drop."""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_go_distributed_spark.iceberg import reader
from iceberg_go_distributed_spark.iceberg.puffin import (
    BlobMetadata,
    serialize_deletion_vector,
    write_puffin,
)

DATA = "s3://bucket/db/t/data/f1.parquet"
OTHER = "s3://bucket/db/t/data/f2.parquet"


def _field(name, typ, fid=None):
    meta = {b"PARQUET:field_id": str(fid).encode()} if fid is not None else None
    return pa.field(name, typ, metadata=meta)


def _dv(tmp_path, name, positions):
    path = str(tmp_path / name)
    meta = BlobMetadata(
        type="deletion-vector-v1", fields=[], snapshot_id=1, sequence_number=1
    )
    write_puffin(path, [(meta, serialize_deletion_vector(positions))])
    return {"path": path, "dv": [meta.offset, meta.length]}


def _pos_file(tmp_path, name, rows):
    path = str(tmp_path / name)
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([p for p, _ in rows], pa.string()),
                "pos": pa.array([n for _, n in rows], pa.int64()),
            }
        ),
        path,
    )
    return {"path": path, "dv": None}


def _oracle(data_path, dels, dv_positions, pos_rows):
    """Plain-Python expectation: every DV position, plus every v2 row
    whose scheme-stripped file_path equals the data file's."""
    strip = lambda p: re.sub(r"^[a-z0-9]+:(//)?", "", p)  # noqa: E731
    out = set()
    for d in dels:
        if d["dv"] is not None:
            out.update(dv_positions[d["path"]])
        else:
            out.update(n for p, n in pos_rows[d["path"]] if strip(p) == strip(data_path))
    return sorted(out)


def _check(data_path, dels, dv_positions=None, pos_rows=None):
    got = reader.delete_positions(data_path, dels)
    assert got.dtype == "int64"
    assert got.tolist() == _oracle(data_path, dels, dv_positions or {}, pos_rows or {})
    return got.tolist()


def test_delete_positions_no_deletes():
    assert _check(DATA, []) == []


def test_delete_positions_dv_only(tmp_path):
    positions = [0, 3, 4, 1000, 70_000]
    d = _dv(tmp_path, "a.puffin", positions)
    assert _check(DATA, [d], {d["path"]: positions}) == positions


def test_delete_positions_v2_file_holding_other_files_rows(tmp_path):
    rows = [(DATA, 5), (OTHER, 1), (DATA, 2), (OTHER, 5), (DATA, 5)]
    d = _pos_file(tmp_path, "p.parquet", rows)
    assert _check(DATA, [d], pos_rows={d["path"]: rows}) == [2, 5]
    assert _check(OTHER, [d], pos_rows={d["path"]: rows}) == [1, 5]


def test_delete_positions_v2_file_under_another_scheme(tmp_path):
    # the writer recorded s3a://, the manifest names s3:// — and a
    # local file:// path against a bare one
    rows = [("s3a://bucket/db/t/data/f1.parquet", 7), ("file:///x/f.parquet", 9)]
    d = _pos_file(tmp_path, "p.parquet", rows)
    assert _check(DATA, [d], pos_rows={d["path"]: rows}) == [7]
    assert _check("/x/f.parquet", [d], pos_rows={d["path"]: rows}) == [9]


def test_delete_positions_empty_positional_file(tmp_path):
    d = _pos_file(tmp_path, "empty.parquet", [])
    assert _check(DATA, [d], pos_rows={d["path"]: []}) == []


def test_delete_positions_union_of_dv_and_v2(tmp_path):
    dv = _dv(tmp_path, "a.puffin", [1, 2, 3])
    rows = [(DATA, 3), (DATA, 8), (OTHER, 2)]
    pos = _pos_file(tmp_path, "p.parquet", rows)
    got = _check(DATA, [dv, pos], {dv["path"]: [1, 2, 3]}, {pos["path"]: rows})
    assert got == [1, 2, 3, 8]


FIELDS = [
    (1, "id", pa.int64(), None),
    (2, "label", pa.string(), None),
    (3, "added", pa.int32(), None),
]


def test_resolve_by_field_id_ignores_names():
    # ids present: strictly by id — a physical column named like a
    # CURRENT field but carrying another id never resolves to it
    schema = pa.schema(
        [
            _field("id", pa.int64(), 1),
            _field("old_label", pa.string(), 2),
            _field("added", pa.int32(), 9),
        ]
    )
    assert reader.field_ids(schema) == {1: "id", 2: "old_label", 9: "added"}
    assert reader.resolve(schema, FIELDS, {3: ["added"]}) == {
        1: "id",
        2: "old_label",
        3: None,
    }


def test_resolve_id_less_file_through_name_mapping():
    schema = pa.schema([_field("ident", pa.int64()), _field("label", pa.string())])
    assert reader.field_ids(schema) == {}
    mapped = {1: ["id", "ident"], 2: ["lbl"]}
    # first mapped name present wins; otherwise the current name
    assert reader.resolve(schema, FIELDS, mapped) == {
        1: "ident",
        2: "label",
        3: None,
    }


def test_resolve_id_less_file_without_mapping():
    schema = pa.schema([_field("id", pa.int64()), _field("lbl", pa.string())])
    assert reader.resolve(schema, FIELDS, {}) == {1: "id", 2: None, 3: None}


def test_read_file_projects_and_drops_positions(tmp_path):
    """A file written before a rename (label was `lbl`), an int→long
    promotion and an added defaulted column: read_file returns current
    names, table types, the default, and no deleted positions."""
    path = str(tmp_path / "f.parquet")
    pq.write_table(
        pa.table(
            [pa.array([10, 11, 12, 13], pa.int32()), pa.array(["a", "b", "c", "d"])],
            schema=pa.schema([_field("id", pa.int32(), 1), _field("lbl", pa.string(), 2)]),
        ),
        path,
    )
    fields = [
        (1, "id", pa.int64(), None),
        (2, "label", pa.string(), None),
        (3, "since", pa.date32(), "2021-01-01"),
        (4, "note", pa.string(), None),
    ]
    out = reader.read_file(path, fields, {}, drop=reader.delete_positions(path, []))
    assert out.schema.names == ["id", "label", "since", "note"]
    assert out.schema.field("id").type == pa.int64()
    assert out.column("since").to_pylist()[0].isoformat() == "2021-01-01"
    assert out.column("note").null_count == 4

    dv = _dv(tmp_path, "d.puffin", [0, 2])
    out = reader.read_file(path, fields, {}, drop=reader.delete_positions(path, [dv]))
    assert out.column("id").to_pylist() == [11, 13]
    assert out.column("label").to_pylist() == ["b", "d"]


def test_project_fills_batches_without_source():
    out = reader.project(None, FIELDS[2:], {3: None}, 3)
    assert isinstance(out, pa.RecordBatch) and out.num_rows == 3
    with pytest.raises((pa.ArrowInvalid, TypeError)):
        reader.project(None, [(1, "x", pa.int32(), "not-an-int")], {1: None}, 1)
