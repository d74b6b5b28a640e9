"""Manifest files + manifest lists: structures and Avro I/O.

Wire format follows the reference's internal/avro_schemas.go (v2):
field names, field-id props, and the nullable-union shapes are kept so
files we write are spec-conformant and readable by other Iceberg
implementations (ref manifest.go:798 ReadManifestList, :1521
WriteManifestList, :1041 ManifestWriter, :1137
NewManifestWriterForSnapshot used by distributed-snapshot workers).
"""

from __future__ import annotations

import io
import os
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace
from enum import IntEnum
from typing import Any, Iterable, Optional

import numpy as np

from . import avro as avro_io
from .partitioning import PartitionSpec
from .types import (
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FixedType,
    FloatType,
    IcebergType,
    IntegerType,
    LongType,
    Schema,
    StringType,
    TimestampType,
    TimestampTzType,
    TimeType,
    UUIDType,
)


class ManifestEntryStatus(IntEnum):
    """ref manifest.go:1587-1596."""

    EXISTING = 0
    ADDED = 1
    DELETED = 2


class ManifestContent(IntEnum):
    """ref manifest.go:1598."""

    DATA = 0
    DELETES = 1


class DataFileContent(IntEnum):
    DATA = 0
    POSITION_DELETES = 1
    EQUALITY_DELETES = 2


@dataclass
class FieldSummary:
    """Per-partition-field summary — ref manifest.go:889 (avro r508)."""

    contains_null: bool = False
    contains_nan: Optional[bool] = None
    lower_bound: Optional[bytes] = None
    upper_bound: Optional[bytes] = None

    def to_avro(self) -> dict:
        return {
            "contains_null": self.contains_null,
            "contains_nan": self.contains_nan,
            "lower_bound": self.lower_bound,
            "upper_bound": self.upper_bound,
        }

    @staticmethod
    def from_avro(obj: dict) -> "FieldSummary":
        return FieldSummary(
            contains_null=obj.get("contains_null", False),
            contains_nan=obj.get("contains_nan"),
            lower_bound=obj.get("lower_bound"),
            upper_bound=obj.get("upper_bound"),
        )


@dataclass
class DataFile:
    """ref manifest.go:2299 (DataFile interface) / avro record r2."""

    file_path: str
    file_format: str = "PARQUET"
    partition: dict[str, Any] = field(default_factory=dict)
    record_count: int = 0
    file_size_in_bytes: int = 0
    content: DataFileContent = DataFileContent.DATA
    column_sizes: Optional[dict[int, int]] = None
    value_counts: Optional[dict[int, int]] = None
    null_value_counts: Optional[dict[int, int]] = None
    nan_value_counts: Optional[dict[int, int]] = None
    lower_bounds: Optional[dict[int, bytes]] = None
    upper_bounds: Optional[dict[int, bytes]] = None
    key_metadata: Optional[bytes] = None
    split_offsets: Optional[list[int]] = None
    equality_ids: Optional[list[int]] = None
    sort_order_id: Optional[int] = None
    # v3 row lineage: first row ID of this data file (avro id 142) —
    # ref manifest.go:1791,2360-2361. Parse-and-preserve only.
    first_row_id: Optional[int] = None
    # v3 deletion-vector fields — ref manifest.go:1792-1793,2364-2365.
    # Parsed and preserved on read so v3 manifests round-trip; this
    # writer never emits them (positional deletes are written as v2
    # delete files, not DVs).
    referenced_data_file: Optional[str] = None
    content_offset: Optional[int] = None
    content_size_in_bytes: Optional[int] = None

    @property
    def distinct_value_counts(self):  # parsed, never populated by writers
        return None


@dataclass
class ManifestEntry:
    """ref manifest.go manifest_entry_v2."""

    status: ManifestEntryStatus
    snapshot_id: Optional[int]
    sequence_number: Optional[int]
    file_sequence_number: Optional[int]
    data_file: DataFile


@dataclass
class ManifestFile:
    """One row of a manifest list — ref manifest.go:474 / manifest_file."""

    manifest_path: str
    manifest_length: int
    partition_spec_id: int
    content: ManifestContent = ManifestContent.DATA
    sequence_number: int = 0
    min_sequence_number: int = 0
    added_snapshot_id: int = 0
    added_files_count: int = 0
    existing_files_count: int = 0
    deleted_files_count: int = 0
    added_rows_count: int = 0
    existing_rows_count: int = 0
    deleted_rows_count: int = 0
    partitions: list[FieldSummary] = field(default_factory=list)
    key_metadata: Optional[bytes] = None
    # v3 row lineage: first row ID of this manifest's data files —
    # assigned by a v3 manifest-list writer (ref manifest.go:1481-1485,
    # avro field id 520). Parsed and preserved; never assigned by this
    # v2 writer.
    first_row_id: Optional[int] = None

    def has_added_files(self) -> bool:
        # -1 = unknown (a v1 list's null count): the reference treats
        # unknown as "has" — ref manifest.go:288 (nil || > 0)
        return self.added_files_count != 0

    def has_existing_files(self) -> bool:
        return self.existing_files_count != 0


# ------------------------------------------------------------ avro schemas

def _nullable(s: Any) -> list:
    return ["null", s]


def _fid(i: int) -> dict:
    return {"field-id": i}


def _f(name: str, typ: Any, fid: int, default: Any = "__none__") -> dict:
    out = {"name": name, "type": typ, "field-id": fid}
    if default != "__none__":
        out["default"] = default
    return out


def _int_keyed_map(name: str, value_type: str, kid: int, vid: int) -> dict:
    """Iceberg's k*_v* array-of-record encoding for int-keyed maps."""
    return {
        "type": "array",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                _f("key", "int", kid),
                _f("value", value_type, vid),
            ],
        },
        "logicalType": "map",
    }


FIELD_SUMMARY_SCHEMA = {
    "type": "record",
    "name": "r508",
    "fields": [
        _f("contains_null", "boolean", 509),
        _f("contains_nan", _nullable("boolean"), 518, None),
        _f("lower_bound", _nullable("bytes"), 510, None),
        _f("upper_bound", _nullable("bytes"), 511, None),
    ],
}

MANIFEST_LIST_V2_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        _f("manifest_path", "string", 500),
        _f("manifest_length", "long", 501),
        _f("partition_spec_id", "int", 502),
        _f("content", "int", 517, 0),
        _f("sequence_number", "long", 515, 0),
        _f("min_sequence_number", "long", 516, 0),
        _f("added_snapshot_id", "long", 503),
        _f("added_files_count", "int", 504),
        _f("existing_files_count", "int", 505),
        _f("deleted_files_count", "int", 506),
        _f(
            "partitions",
            _nullable({"type": "array", "items": FIELD_SUMMARY_SCHEMA, "element-id": 508}),
            507,
            None,
        ),
        _f("added_rows_count", "long", 512),
        _f("existing_rows_count", "long", 513),
        _f("deleted_rows_count", "long", 514),
        _f("key_metadata", _nullable("bytes"), 519, None),
    ],
}

# v3 manifest list = v2 + row-lineage assignment column (spec field 520)
# — ref internal/avro_schemas.go:497 / manifest.go:1478-1486
MANIFEST_LIST_V3_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": MANIFEST_LIST_V2_SCHEMA["fields"]
    + [_f("first_row_id", _nullable("long"), 520, None)],
}


def _avro_type_for(t: IcebergType) -> Any:
    """Partition-value avro types (subset used in partition tuples)."""
    if isinstance(t, BooleanType):
        return "boolean"
    if isinstance(t, (IntegerType, DateType)):
        return "int"
    if isinstance(t, (LongType, TimeType, TimestampType, TimestampTzType)):
        return "long"
    if isinstance(t, FloatType):
        return "float"
    if isinstance(t, DoubleType):
        return "double"
    if isinstance(t, StringType):
        return "string"
    if isinstance(t, UUIDType):
        return "string"
    if isinstance(t, (BinaryType, FixedType, DecimalType)):
        return "bytes"
    raise TypeError(f"no avro mapping for partition type {t}")


def partition_record_schema(spec: PartitionSpec, schema: Schema) -> dict:
    fields = []
    for pf in spec.fields:
        src = schema.find_field_by_id(pf.source_id)
        rt = pf.transform.result_type(src.field_type)
        fields.append(_f(pf.name, _nullable(_avro_type_for(rt)), pf.field_id, None))
    return {"type": "record", "name": "r102", "fields": fields}


def data_file_schema(
    spec: PartitionSpec, schema: Schema, dv_fields: bool = False,
    lineage_fields: bool = False,
) -> dict:
    # v3 deletion-vector columns (spec field ids 143-145) and the row
    # lineage column (142); only written when an entry actually carries
    # them so v2 manifests keep the exact v2 shape — ref
    # manifest.go:1791-1793
    extra = (
        [
            _f("referenced_data_file", _nullable("string"), 143, None),
            _f("content_offset", _nullable("long"), 144, None),
            _f("content_size_in_bytes", _nullable("long"), 145, None),
        ]
        if dv_fields
        else []
    )
    if lineage_fields:
        extra = [_f("first_row_id", _nullable("long"), 142, None)] + extra
    return {
        "type": "record",
        "name": "r2",
        "fields": [
            _f("content", "int", 134, 0),
            _f("file_path", "string", 100),
            _f("file_format", "string", 101),
            _f("partition", partition_record_schema(spec, schema), 102),
            _f("record_count", "long", 103),
            _f("file_size_in_bytes", "long", 104),
            _f("column_sizes", _nullable(_int_keyed_map("k117_v118", "long", 117, 118)), 108, None),
            _f("value_counts", _nullable(_int_keyed_map("k119_v120", "long", 119, 120)), 109, None),
            _f("null_value_counts", _nullable(_int_keyed_map("k121_v122", "long", 121, 122)), 110, None),
            _f("nan_value_counts", _nullable(_int_keyed_map("k138_v139", "long", 138, 139)), 137, None),
            _f("lower_bounds", _nullable(_int_keyed_map("k126_v127", "bytes", 126, 127)), 125, None),
            _f("upper_bounds", _nullable(_int_keyed_map("k129_v130", "bytes", 129, 130)), 128, None),
            _f("key_metadata", _nullable("bytes"), 131, None),
            _f("split_offsets", _nullable({"type": "array", "items": "long", "element-id": 133}), 132, None),
            _f("equality_ids", _nullable({"type": "array", "items": "long", "element-id": 136}), 135, None),
            _f("sort_order_id", _nullable("int"), 140, None),
            *extra,
        ],
    }


def manifest_entry_schema(
    spec: PartitionSpec, schema: Schema, dv_fields: bool = False,
    lineage_fields: bool = False,
) -> dict:
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            _f("status", "int", 0),
            _f("snapshot_id", _nullable("long"), 1, None),
            _f("sequence_number", _nullable("long"), 3, None),
            _f("file_sequence_number", _nullable("long"), 4, None),
            _f("data_file", data_file_schema(spec, schema, dv_fields, lineage_fields), 2),
        ],
    }


# --------------------------------------------------------------- marshaling

def _map_to_avro(m: Optional[dict]) -> Optional[list]:
    if m is None:
        return None
    return [{"key": int(k), "value": v} for k, v in sorted(m.items())]


def _map_from_avro(a: Optional[list]) -> Optional[dict]:
    if a is None:
        return None
    return {e["key"]: e["value"] for e in a}


def _entry_to_avro(e: ManifestEntry, spec: PartitionSpec) -> dict:
    df = e.data_file
    return {
        "status": int(e.status),
        "snapshot_id": e.snapshot_id,
        "sequence_number": e.sequence_number,
        "file_sequence_number": e.file_sequence_number,
        "data_file": {
            "content": int(df.content),
            "file_path": df.file_path,
            "file_format": df.file_format,
            "partition": {pf.name: df.partition.get(pf.name) for pf in spec.fields},
            "record_count": df.record_count,
            "file_size_in_bytes": df.file_size_in_bytes,
            "column_sizes": _map_to_avro(df.column_sizes),
            "value_counts": _map_to_avro(df.value_counts),
            "null_value_counts": _map_to_avro(df.null_value_counts),
            "nan_value_counts": _map_to_avro(df.nan_value_counts),
            "lower_bounds": _map_to_avro(df.lower_bounds),
            "upper_bounds": _map_to_avro(df.upper_bounds),
            "key_metadata": df.key_metadata,
            "split_offsets": df.split_offsets,
            "equality_ids": df.equality_ids,
            "sort_order_id": df.sort_order_id,
            # harmless extras when the writer schema omits DV/lineage
            # fields: write_ocf marshals by schema, unknown keys dropped
            "first_row_id": df.first_row_id,
            "referenced_data_file": df.referenced_data_file,
            "content_offset": df.content_offset,
            "content_size_in_bytes": df.content_size_in_bytes,
        },
    }


# IntEnum.__call__ costs ~1 µs; at 500k-entry plan scale the two enum
# constructions per entry are planner hot-loop work — table lookups.
_STATUS_FROM_CODE = {int(s): s for s in ManifestEntryStatus}
_CONTENT_FROM_CODE = {int(c): c for c in DataFileContent}


def _entry_from_avro(obj: dict) -> ManifestEntry:
    d = obj["data_file"]
    df = DataFile(
        file_path=d["file_path"],
        file_format=d["file_format"],
        partition=d.get("partition") or {},
        record_count=d["record_count"],
        file_size_in_bytes=d["file_size_in_bytes"],
        # `or 0` tolerates an off-spec explicit null exactly like the
        # fused codegen reader does, so the two decode paths agree
        content=_CONTENT_FROM_CODE[d.get("content") or 0],
        column_sizes=_map_from_avro(d.get("column_sizes")),
        value_counts=_map_from_avro(d.get("value_counts")),
        null_value_counts=_map_from_avro(d.get("null_value_counts")),
        nan_value_counts=_map_from_avro(d.get("nan_value_counts")),
        lower_bounds=_map_from_avro(d.get("lower_bounds")),
        upper_bounds=_map_from_avro(d.get("upper_bounds")),
        key_metadata=d.get("key_metadata"),
        split_offsets=d.get("split_offsets"),
        equality_ids=d.get("equality_ids"),
        sort_order_id=d.get("sort_order_id"),
        first_row_id=d.get("first_row_id"),
        referenced_data_file=d.get("referenced_data_file"),
        content_offset=d.get("content_offset"),
        content_size_in_bytes=d.get("content_size_in_bytes"),
    )
    return ManifestEntry(
        status=_STATUS_FROM_CODE[obj["status"]],
        snapshot_id=obj.get("snapshot_id"),
        sequence_number=obj.get("sequence_number"),
        file_sequence_number=obj.get("file_sequence_number"),
        data_file=df,
    )


# ------------------------------------------- fused entry decoder (read path)
#
# The generic avro reader materializes, per entry: a record dict, a
# data_file dict, and one {"key":…,"value":…} dict PER STATS-MAP ITEM,
# which _entry_from_avro then re-walks into dataclasses and int-keyed
# dicts. At plan scale (500k entries = one wide snapshot) that
# intermediate datum model is most of the cold decode cost. The fused
# reader compiles the manifest_entry writer schema straight to
# ManifestEntry objects: k_v map arrays decode directly into int-keyed
# dicts and the dataclasses are assembled via __dict__, no intermediate
# dicts. Anything off the expected shape (schema evolution, exotic
# writers) falls back per-field or wholesale to the generic
# reader + _entry_from_avro, so semantics can never diverge — and the
# byte-golden wire-format/reference-manifest suites pin both paths.

_STATS_MAP_FIELDS = frozenset(
    (
        "column_sizes",
        "value_counts",
        "null_value_counts",
        "nan_value_counts",
        "lower_bounds",
        "upper_bounds",
    )
)

# DataFile attribute defaults for fields absent from a writer schema
# (v1 manifests lack content/equality_ids/…); mirrors the dataclass
# defaults _entry_from_avro relies on via d.get().
_DF_DEFAULTS = {
    "file_path": None,
    "file_format": "PARQUET",
    "partition": None,
    "record_count": 0,
    "file_size_in_bytes": 0,
    "content": 0,
    "column_sizes": None,
    "value_counts": None,
    "null_value_counts": None,
    "nan_value_counts": None,
    "lower_bounds": None,
    "upper_bounds": None,
    "key_metadata": None,
    "split_offsets": None,
    "equality_ids": None,
    "sort_order_id": None,
    "first_row_id": None,
    "referenced_data_file": None,
    "content_offset": None,
    "content_size_in_bytes": None,
}

_ENTRY_FIELDS = ("status", "snapshot_id", "sequence_number", "file_sequence_number")


def _kv_map_shape(schema):
    """(null_idx, value_schema) when `schema` is Iceberg's int-keyed
    array-of-{key,value}-record map encoding (possibly nullable-union-
    wrapped); None when the shape doesn't match."""
    t = schema
    null_idx = None
    if isinstance(t, list):
        if len(t) != 2 or "null" not in t:
            return None
        null_idx = t.index("null")
        t = t[1 - null_idx]
    if not (isinstance(t, dict) and t.get("type") == "array"):
        return None
    items = t.get("items")
    if not (isinstance(items, dict) and items.get("type") == "record"):
        return None
    fields = items.get("fields") or []
    if len(fields) != 2 or fields[0]["name"] != "key" or fields[1]["name"] != "value":
        return None
    kt = fields[0]["type"]
    if isinstance(kt, dict):
        kt = kt.get("type")
    if kt not in ("int", "long"):
        return None
    return null_idx, fields[1]["type"]


def _compile_kv_map_reader(schema):
    """Shape gate with the contract the fused-reader tests pin: None
    when `schema` is not the known k_v int-keyed map encoding, truthy
    (the parsed shape) when it is."""
    return _kv_map_shape(schema)


def _emit_kv_map_reader(g, schema, lines, ind, var):
    """Emit codegen decoding `schema` (the k_v map encoding) straight
    into an int-keyed dict `var`; returns False when the shape doesn't
    match."""
    shape = _kv_map_shape(schema)
    if shape is None:
        return False
    null_idx, vt = shape

    def body(ind2):
        key, val = g.fresh("k"), g.fresh("v")
        lines.append(f"{ind2}{var} = {{}}")

        def item(ind3):
            g.varint(lines, ind3, key)
            g.emit(lines, ind3, vt, val)
            lines.append(f"{ind3}{var}[{key}] = {val}")

        g.block_loop(lines, ind2, item)

    if null_idx is None:
        body(ind)
    else:
        u = g.fresh("u")
        g.varint(lines, ind, u)
        lines.append(f"{ind}if {u} == {null_idx}:")
        lines.append(f"{ind}    {var} = None")
        lines.append(f"{ind}else:")
        body(ind + "    ")
    return True


def _emit_kv_map_capture(g, schema, lines, ind, wanted):
    """Column-mode twin of `_emit_kv_map_reader`: walk the k_v map,
    storing the values of the `wanted` {key: var} items and skipping
    the rest (the vars must already hold None). False when the shape
    doesn't match."""
    shape = _kv_map_shape(schema)
    if shape is None:
        return False
    null_idx, vt = shape

    def item(ind2):
        # a varint is prefix-free, so a key equals `fid` exactly when its
        # bytes equal fid's encoding: compare raw bytes, and items of
        # other columns never decode their key
        kb = g.fresh("kb")
        if wanted:
            lines.append(f"{ind2}{kb} = data[pos]")
        for i, (fid, var) in enumerate(wanted.items()):
            buf = io.BytesIO()
            avro_io._write_long(buf, int(fid))
            enc = buf.getvalue()
            same = " and ".join(
                f"data[pos + {j}] == {b}" if j else f"{kb} == {b}"
                for j, b in enumerate(enc)
            )
            lines.append(f"{ind2}{'if' if i == 0 else 'elif'} {same}:")
            lines.append(f"{ind2}    pos += {len(enc)}")
            g.emit(lines, ind2 + "    ", vt, var)
        body = ind2
        if wanted:
            lines.append(f"{ind2}else:")
            body = ind2 + "    "
        g.skip(lines, body, "long")
        g.skip(lines, body, vt)

    if null_idx is None:
        g.block_loop(lines, ind, item)
    else:
        u = g.fresh("u")
        g.varint(lines, ind, u)
        lines.append(f"{ind}if {u} != {null_idx}:")
        g.block_loop(lines, ind + "    ", item)
    return True


# the stats a column-mode row carries per requested field id, in order
_STATS_COLUMNS = (
    "value_counts",
    "null_value_counts",
    "nan_value_counts",
    "lower_bounds",
    "upper_bounds",
)
# column-mode data_file fields decoded into the row; the rest are skipped
_ROW_FIELDS = ("content", "record_count", "first_row_id", "partition")


def _compile_entry_reader(schema, stats_ids=None):
    """Writer schema (parsed JSON) → codegen'd BLOCK reader
    `fn(data, pos, count, append)`, or None when the schema isn't a
    manifest_entry record of the known shape (read_ocf then falls back
    to the generic datum model + _entry_from_avro, so semantics can
    never diverge).

    Object mode (`stats_ids` None) appends one ManifestEntry per entry.
    Column mode (`stats_ids` a tuple of field ids) appends one row tuple
    per entry holding only what the pruning cascade reads:
    `(payload, offset, status, content, record_count, first_row_id,
    partition, *stats)`, where `partition` is a tuple of (name, value)
    pairs and `stats` holds the five `_STATS_COLUMNS` per requested
    field id (None when absent). Every other field is skipped without
    being built; `(payload, offset)` lets the object-mode reader decode
    that one entry later (`ManifestBlock.entry`).

    Fuses two layers the generic path pays per entry: the intermediate
    datum dicts ({"key","value"} per stats item, record dicts) and the
    BytesIO byte walk (the avro._SrcGen codegen decodes from a bytes
    cursor, varints inlined)."""
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        return None
    if schema.get("name") != "manifest_entry":
        return None
    columns = stats_ids is not None
    g = avro_io._SrcGen()
    lines = [
        "def _decode_entries(data, pos, count, append):",
        "    _dlen = len(data)",
        "    for _ in range(count):",
    ]
    ind = "        "
    entry_vars: dict[str, str] = {}
    df_vars: dict[str, str] = {}
    stat_vars = {
        (m, fid): g.fresh("s") for fid in (stats_ids or ()) for m in _STATS_COLUMNS
    }
    if columns:
        lines.append(f"{ind}_p0 = pos")
        if stat_vars:
            lines.append(f"{ind}{' = '.join(stat_vars.values())} = None")
    saw_data_file = False
    for f in schema.get("fields") or []:
        nm = f["name"]
        if nm == "data_file":
            dfs = f["type"]
            if not (isinstance(dfs, dict) and dfs.get("type") == "record"):
                return None
            saw_data_file = True
            for df_f in dfs.get("fields") or []:
                dnm = df_f["name"]
                v = g.fresh("d")
                if dnm in _STATS_MAP_FIELDS:
                    if columns:
                        wanted = {
                            fid: stat_vars[(dnm, fid)]
                            for fid in stats_ids
                            if (dnm, fid) in stat_vars
                        }
                        ok = _emit_kv_map_capture(g, df_f["type"], lines, ind, wanted)
                    else:
                        ok = _emit_kv_map_reader(g, df_f["type"], lines, ind, v)
                    if not ok:
                        return None  # unexpected stats encoding: generic path
                elif columns and dnm == "partition":
                    ps = df_f["type"]
                    if not (isinstance(ps, dict) and ps.get("type") == "record"):
                        return None
                    pairs = []
                    for pf in ps.get("fields") or []:
                        pv = g.fresh("p")
                        g.emit(lines, ind, pf["type"], pv)
                        # the name comes from the file header: bound in
                        # the namespace, never spliced into the source
                        pairs.append(f"({g.bind('pn', pf['name'])}, {pv})")
                    lines.append(f"{ind}{v} = ({''.join(p + ', ' for p in pairs)})")
                elif columns and dnm not in _ROW_FIELDS:
                    g.skip(lines, ind, df_f["type"])
                else:
                    # writer-only fields (e.g. v1 block_size_in_bytes)
                    # are decoded for stream position but dropped below
                    g.emit(lines, ind, df_f["type"], v)
                if dnm in _DF_DEFAULTS:
                    df_vars[dnm] = v
        elif nm in _ENTRY_FIELDS:
            v = g.fresh("e")
            if columns and nm != "status":
                g.skip(lines, ind, f["type"])
            else:
                g.emit(lines, ind, f["type"], v)
                entry_vars[nm] = v
        else:
            return None  # unknown entry-level field: generic path
    if "status" not in entry_vars or not saw_data_file or not df_vars:
        return None

    if columns:
        row = [
            "data",
            "_p0",
            entry_vars["status"],
            f"{df_vars['content']} or 0" if "content" in df_vars else "0",
            df_vars.get("record_count", "0"),
            df_vars.get("first_row_id", "None"),
            df_vars.get("partition", "()"),
            *stat_vars.values(),
        ]
        lines.append(f"{ind}append(({', '.join(row)}))")
        lines.append("    return pos")
        return g.compile(lines, name="_decode_entries")

    # absent DataFile fields get their dataclass defaults (v1 manifests
    # lack content/equality_ids/…), mirroring _entry_from_avro's d.get()
    df_items = []
    for k, dflt in _DF_DEFAULTS.items():
        if k in df_vars:
            v = df_vars[k]
            if k == "content":
                df_items.append(f"'content': _CONTENT[{v} or 0]")
            elif k == "partition":
                df_items.append(f"'partition': {v} if {v} is not None else {{}}")
            else:
                df_items.append(f"{k!r}: {v}")
        elif k == "content":
            df_items.append("'content': _CONTENT[0]")
        else:
            df_items.append(f"{k!r}: {dflt!r}")
    lines.append(f"{ind}_df = _DF_new(_DataFile)")
    lines.append(f"{ind}_df.__dict__ = {{{', '.join(df_items)}}}")
    e_items = [f"'status': _STATUS[{entry_vars['status']}]"]
    for k in ("snapshot_id", "sequence_number", "file_sequence_number"):
        e_items.append(f"{k!r}: {entry_vars.get(k, None)}")
    e_items.append("'data_file': _df")
    lines.append(f"{ind}_e = _ME_new(_ManifestEntry)")
    lines.append(f"{ind}_e.__dict__ = {{{', '.join(e_items)}}}")
    lines.append(f"{ind}append(_e)")
    lines.append("    return pos")
    g.ns.update(
        _CONTENT=_CONTENT_FROM_CODE,
        _STATUS=_STATUS_FROM_CODE,
        _DF_new=DataFile.__new__,
        _DataFile=DataFile,
        _ME_new=ManifestEntry.__new__,
        _ManifestEntry=ManifestEntry,
    )
    return g.compile(lines, name="_decode_entries")


# fused readers memoized by (raw schema bytes, stats ids) (False =
# schema rejected, use the generic path); population is one per writer
# schema version and predicate column set. Locked like avro's
# block-reader memo: planner threads share it.
_ENTRY_READER_MEMO: dict[tuple, Any] = {}
_ENTRY_READER_MEMO_MAX = 64
_ENTRY_READER_LOCK = threading.Lock()


def _entry_reader_factory(schema, raw_schema, stats_ids=None):
    key = (raw_schema, stats_ids)
    with _ENTRY_READER_LOCK:
        r = _ENTRY_READER_MEMO.get(key)
    if r is None:
        r = _compile_entry_reader(schema, stats_ids) or False
        with _ENTRY_READER_LOCK:
            while len(_ENTRY_READER_MEMO) >= _ENTRY_READER_MEMO_MAX:
                _ENTRY_READER_MEMO.pop(next(iter(_ENTRY_READER_MEMO)), None)
            _ENTRY_READER_MEMO[key] = r
    return r or None


# ----------------------------------------------------------------- file IO

def write_manifest(
    path: str,
    spec: PartitionSpec,
    schema: Schema,
    snapshot_id: int,
    entries: Iterable[ManifestEntry],
    content: ManifestContent = ManifestContent.DATA,
) -> ManifestFile:
    """Write one manifest; returns its ManifestFile row (with partition
    summaries aggregated from the entries) — ref manifest.go:1041-1172."""
    from .conversions import to_bytes

    entries = list(entries)
    has_dv = any(e.data_file.content_offset is not None for e in entries)
    has_lineage = any(e.data_file.first_row_id is not None for e in entries)
    avro_schema = manifest_entry_schema(
        spec, schema, dv_fields=has_dv, lineage_fields=has_lineage
    )
    meta = {
        "schema": __import__("json").dumps(schema.to_json()),
        "partition-spec": __import__("json").dumps([f.to_json() for f in spec.fields]),
        "partition-spec-id": str(spec.spec_id),
        "format-version": "2",
        "content": "data" if content == ManifestContent.DATA else "deletes",
    }
    avro_io.write_ocf(
        path, avro_schema, (_entry_to_avro(e, spec) for e in entries), metadata=meta
    )

    # partition field summaries — ref manifest.go:889-1039
    summaries = []
    part_type = spec.partition_type(schema)
    for pf, pt in zip(spec.fields, part_type.fields):
        vals = [e.data_file.partition.get(pf.name) for e in entries]
        non_null = [v for v in vals if v is not None]
        import math

        nans = [v for v in non_null if isinstance(v, float) and math.isnan(v)]
        cmp_vals = [v for v in non_null if not (isinstance(v, float) and math.isnan(v))]
        summaries.append(
            FieldSummary(
                contains_null=any(v is None for v in vals),
                contains_nan=(len(nans) > 0) if isinstance(pt.field_type, (FloatType, DoubleType)) else None,
                lower_bound=to_bytes(pt.field_type, min(cmp_vals)) if cmp_vals else None,
                upper_bound=to_bytes(pt.field_type, max(cmp_vals)) if cmp_vals else None,
            )
        )

    added = [e for e in entries if e.status == ManifestEntryStatus.ADDED]
    existing = [e for e in entries if e.status == ManifestEntryStatus.EXISTING]
    deleted = [e for e in entries if e.status == ManifestEntryStatus.DELETED]
    seqs = [e.sequence_number for e in entries if e.sequence_number is not None]
    from . import fileio

    return ManifestFile(
        manifest_path=path,
        manifest_length=fileio.size(path),
        partition_spec_id=spec.spec_id,
        content=content,
        sequence_number=max(seqs) if seqs else 0,
        min_sequence_number=min(seqs) if seqs else 0,
        added_snapshot_id=snapshot_id,
        added_files_count=len(added),
        existing_files_count=len(existing),
        deleted_files_count=len(deleted),
        added_rows_count=sum(e.data_file.record_count for e in added),
        existing_rows_count=sum(e.data_file.record_count for e in existing),
        deleted_rows_count=sum(e.data_file.record_count for e in deleted),
        partitions=summaries,
    )


POSITIONAL_DELETE_FILE_PATH_ID = 2147483546  # spec reserved field ids
POSITIONAL_DELETE_POS_ID = 2147483545
# v3 row lineage — materialized into data files by row-copying writers
# (compaction); readers prefer these over first_row_id + pos inheritance
ROW_ID_FIELD_ID = 2147483540
LAST_UPDATED_SEQ_FIELD_ID = 2147483539


def positional_delete_schema() -> Schema:
    """Delete-file schema {file_path, pos} — ref manifest.go:2395."""
    from .types import NestedField

    return Schema(
        0,
        (
            NestedField(POSITIONAL_DELETE_FILE_PATH_ID, "file_path", StringType(), True),
            NestedField(POSITIONAL_DELETE_POS_ID, "pos", LongType(), True),
        ),
    )


def _copy_entry(p: ManifestEntry) -> ManifestEntry:
    """Two-level shallow copy: entry and data_file ATTRIBUTES become
    caller-owned, inner collections stay shared (see read_manifest)."""
    df = DataFile.__new__(DataFile)
    df.__dict__ = dict(p.data_file.__dict__)
    e = ManifestEntry.__new__(ManifestEntry)
    e.__dict__ = dict(p.__dict__)
    e.data_file = df
    return e


class ManifestBlock:
    """One manifest's entries in column form: what the pruning cascade
    reads, one list (or array) per field, instead of one DataFile per
    entry. Planning evaluates a whole block per evaluator call and
    builds full ManifestEntry objects only for the entries it keeps.

    Two origins, one interface:
      * `of_rows` — the column-mode entry reader's rows. Holds stats for
        the decoded field ids only (`stats` raises KeyError for others)
        and decodes full entries from their payload offsets on demand.
      * `of_entries` / `of_files` — already-decoded objects (the generic
        Avro fallback, `read_manifest` misses, planned tasks, tests).
        Stats of any field id derive from the objects.

    Read-only once built, apart from memoized derived columns."""

    __slots__ = (
        "live",
        "content",
        "record_count",
        "first_row_id",
        "partitions",
        "_stats",
        "_payloads",
        "_offsets",
        "_reader",
        "_protos",
        "_row_ids",
        "_derived",
    )

    def __init__(self, status, content, record_count, first_row_id, partitions):
        # live = not DELETED; status codes are ManifestEntryStatus ints
        self.live = np.array(status, dtype=np.int64) != 2
        self.content = content
        self.record_count = np.array(record_count, dtype=np.int64)
        self.first_row_id = first_row_id
        self.partitions = partitions  # per entry: tuple of (name, value)
        self._stats: dict = {}
        self._payloads = self._offsets = self._reader = None
        self._protos: Optional[list] = None
        self._row_ids: Optional[list] = None
        self._derived: dict = {}

    @classmethod
    def of_rows(cls, rows, stats_ids, reader) -> "ManifestBlock":
        """Block over column-mode reader rows (see _compile_entry_reader);
        `reader` is the object-mode reader of the same writer schema."""
        width = 7 + len(_STATS_COLUMNS) * len(stats_ids)
        cols = list(zip(*rows)) if rows else [()] * width
        block = cls(*cols[2:7])
        block._payloads, block._offsets, block._reader = cols[0], cols[1], reader
        k = len(_STATS_COLUMNS)
        for j, fid in enumerate(stats_ids):
            block._stats[fid] = tuple(cols[7 + k * j : 7 + k * (j + 1)])
        return block

    @classmethod
    def of_entries(cls, entries: list) -> "ManifestBlock":
        files = [e.data_file for e in entries]
        block = cls(
            [e.status for e in entries],
            [f.content for f in files],
            [f.record_count for f in files],
            [f.first_row_id for f in files],
            [tuple((f.partition or {}).items()) for f in files],
        )
        block._protos = list(entries)
        return block

    @classmethod
    def of_files(cls, files) -> "ManifestBlock":
        """Block over bare data files (all live), e.g. planned tasks."""
        return cls.of_entries(
            [ManifestEntry(ManifestEntryStatus.ADDED, None, None, None, f) for f in files]
        )

    def __len__(self) -> int:
        return len(self.record_count)

    def covers(self, stats_ids) -> bool:
        """True when `stats(fid)` answers every field id in `stats_ids`."""
        return self._protos is not None or all(f in self._stats for f in stats_ids)

    def stats(self, fid: int) -> tuple:
        """Per-entry `_STATS_COLUMNS` of field `fid`: value, null and NaN
        counts, lower and upper bound bytes; None where absent."""
        out = self._stats.get(fid)
        if out is None:
            if self._protos is None:
                raise KeyError(
                    f"stats of field id {fid} were not decoded; pass it in stats_ids"
                )
            files = [p.data_file for p in self._protos]
            out = tuple(
                [m.get(fid) if m else None for m in (getattr(f, c) for f in files)]
                for c in _STATS_COLUMNS
            )
            self._stats[fid] = out
        return out

    def derived(self, key, make):
        """`make()`, memoized on this block under `key`: evaluators keep
        the columns they derive from a cached block for later plans."""
        out = self._derived.get(key)
        if out is None:
            out = self._derived[key] = make()
        return out

    def partition_mask(self, pred) -> np.ndarray:
        """`pred(partition dict)` per entry, called once per distinct
        partition tuple."""
        verdict = {key: bool(pred(dict(key))) for key in set(self.partitions)}
        return np.fromiter(
            map(verdict.__getitem__, self.partitions), bool, len(self.partitions)
        )

    def entries(self) -> list[ManifestEntry]:
        """Every entry as a full ManifestEntry prototype, decoded once and
        memoized. Read-only: hand out `_copy_entry` copies."""
        if self._protos is None:
            protos: list = []
            n, i = len(self), 0
            while i < n:  # entries of one OCF block are contiguous
                data, j = self._payloads[i], i + 1
                while j < n and self._payloads[j] is data:
                    j += 1
                self._reader(data, self._offsets[i], j - i, protos.append)
                i = j
            self._protos = protos
        return self._protos

    def entry(self, i: int) -> ManifestEntry:
        """A caller-owned ManifestEntry for entry `i`."""
        if self._protos is not None:
            return _copy_entry(self._protos[i])
        out: list = []
        self._reader(self._payloads[i], self._offsets[i], 1, out.append)
        return out[0]

    def row_id_offsets(self) -> list:
        """Per entry, the offset into the manifest's first_row_id range
        that inheritance assigns it, or None. Live DATA files without an
        explicit first_row_id consume `record_count` ids each, in order,
        whether or not a scan keeps them (spec assignment rule)."""
        if self._row_ids is None:
            offsets, running = [], 0
            for live, content, frid, rc in zip(
                self.live.tolist(),
                self.content,
                self.first_row_id,
                self.record_count.tolist(),
            ):
                if live and content == DataFileContent.DATA and frid is None:
                    offsets.append(running)
                    running += rc
                else:
                    offsets.append(None)
            self._row_ids = offsets
        return self._row_ids


def _decode_manifest(path: str, stats_ids) -> ManifestBlock:
    """One `avro.read_ocf` pass over manifest `path`. With `stats_ids`
    (a tuple) the column-mode reader builds the block; with None, or
    when the schema has no column-mode reader, whole entries are
    decoded (fused object reader, else generic datums +
    `_entry_from_avro`)."""
    col_readers = []

    def factory(schema, raw_schema):
        obj = _entry_reader_factory(schema, raw_schema)
        if stats_ids is None or obj is None:
            return obj
        col = _entry_reader_factory(schema, raw_schema, stats_ids)
        if col is None:
            return obj
        col_readers.append(obj)
        return col

    _, _, rows = avro_io.read_ocf(path, record_reader_factory=factory)
    if col_readers:
        return ManifestBlock.of_rows(rows, stats_ids, col_readers[0])
    if rows and not isinstance(rows[0], ManifestEntry):
        rows = [_entry_from_avro(r) for r in rows]
    return ManifestBlock.of_entries(rows)


# Manifests are immutable once written (new state = new file), so
# caching their decoded entries is safe and makes repeated scans skip
# the Avro decode. The cache holds one ManifestBlock per manifest: a
# planning scan decodes the column form (status, content, record_count,
# first_row_id, partition tuple, the stats of the scan's predicate
# columns, and each entry's payload offset); full ManifestEntry
# prototypes are added to a block only when `read_manifest` asks for
# them. A resident block decoded for other predicate columns is decoded
# again, for the union of both sets, and replaced in place. Remote plans
# read manifests from a thread pool (map_manifests), so eviction must be
# guarded: an unlocked pop(next(iter(...))) races another thread's
# eviction of the same oldest key and dies with KeyError mid-plan.
#
# Capacity is bounded by TOTAL CACHED ENTRIES, not manifest count. A
# column block costs ~500 bytes per entry, the decompressed payload its
# offsets point into included (~380 with no stats decoded), plus ~60
# per predicate column once evaluated (the memoized numpy columns); a
# block holding prototypes costs ~2.7 KB per entry (tracemalloc, the
# 250-entry two-column manifests of perfbench's plan_cold_wide, stats
# of one column). So the 1M-entry default holds ≤ ~0.6 GB of planning
# blocks, ≤ ~2.7 GB if every manifest was also read whole — sized for a
# planner driver with Spark's default heap alongside; override with
# SPARK_GRAFT_MANIFEST_CACHE_ENTRIES for smaller drivers (0 disables
# caching). A manifest with more entries than the budget is returned
# uncached and evicts nothing. _OCF_CACHE_MAX stays as a secondary
# file-count bound for pathological many-tiny-manifest layouts.
#
# Eviction is FIFO, so walking a snapshot N× wider than the cache in
# list order evicts exactly what the next plan reads first: 0 hits.
# map_manifests visits the resident manifests first — they are read
# before the misses' inserts evict them, and the misses are what stays
# for the next plan — for a 1/N hit ratio, the best any cache of this
# size can do on a cyclic walk. 24 × 250 entries against a 3000-entry
# cache (N = 2), 4-core host: 24 → 12 decodes, ~140 → ~77 ms per plan.
_OCF_CACHE: dict[str, ManifestBlock] = {}
_OCF_CACHE_MAX = 8192
_OCF_CACHE_MAX_ENTRIES = int(
    os.environ.get("SPARK_GRAFT_MANIFEST_CACHE_ENTRIES", "1000000")
)
_OCF_CACHE_ENTRY_COUNT = 0  # guarded by _OCF_CACHE_LOCK
_OCF_CACHE_LOCK = threading.Lock()


def _read_manifest_block(path: str, stats_ids=(), full: bool = False) -> ManifestBlock:
    """The cached block of manifest `path`, decoded on a miss. `stats_ids`
    are the field ids whose stats the caller's evaluator reads; `full`
    callers want every entry, so a miss decodes whole entries."""
    global _OCF_CACHE_ENTRY_COUNT
    stats_ids = tuple(sorted(set(stats_ids)))
    cached = _OCF_CACHE.get(path)
    if cached is not None and cached.covers(stats_ids):
        return cached
    if cached is not None:  # resident, decoded for other columns: widen
        stats_ids = tuple(sorted(set(stats_ids) | set(cached._stats)))
    # decode outside the lock (the slow part; worst case two threads
    # decode the same new manifest once each — benign for an immutable
    # file)
    block = _decode_manifest(path, None if full and cached is None else stats_ids)
    n = len(block)
    with _OCF_CACHE_LOCK:
        # two threads can decode the same new manifest concurrently:
        # the loser must not re-insert, or the entry count inflates by
        # n per race and evicts prematurely forever
        prior = _OCF_CACHE.get(path)
        if prior is not None:
            if prior.covers(stats_ids):
                return prior
            _OCF_CACHE[path] = block  # same entries, more columns
        elif n <= _OCF_CACHE_MAX_ENTRIES:
            while _OCF_CACHE and (
                len(_OCF_CACHE) >= _OCF_CACHE_MAX
                or _OCF_CACHE_ENTRY_COUNT + n > _OCF_CACHE_MAX_ENTRIES
            ):
                old = _OCF_CACHE.pop(next(iter(_OCF_CACHE)), None)
                if old is not None:
                    _OCF_CACHE_ENTRY_COUNT -= len(old)
            _OCF_CACHE[path] = block
            _OCF_CACHE_ENTRY_COUNT += n
    return block


def is_resident(path: str, stats_ids=()) -> bool:
    """True when manifest `path` is cached in a block that holds the stats
    of `stats_ids`, so a read of them decodes nothing. A block decoded
    for other predicate columns is not resident for these."""
    block = _OCF_CACHE.get(path)
    return block is not None and (not stats_ids or block.covers(stats_ids))


def map_manifests(fn, manifests, concurrency: int = 1) -> list:
    """`[fn(m) for m in manifests]`, run on the cache-resident manifests
    first (see the eviction note above `_OCF_CACHE`). The misses run
    serially when all are local — decode is GIL-bound, so a pool only
    adds contention (OPTIMIZATION_r15.md) — else on a thread pool to
    overlap object-store round trips."""
    from . import fileio

    hit = [is_resident(m.manifest_path) for m in manifests]
    out = [fn(m) if h else None for m, h in zip(manifests, hit)]
    misses = [m for m, h in zip(manifests, hit) if not h]
    n_workers = min(concurrency, len(misses))
    if n_workers > 1 and not all(fileio.is_local(m.manifest_path) for m in misses):
        with ThreadPoolExecutor(n_workers) as pool:
            done = iter(list(pool.map(fn, misses)))
    else:
        done = map(fn, misses)
    return [r if h else next(done) for r, h in zip(out, hit)]


def read_manifest(
    path: str,
    discard_deleted: bool = True,
    inherit_sequence_number: Optional[int] = None,
    inherit_first_row_id: Optional[int] = None,
) -> list[ManifestEntry]:
    """ref manifest.go:774 (ReadManifest). ADDED entries written without
    an explicit sequence number inherit the manifest's (spec: sequence
    number inheritance). With `inherit_first_row_id` (the manifest's
    assigned first_row_id, v3 row lineage), live data files with a null
    first_row_id are assigned one by position: the running id starts at
    the manifest's and advances by record_count for exactly the files
    that were assigned — files carrying an explicit first_row_id (e.g.
    EXISTING entries rewritten by a merge-append) and DELETED entries do
    NOT consume from the manifest's range, matching the spec/Java
    assignment rule.

    Mutability contract: entry and data_file ATTRIBUTES are caller-owned
    (each call returns fresh two-level shallow copies), but the inner
    collections — partition dict, stats maps, split_offsets/equality_ids
    lists — are SHARED with the manifest cache's prototypes and must be
    treated as immutable; replace them wholesale, never mutate in place."""
    block = _read_manifest_block(path, full=True)
    entries = [_copy_entry(p) for p in block.entries()]
    if inherit_sequence_number is not None:
        for e in entries:
            if e.sequence_number is None:
                e.sequence_number = inherit_sequence_number
    if inherit_first_row_id is not None:
        for e, off in zip(entries, block.row_id_offsets()):
            if off is not None:
                e.data_file.first_row_id = inherit_first_row_id + off
    if discard_deleted:
        entries = [e for e in entries if e.status != ManifestEntryStatus.DELETED]
    return entries


def scan_manifest(
    path: str,
    keep,
    inherit_sequence_number: Optional[int] = None,
    inherit_first_row_id: Optional[int] = None,
    stats_ids: tuple = (),
) -> list[ManifestEntry]:
    """Planner-oriented filtered read: `keep(block)` gets the manifest's
    cached ManifestBlock (read-only) and returns one bool per entry.
    Full ManifestEntry objects are built only for the kept live entries,
    with sequence-number / first_row_id inheritance applied exactly as
    `read_manifest` would have. DELETED entries are always discarded
    (and, per the spec assignment rule, never consume from the
    manifest's first_row_id range, while non-kept live DATA files still
    do). `stats_ids` are the field ids whose stats `keep` reads
    (`block.stats`). Equivalence with read_manifest-then-filter is
    pinned by tests/test_manifest_io.py."""
    block = _read_manifest_block(path, stats_ids)
    mask = np.asarray(keep(block), dtype=bool)
    if mask.shape != block.live.shape:
        raise ValueError(
            f"keep returned {mask.shape} verdicts for a {len(block)}-entry manifest"
        )
    row_ids = block.row_id_offsets() if inherit_first_row_id is not None else None
    out = []
    for i in np.flatnonzero(mask & block.live).tolist():
        e = block.entry(i)
        if inherit_sequence_number is not None and e.sequence_number is None:
            e.sequence_number = inherit_sequence_number
        if row_ids is not None and row_ids[i] is not None:
            e.data_file.first_row_id = inherit_first_row_id + row_ids[i]
        out.append(e)
    return out


def write_manifest_list(
    path: str,
    manifests: Iterable[ManifestFile],
    format_version: int = 2,
    first_row_id: Optional[int] = None,
    snapshot_id: Optional[int] = None,
    sequence_number: Optional[int] = None,
    parent_snapshot_id: Optional[int] = None,
) -> int:
    """ref manifest.go:1521 (WriteManifestList).

    For v3 the list writer performs row-lineage assignment (ref
    manifest.go:1478-1486, mirroring Java ManifestListWriter): every
    DATA manifest with a null first_row_id — newly written ones AND
    pre-upgrade carried ones — is assigned the running id, which then
    advances by the manifest's existing+added row counts. Returns the
    total number of row ids consumed (the snapshot's `added-rows`);
    0 for v2."""
    manifests = list(manifests)
    assigned = 0
    if format_version >= 3:
        if first_row_id is None:
            raise ValueError("v3 manifest lists require first_row_id")
        next_id = first_row_id
        for m in manifests:
            if m.content == ManifestContent.DATA and m.first_row_id is None:
                m.first_row_id = next_id
                next_id += m.existing_rows_count + m.added_rows_count
        assigned = next_id - first_row_id

    def row(m: ManifestFile) -> dict:
        out = {
            "manifest_path": m.manifest_path,
            "manifest_length": m.manifest_length,
            "partition_spec_id": m.partition_spec_id,
            "content": int(m.content),
            "sequence_number": m.sequence_number,
            "min_sequence_number": m.min_sequence_number,
            "added_snapshot_id": m.added_snapshot_id,
            "added_files_count": m.added_files_count,
            "existing_files_count": m.existing_files_count,
            "deleted_files_count": m.deleted_files_count,
            "partitions": [s.to_avro() for s in m.partitions] or None,
            "added_rows_count": m.added_rows_count,
            "existing_rows_count": m.existing_rows_count,
            "deleted_rows_count": m.deleted_rows_count,
            "key_metadata": m.key_metadata,
        }
        if format_version >= 3:
            out["first_row_id"] = m.first_row_id
        return out

    # OCF metadata keys as the reference writes them (manifest.go:1388-1415)
    meta = {"format-version": str(format_version)}
    if snapshot_id is not None:
        meta["snapshot-id"] = str(snapshot_id)
    if sequence_number is not None:
        meta["sequence-number"] = str(sequence_number)
    if format_version >= 3:
        meta["first-row-id"] = str(first_row_id)
    if snapshot_id is not None:
        meta["parent-snapshot-id"] = (
            str(parent_snapshot_id) if parent_snapshot_id is not None else "null"
        )
    schema_ = (
        MANIFEST_LIST_V3_SCHEMA if format_version >= 3 else MANIFEST_LIST_V2_SCHEMA
    )
    avro_io.write_ocf(path, schema_, (row(m) for m in manifests), metadata=meta)
    return assigned


def read_manifest_list(path: str) -> list[ManifestFile]:
    """ref manifest.go:798 (ReadManifestList)."""
    _, _, records = avro_io.read_ocf(path)

    def count(r, key):
        # v1 lists declare the count fields NULLABLE
        # (internal/avro_schemas.go manifest_list_file_v1): a null count
        # is "unknown", which the reference maps to -1 internally
        # (manifest.go:188-191) so has_*_files stays conservative-true
        v = r.get(key)
        return -1 if v is None else v

    out = []
    for r in records:
        out.append(
            ManifestFile(
                manifest_path=r["manifest_path"],
                manifest_length=r["manifest_length"],
                partition_spec_id=r["partition_spec_id"],
                content=ManifestContent(r.get("content", 0)),
                sequence_number=r.get("sequence_number", 0),
                min_sequence_number=r.get("min_sequence_number", 0),
                added_snapshot_id=r["added_snapshot_id"],
                added_files_count=count(r, "added_files_count"),
                existing_files_count=count(r, "existing_files_count"),
                deleted_files_count=count(r, "deleted_files_count"),
                added_rows_count=count(r, "added_rows_count"),
                existing_rows_count=count(r, "existing_rows_count"),
                deleted_rows_count=count(r, "deleted_rows_count"),
                partitions=[FieldSummary.from_avro(s) for s in r.get("partitions") or []],
                key_metadata=r.get("key_metadata"),
                first_row_id=r.get("first_row_id"),
            )
        )
    return out
