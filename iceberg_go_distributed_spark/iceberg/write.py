"""The write path: the fork's distributed-snapshot protocol mapped onto
Spark (SURVEY §3.3 — this is Spark's native shape):

  coordinator (driver)   BeginDistributedSnapshot → reserve snapshot id
                         + commit UUID (ref distributed_snapshot.go:52-76)
  workers (executors)    mapInArrow: write Parquet files (bin-packed or
                         partition-fanout), harvest footer stats, return
                         DataFile descriptor rows (ref manifest.go:1137
                         NewManifestWriterForSnapshot — workers need no
                         transaction); delete files are written the same
                         way over a driver-built work frame
                         (table._map_rows), deletion vectors by the one
                         puffin.write_dv_file
  coordinator            build Avro manifest(s) + manifest list, commit
                         AddSnapshot+SetSnapshotRef guarded by
                         AssertRefSnapshotID(main, parent); on CAS
                         conflict, refresh and restart from reservation
                         (ref distributed_snapshot.go:83-114,
                         transaction.go:157-225,
                         docs/distributed_snapshot_design.md:89-93)

Scale notes: descriptor rows are O(files), not O(rows) — the only data
crossing the executor→driver boundary is metadata. Partitioned writes
repartition by the transform expressions first so each task's fanout
writer sees few partitions (the shuffle replaces the reference's
bounded-worker fanout, partitioned_fanout_writer.go:54-256).
"""

from __future__ import annotations

import json
import os
import uuid as _uuid
from dataclasses import dataclass
from typing import Any, Iterator, Optional

from .catalog import CommitConflictError
from .manifest import (
    DataFile,
    ManifestContent,
    ManifestEntry,
    ManifestEntryStatus,
    ManifestFile,
    read_manifest,
    write_manifest,
)
from .metadata import MAIN_BRANCH, Summary
from .partitioning import PartitionSpec
from .types import (
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IcebergType,
    IntegerType,
    LongType,
    Schema,
    StringType,
    TimestampType,
    TimestampTzType,
)

TARGET_FILE_SIZE_BYTES = 512 * 1024 * 1024  # write.target-file-size-bytes default
METRICS_TRUNCATE = 16  # write.metadata.metrics.default = truncate(16)

# write.parquet.compression-codec / -level — ref table/internal/
# parquet_files.go:57-60 (default zstd, level -1 = codec default).
PARQUET_COMPRESSION_KEY = "write.parquet.compression-codec"
PARQUET_COMPRESSION_DEFAULT = "zstd"
PARQUET_COMPRESSION_LEVEL_KEY = "write.parquet.compression-level"
_CODECS = {"zstd", "snappy", "gzip", "lz4", "brotli", "uncompressed"}


def parquet_compression(properties: dict) -> tuple:
    """Resolve (codec, level|None) from table properties, validating the
    codec name up front so a typo fails the commit driver-side, not as
    an opaque executor-task error."""
    codec = properties.get(PARQUET_COMPRESSION_KEY, PARQUET_COMPRESSION_DEFAULT).lower()
    if codec not in _CODECS:
        raise ValueError(
            f"unsupported {PARQUET_COMPRESSION_KEY} {codec!r}; one of {sorted(_CODECS)}"
        )
    if codec == "uncompressed":
        codec = "none"
    level = properties.get(PARQUET_COMPRESSION_LEVEL_KEY)
    level = int(level) if level is not None else None
    if level is not None and level < 0:  # -1 = use the codec's default
        level = None
    return codec, level


@dataclass(frozen=True)
class DistributedSnapshot:
    """ref table/distributed_snapshot.go:31-49."""

    snapshot_id: int
    parent_snapshot_id: Optional[int]
    commit_uuid: str
    properties: dict[str, str]


def begin_distributed_snapshot(
    table, properties: Optional[dict] = None, branch: str = MAIN_BRANCH
) -> DistributedSnapshot:
    """ref distributed_snapshot.go:52-76. `branch` selects the parent:
    writes target the branch head (WAP / audit-branch workflows)."""
    from .metadata import MetadataBuilder

    b = MetadataBuilder(table.metadata)
    sid = b.reserve_snapshot_id()
    ref = table.metadata.refs.get(branch)
    parent = ref.snapshot_id if ref else (
        table.metadata.current_snapshot_id if branch == MAIN_BRANCH else None
    )
    return DistributedSnapshot(
        snapshot_id=sid,
        parent_snapshot_id=parent,
        commit_uuid=str(_uuid.uuid4()),
        properties=dict(properties or {}),
    )


# ----------------------------------------------------------- arrow schema

def _arrow_type(t: IcebergType):
    import pyarrow as pa

    if isinstance(t, BooleanType):
        return pa.bool_()
    if isinstance(t, IntegerType):
        return pa.int32()
    if isinstance(t, LongType):
        return pa.int64()
    if isinstance(t, FloatType):
        return pa.float32()
    if isinstance(t, DoubleType):
        return pa.float64()
    if isinstance(t, DateType):
        return pa.date32()
    if isinstance(t, (TimestampType, TimestampTzType)):
        return pa.timestamp("us")
    if isinstance(t, StringType):
        return pa.string()
    if isinstance(t, BinaryType):
        return pa.binary()
    if isinstance(t, DecimalType):
        return pa.decimal128(t.precision, t.scale)
    from .types import ListType, MapType, StructType

    if isinstance(t, ListType):
        return pa.list_(_arrow_type(t.element))
    if isinstance(t, MapType):
        return pa.map_(_arrow_type(t.key), _arrow_type(t.value))
    if isinstance(t, StructType):
        return pa.struct(
            [pa.field(f.name, _arrow_type(f.field_type), nullable=not f.required) for f in t.fields]
        )
    raise TypeError(f"no arrow mapping for {t}")


def _arrow_schema(schema: Schema):
    import pyarrow as pa

    return pa.schema(
        [
            pa.field(
                f.name,
                _arrow_type(f.field_type),
                nullable=not f.required,
                metadata={b"PARQUET:field_id": str(f.field_id).encode()},
            )
            for f in schema.fields
        ]
    )


# ------------------------------------------------------------ file stats

def _increment_string(s: str):
    """Increment the last incrementable codepoint (skipping surrogates
    and the U+10FFFF ceiling, walking left as needed); None if every
    position overflows — caller then drops the upper bound, matching
    the reference's TruncateUpper fallback."""
    chars = list(s)
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i]) + 1
        if 0xD800 <= cp <= 0xDFFF:
            cp = 0xE000
        if cp <= 0x10FFFF:
            chars[i] = chr(cp)
            return "".join(chars[: i + 1])
    return None


def _truncate_bounds(t: IcebergType, lo, hi, length: int = METRICS_TRUNCATE):
    """truncate(N) metrics mode — ref parquet_files.go:103 +
    properties.go:37-38. Lower truncates down; upper truncates then
    increments so it stays an upper bound (None = bound dropped)."""
    if isinstance(t, StringType) and isinstance(lo, str):
        if len(lo) > length:
            lo = lo[:length]
        if len(hi) > length:
            hi = _increment_string(hi[:length])
    return lo, hi


# write.metadata.metrics.default / write.metadata.metrics.column.<name>
# — ref properties.go:36-38 + the MetricsModes grammar: none (no value
# metrics), counts (value/null/nan counts only), truncate(N), full.
METRICS_DEFAULT_KEY = "write.metadata.metrics.default"
METRICS_COLUMN_PREFIX = "write.metadata.metrics.column."


def _parse_metrics_mode(raw: str) -> tuple:
    """(kind, truncate_length|None); raises on an invalid spec so a
    property typo fails the commit driver-side."""
    s = raw.strip().lower()
    if s in ("none", "counts", "full"):
        return s, None
    if s.startswith("truncate(") and s.endswith(")"):
        n = int(s[len("truncate(") : -1])
        if n <= 0:
            raise ValueError(f"truncate length must be positive: {raw!r}")
        return "truncate", n
    raise ValueError(f"invalid metrics mode {raw!r}")


def _column_paths(schema: Schema) -> dict:
    """{dotted column path: field_id} over the WHOLE schema tree, using
    Iceberg's canonical path segments (struct member names, ``element``
    for list elements, ``key``/``value`` for maps) — ref
    arrow_utils.go:1139 resolves metrics overrides by full column path,
    not top-level name."""
    from .types import ListType, MapType, StructType

    paths: dict[str, int] = {}

    def walk(prefix: str, t) -> None:
        if isinstance(t, StructType):
            for f in t.fields:
                p = f"{prefix}.{f.name}" if prefix else f.name
                paths[p] = f.field_id
                walk(p, f.field_type)
        elif isinstance(t, ListType):
            p = f"{prefix}.element"
            paths[p] = t.element_id
            walk(p, t.element)
        elif isinstance(t, MapType):
            pk, pv = f"{prefix}.key", f"{prefix}.value"
            paths[pk] = t.key_id
            paths[pv] = t.value_id
            walk(pk, t.key)
            walk(pv, t.value)

    for f in schema.fields:
        paths[f.name] = f.field_id
        walk(f.name, f.field_type)
    return paths


def resolve_metrics_modes(
    schema: Schema, properties: Optional[dict], strict: bool = True
) -> dict:
    """{field_id: (kind, length|None)} for every column path —
    per-column overrides beat the table default (truncate(16)).
    Overrides are resolved by FULL dotted column path (struct.leaf,
    list.element, map.key/value) like the reference; an override key
    naming no schema column raises so typos fail the commit loudly
    instead of being silently ignored. Pass ``strict=False`` when
    `schema` is a PROJECTION of the table schema (equality-delete key
    files carry only the key columns) — overrides for the absent
    columns are then simply inapplicable, not errors."""
    props = properties or {}
    default = _parse_metrics_mode(props.get(METRICS_DEFAULT_KEY, "truncate(16)"))
    paths = _column_paths(schema)
    modes = {fid: default for fid in paths.values()}
    for key, raw in props.items():
        if not key.startswith(METRICS_COLUMN_PREFIX):
            continue
        path = key[len(METRICS_COLUMN_PREFIX) :]
        fid = paths.get(path)
        if fid is None:
            if strict:
                raise ValueError(
                    f"{key} names no column in the schema "
                    f"(known paths: {', '.join(sorted(paths))})"
                )
            continue
        modes[fid] = _parse_metrics_mode(raw)
    return modes


def _stats_from_parquet(path: str, schema: Schema, modes: Optional[dict] = None) -> dict:
    """Harvest per-column stats from the footer —
    ref table/internal/parquet_files.go:403 (DataFileStatsFromMeta).
    `modes` maps field_id → parsed metrics mode (resolve_metrics_modes);
    None means the truncate(16) default for every column. Column sizes
    are storage metrics and are kept under every mode."""
    from .conversions import to_bytes
    from .types import StructType

    from . import fileio

    def _mode(fid):
        return modes.get(fid, ("truncate", METRICS_TRUNCATE)) if modes else (
            "truncate",
            METRICS_TRUNCATE,
        )

    meta = fileio.read_parquet_metadata(path)
    by_name = {f.name: f for f in schema.fields}

    def _leaf_field(path_in_schema: str):
        """Resolve a parquet column path to its OWN schema field when the
        whole path descends through STRUCTs (meta.lang → the lang leaf,
        with its own field id — so nested metrics overrides apply and
        struct leaves get per-leaf counts/bounds, ref arrow_utils.go:1139
        full-path resolution). List/map paths (repeated groups) keep the
        historical top-level attribution."""
        parts = path_in_schema.split(".")
        f = by_name.get(parts[0])
        for part in parts[1:]:
            if f is None or not isinstance(f.field_type, StructType):
                return by_name.get(parts[0])
            f = next((c for c in f.field_type.fields if c.name == part), None)
        return f if f is not None else by_name.get(parts[0])

    value_counts: dict[int, int] = {}
    null_counts: dict[int, int] = {}
    lowers: dict[int, Any] = {}
    uppers: dict[int, Any] = {}
    col_sizes: dict[int, int] = {}
    harvested: dict[int, Any] = {}  # fid → resolved (possibly leaf) field
    bad_bounds: set[int] = set()  # any group lacked ordered min/max
    bad_nulls: set[int] = set()  # any group lacked a null count
    split_offsets: list[int] = []
    for rg_i in range(meta.num_row_groups):
        rg = meta.row_group(rg_i)
        c0 = rg.column(0)
        # row-group start = first page offset of the first chunk (the
        # chunk's file_offset points past its pages — verified pyarrow)
        starts = [
            o
            for o in (c0.dictionary_page_offset, c0.data_page_offset)
            if o is not None and o > 0
        ]
        split_offsets.append(min(starts) if starts else 4)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            f = _leaf_field(col.path_in_schema)
            if f is None:
                continue
            fid = f.field_id
            harvested[fid] = f
            kind, _tlen = _mode(fid)
            col_sizes[fid] = col_sizes.get(fid, 0) + col.total_compressed_size
            if kind == "none":
                continue
            # parquet num_values already includes nulls (logical values)
            value_counts[fid] = value_counts.get(fid, 0) + col.num_values
            st = col.statistics
            # SOUNDNESS: file-level bounds/null counts must cover EVERY
            # row group. A group with missing (or NaN — unordered) stats
            # makes the whole column's file aggregate unknowable; keeping
            # the other groups' values would let the strict evaluator
            # whole-file-delete rows outside the recorded bounds, or an
            # IS_NULL scan prune files that do contain nulls.
            if st is None:
                bad_bounds.add(fid)
                bad_nulls.add(fid)
                continue
            if not st.has_null_count:
                bad_nulls.add(fid)
            else:
                null_counts[fid] = null_counts.get(fid, 0) + st.null_count
            if kind == "counts":
                continue
            if st.has_min_max:
                mn, mx = st.min, st.max
                # NaN compares false with everything; the evaluators rely
                # on ordered bounds — ref parquet_files.go skips NaN
                # bounds the same way (and we invalidate the column)
                if isinstance(mn, float) and (mn != mn or mx != mx):
                    bad_bounds.add(fid)
                    continue
                if fid not in lowers or mn < lowers[fid]:
                    lowers[fid] = mn
                if fid not in uppers or mx > uppers[fid]:
                    uppers[fid] = mx
            else:
                bad_bounds.add(fid)
    lower_b: dict[int, bytes] = {}
    upper_b: dict[int, bytes] = {}
    for fid in bad_bounds:
        lowers.pop(fid, None)
        uppers.pop(fid, None)
    for fid in bad_nulls:
        null_counts.pop(fid, None)
    for fid, f in harvested.items():
        # bounds are defined for primitive columns only; struct leaves
        # resolve to their own ids above and qualify like top-levels
        if fid in lowers and f.field_type.is_primitive():
            kind, tlen = _mode(fid)
            if kind == "truncate":
                lo, hi = _truncate_bounds(f.field_type, lowers[fid], uppers[fid], tlen)
            else:  # full
                lo, hi = lowers[fid], uppers[fid]
            lower_b[fid] = to_bytes(f.field_type, lo)
            if hi is not None:
                upper_b[fid] = to_bytes(f.field_type, hi)
    return {
        "record_count": meta.num_rows,
        "value_counts": value_counts,
        "null_value_counts": null_counts,
        "lower_bounds": lower_b,
        "upper_bounds": upper_b,
        "column_sizes": col_sizes,
        "split_offsets": split_offsets,
    }


def _partition_key_value(k):
    """Normalize a pandas groupby key to the Iceberg internal partition
    representation: numpy scalars unbox losslessly (.item(), never
    int()-truncation), timestamps become epoch-µs ints, dates epoch-day
    ints — keeping manifest values comparable with projected literals."""
    import datetime as _dt

    import pandas as pd

    if k is None or (isinstance(k, float) and k != k) or k is pd.NaT:
        return None
    if isinstance(k, pd.Timestamp):
        return int(k.value // 1000)  # ns → µs
    if isinstance(k, _dt.datetime):
        from .conversions import datetime_to_micros

        return datetime_to_micros(k)
    if isinstance(k, _dt.date):
        from .conversions import date_to_days

        return date_to_days(k)
    if hasattr(k, "item"):
        return k.item()
    return k


# -------------------------------------------------------- executor writer

_DESCRIPTOR_SCHEMA = "descriptor string"


def _encode_partition(p: dict) -> dict:
    """JSON-safe partition dict: bytes values (binary/fixed/decimal
    partition columns read back from Avro) ride as tagged hex."""
    out = {}
    for k, v in (p or {}).items():
        out[k] = {"__hex__": v.hex()} if isinstance(v, (bytes, bytearray)) else v
    return out


def _decode_partition(p: dict) -> dict:
    return {
        k: bytes.fromhex(v["__hex__"]) if isinstance(v, dict) and "__hex__" in v else v
        for k, v in (p or {}).items()
    }


def _encode_descriptor(df: DataFile) -> str:
    def hexmap(m):
        return {k: v.hex() for k, v in m.items()} if m else None

    return json.dumps(
        {
            "file_path": df.file_path,
            "file_format": df.file_format,
            "content": int(df.content),
            "equality_ids": df.equality_ids,
            "partition": _encode_partition(df.partition),
            "record_count": df.record_count,
            "file_size_in_bytes": df.file_size_in_bytes,
            "column_sizes": df.column_sizes,
            "value_counts": df.value_counts,
            "null_value_counts": df.null_value_counts,
            "nan_value_counts": df.nan_value_counts,
            "lower_bounds": hexmap(df.lower_bounds),
            "upper_bounds": hexmap(df.upper_bounds),
            "split_offsets": df.split_offsets,
            "sort_order_id": df.sort_order_id,
            # v3 deletion-vector pointer — must survive the descriptor
            # round trip or a distributed plan would misread the puffin
            # blob as a parquet delete file
            "referenced_data_file": df.referenced_data_file,
            "content_offset": df.content_offset,
            "content_size_in_bytes": df.content_size_in_bytes,
            # v3 row lineage — the distributed planner inherits this on
            # executors; dropping it here would make every auto-routed
            # lineage/changelog read fail with "files lack first_row_id"
            "first_row_id": df.first_row_id,
        }
    )


def _decode_descriptor(s: str) -> DataFile:
    d = json.loads(s)

    def unhex(m):
        return {int(k): bytes.fromhex(v) for k, v in m.items()} if m else None

    def intkeys(m):
        return {int(k): v for k, v in m.items()} if m else None

    from .manifest import DataFileContent

    return DataFile(
        file_path=d["file_path"],
        file_format=d["file_format"],
        content=DataFileContent(d.get("content", 0)),
        equality_ids=d.get("equality_ids"),
        partition=_decode_partition(d.get("partition")),
        record_count=d["record_count"],
        file_size_in_bytes=d["file_size_in_bytes"],
        column_sizes=intkeys(d.get("column_sizes")),
        value_counts=intkeys(d.get("value_counts")),
        null_value_counts=intkeys(d.get("null_value_counts")),
        nan_value_counts=intkeys(d.get("nan_value_counts")),
        lower_bounds=unhex(d.get("lower_bounds")),
        upper_bounds=unhex(d.get("upper_bounds")),
        split_offsets=d.get("split_offsets"),
        sort_order_id=d.get("sort_order_id"),
        referenced_data_file=d.get("referenced_data_file"),
        content_offset=d.get("content_offset"),
        content_size_in_bytes=d.get("content_size_in_bytes"),
        first_row_id=d.get("first_row_id"),
    )


def distribute_for_write(data, schema: Schema, spec: PartitionSpec, properties=None):
    """Partition-aware write distribution, split out so tests can assert
    the exchange shape of each mode on the returned plan.

    Public Iceberg `write.distribution-mode`:
      hash  (default) — one exchange on the partition tuple; each
              partition's rows land on one task → fewest files, but a
              hot partition is written by a single task.
      none  — no exchange; every input task fanout-writes the
              partitions it already holds (the reference's
              parallel-worker fanout, partitioned_fanout_writer.go:69-82,
              where worker count is independent of partition count)
              → max parallelism, more files.
      range — range exchange on the partition tuple; clusters adjacent
              partitions per task (time-ordered layouts).
    `write.fanout.salt-tasks=N` (extension, hash mode only) splits each
    partition across N tasks — skew relief for hot partitions at scale
    without giving up the exchange."""
    from pyspark.sql import functions as F

    if not spec.fields:
        return data
    part_names = [pf.name for pf in spec.fields]
    src_by_id = {f.field_id: f for f in schema.fields}
    part_cols = [
        pf.transform.spark_column(
            F.col(src_by_id[pf.source_id].name), src_by_id[pf.source_id].field_type
        ).alias(f"__part_{pf.name}")
        for pf in spec.fields
    ]
    data = data.select("*", *part_cols)
    mode = (properties or {}).get("write.distribution-mode", "hash").lower()
    cols = [F.col(f"__part_{n}") for n in part_names]
    if mode == "none":
        return data
    if mode == "range":
        return data.repartitionByRange(*cols)
    if mode == "hash":
        salt = int((properties or {}).get("write.fanout.salt-tasks", "1"))
        if salt > 1:
            # explicit numPartitions exempts the exchange from AQE
            # partition coalescing — otherwise small salted buckets get
            # merged right back onto one task. The salt must be
            # DETERMINISTIC per row (hash of the data columns, never
            # monotonically_increasing_id): a partially recomputed map
            # stage would otherwise re-bucket rows and duplicate/lose
            # them in reducers that already fetched the old output.
            n = int(
                data.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
            )
            row_cols = [
                F.col(c) for c in data.columns if not c.startswith("__part_")
            ]
            cols.append(F.pmod(F.xxhash64(*row_cols), F.lit(salt)))
            return data.repartition(max(n, salt), *cols)
        return data.repartition(*cols)
    raise ValueError(
        f"write.distribution-mode={mode!r}: expected none|hash|range"
    )


def write_data_files(
    df,
    schema: Schema,
    spec: PartitionSpec,
    location: str,
    commit_uuid: str,
    sort_order=None,
    target_file_size: Optional[int] = None,
    properties: Optional[dict] = None,
    strict_metrics: bool = True,
):
    """Executor-side Parquet writing via mapInArrow; returns the list of
    DataFile descriptors (driver-side, O(files)).

    Unpartitioned → bin-pack per task (ref arrow_utils.go:1267-1280);
    partitioned → shuffle on the transform expressions, then a fanout
    writer per task (ref partitioned_fanout_writer.go:54-256), with
    Hive-style paths from PartitionToPath (ref partitions.go:447-463).
    """
    from pyspark.sql import functions as F

    field_names = [f.name for f in schema.fields]
    part_names = [pf.name for pf in spec.fields]
    data = distribute_for_write(df.select(*field_names), schema, spec, properties)

    # declarative sort order: sort rows inside each task before writing and
    # stamp the order id on the data files — ref table/sorting.go +
    # manifest.go:2263 (SortOrderID); sorting stays executor-local (no
    # extra shuffle), matching the reference's write-side-only semantics.
    sort_order_id = None
    if sort_order is not None and sort_order.fields:
        by_id = {f.field_id: f.name for f in schema.fields}
        sort_cols = []
        for sf in sort_order.fields:
            c = F.col(by_id[sf.source_id])
            c = c.desc() if sf.direction == "desc" else c.asc()
            sort_cols.append(c)
        data = data.sortWithinPartitions(*sort_cols)
        sort_order_id = sort_order.order_id

    # parquet-level sort metadata: identity sort fields map onto
    # pq.SortingColumn (column index in the file schema, descending and
    # nulls-first flags); transform sorts (bucket/truncate) have no
    # parquet equivalent and are carried by the Iceberg sort-order id
    # alone. Encoded as plain tuples so the task closure pickles cleanly.
    sorting_cols: list[tuple] = []
    if sort_order is not None and sort_order.fields:
        col_idx = {f.field_id: i for i, f in enumerate(schema.fields)}
        for sf in sort_order.fields:
            if sf.transform != "identity" or sf.source_id not in col_idx:
                sorting_cols = []
                break
            sorting_cols.append(
                (
                    col_idx[sf.source_id],
                    sf.direction == "desc",
                    sf.null_order == "nulls-first",
                )
            )

    arrow_schema_fields = [(f.name, f.field_type) for f in schema.fields]
    spec_fields = [(pf.name, str(pf.transform)) for pf in spec.fields]
    schema_pickle = schema
    spec_pickle = spec
    if target_file_size is None:
        # honor the table property on EVERY write path (overwrite,
        # upsert, delete keys) — explicit arg still wins
        target_file_size = int(
            (properties or {}).get(
                "write.target-file-size-bytes", str(TARGET_FILE_SIZE_BYTES)
            )
        )
    target_size = target_file_size
    codec, codec_level = parquet_compression(properties or {})
    metrics_modes = resolve_metrics_modes(schema, properties, strict=strict_metrics)
    _props = properties or {}
    # ref parquet_files.go:47-50: 128 MB row groups, 1,048,576-row cap
    rg_size_bytes = int(_props.get("write.parquet.row-group-size-bytes", 128 * 1024 * 1024))
    rg_row_limit = int(_props.get("write.parquet.row-group-limit", 1_048_576))
    # page/dict sizing maps straight onto pyarrow's writer knobs
    # (ref parquet_files.go:51-56 defaults: 1 MB pages, 2 MB dicts)
    page_size = int(_props.get("write.parquet.page-size-bytes", 1024 * 1024))
    dict_size = int(_props.get("write.parquet.dict-size-bytes", 2 * 1024 * 1024))
    if min(rg_size_bytes, rg_row_limit, page_size, dict_size) <= 0:
        raise ValueError("parquet row-group/page/dict sizing must be positive")
    float_fields = [
        (f.name, f.field_id)
        for f in schema.fields
        if isinstance(f.field_type, (FloatType, DoubleType))
    ]

    def write_task(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        # mapInArrow (not mapInPandas): the pandas bridge folds float NaN
        # into null (pa.Table.from_pandas treats NaN as missing), silently
        # changing user data on append. Arrow batches keep NaN-vs-null
        # distinct end-to-end, and real nan_value_counts are harvested
        # from isnan over valid values — ref manifest.go:1925-1991.
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from pyspark import TaskContext

        from . import fileio

        tc = TaskContext.get()
        # partition id + ATTEMPT id: speculative/retried attempts of the
        # same task must never write the same path concurrently (the
        # attempt id is unique per attempt; Iceberg writers embed one in
        # the filename for the same reason)
        task_id = f"{tc.partitionId()}-{tc.taskAttemptId()}" if tc else "0-0"
        aschema = _arrow_schema(schema_pickle)
        writers: dict[tuple, Any] = {}
        paths: dict[tuple, str] = {}
        parts: dict[tuple, dict] = {}
        nan_counts: dict[tuple, dict[int, int]] = {}
        est_bytes: dict[tuple, int] = {}
        counter = [0]

        done: list[str] = []

        def close_one(key: tuple) -> None:
            flush_buffer(key)  # pending rows belong to THIS file
            writers.pop(key).close()
            path = paths.pop(key)
            est_bytes.pop(key, None)
            stats = _stats_from_parquet(path, schema_pickle, metrics_modes)
            counts = nan_counts.pop(key)
            stats["nan_value_counts"] = {
                fid: counts.get(fid, 0)
                for _, fid in float_fields
                if metrics_modes[fid][0] != "none"
            }
            dfile = DataFile(
                file_path=path,
                file_format="PARQUET",
                partition=parts.pop(key),
                file_size_in_bytes=fileio.size(path),
                sort_order_id=sort_order_id,
                **stats,
            )
            done.append(_encode_descriptor(dfile))

        def writer_for(key: tuple, part_values: dict):
            if key not in writers:
                if spec_pickle.fields:
                    part_path = spec_pickle.partition_to_path(
                        [part_values[n] for n in part_names], schema_pickle
                    )
                    d = os.path.join(location, "data", part_path)
                else:
                    d = os.path.join(location, "data")
                fileio.makedirs(d)
                fname = f"00000-{task_id}-{counter[0]}-{commit_uuid}.parquet"
                counter[0] += 1
                path = os.path.join(d, fname)
                writers[key] = fileio.parquet_writer(
                    path,
                    aschema,
                    compression=codec,
                    compression_level=codec_level,
                    data_page_size=page_size,
                    dictionary_pagesize_limit=dict_size,
                    # page-level min/max index: readers skip pages, not
                    # just row groups — the fine-grained half of the
                    # pruning cascade on sorted/clustered columns
                    write_page_index=True,
                    sorting_columns=[
                        pq.SortingColumn(ci, descending=d, nulls_first=nf)
                        for ci, d, nf in sorting_cols
                    ]
                    or None,
                )
                paths[key] = path
                parts[key] = dict(part_values)
                nan_counts[key] = {}
                est_bytes[key] = 0
            return writers[key]

        def maybe_roll(key: tuple) -> None:
            # rolling writer: split a partition's stream at the target
            # file size — ref rolling_data_writer.go:112-215 (512MB
            # default via write.target-file-size-bytes). Local files use
            # the exact on-disk size; object-store writers buffer until
            # close, so roll on accumulated in-memory batch bytes there
            # (conservative: uncompressed >= compressed, files roll early).
            if key not in paths:
                return
            sz = (
                os.path.getsize(paths[key])
                if fileio.is_local(paths[key])
                else est_bytes[key]
            )
            if sz >= target_size:
                close_one(key)

        # Row-group accumulation: incoming Arrow batches (~10k rows) are
        # buffered per open file and flushed as ONE parquet row group at
        # write.parquet.row-group-size-bytes / row-group-limit — tiny
        # per-batch row groups would bloat footers and make row-group
        # pruning chatty at 100 TB. The flush threshold is capped at a
        # quarter of the target file size so small targets (tests, WAP
        # staging) still roll: roll checks run at flush boundaries, the
        # same between-row-groups cadence the reference uses, so a file
        # can overshoot the target by at most one compressed row group.
        # Executor memory holds <= one uncompressed row group per OPEN
        # writer (unpartitioned appends: exactly one).
        flush_bytes = max(1, min(rg_size_bytes, target_size // 4))
        buffers: dict[tuple, list] = {}
        buf_bytes: dict[tuple, int] = {}
        buf_rows: dict[tuple, int] = {}

        def flush_buffer(key: tuple) -> None:
            """Write the pending buffer as ONE row group (no roll check —
            callers decide). Rolls only ever happen with an empty buffer,
            so every buffered piece lands in the file whose nan-count
            slot it was attributed to at append time."""
            pieces = buffers.get(key)
            if not pieces:
                return
            tbl = pa.concat_tables(pieces) if len(pieces) > 1 else pieces[0]
            buffers[key] = []
            buf_bytes[key] = 0
            buf_rows[key] = 0
            writers[key].write_table(tbl, row_group_size=max(tbl.num_rows, 1))
            est_bytes[key] += tbl.nbytes

        def write_group(key: tuple, part_values: dict, tbl: "pa.Table") -> None:
            tbl = tbl.select(field_names).cast(aschema)
            row_bytes = max(1, tbl.nbytes // max(1, tbl.num_rows))
            pos = 0
            while pos < tbl.num_rows:
                # (re)open after a roll; fresh files get fresh stat slots
                writer_for(key, part_values)
                # never take past the current flush threshold, so roll
                # checks stay sub-target even when one incoming batch
                # exceeds the whole target file size (tiny test targets)
                to_flush = max(
                    1, (flush_bytes - buf_bytes.get(key, 0)) // row_bytes + 1
                )
                take = min(
                    tbl.num_rows - pos, rg_row_limit - buf_rows.get(key, 0), to_flush
                )
                piece = tbl.slice(pos, take)
                pos += take
                acc = nan_counts[key]
                for fname, fid in float_fields:
                    c = pc.sum(pc.is_nan(piece[fname])).as_py()
                    if c:
                        acc[fid] = acc.get(fid, 0) + c
                buffers.setdefault(key, []).append(piece)
                buf_bytes[key] = buf_bytes.get(key, 0) + piece.nbytes
                buf_rows[key] = buf_rows.get(key, 0) + piece.num_rows
                if buf_bytes[key] >= flush_bytes or buf_rows[key] >= rg_row_limit:
                    flush_buffer(key)
                    maybe_roll(key)

        for batch in batches:
            if batch.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([batch])
            if not spec_pickle.fields:
                write_group((), {}, tbl)
                continue
            # group rows by the transform columns, arrow-side: dictionary-
            # encode each partition column, fold the codes into one int64
            # key (null = code 0), then filter per distinct key. After the
            # repartition above, a task usually sees one or few groups.
            combined = None
            for n in part_names:
                col = tbl[f"__part_{n}"].combine_chunks()
                enc = col.dictionary_encode()
                codes = pc.add(pc.fill_null(pc.cast(enc.indices, pa.int64()), -1), 1)
                card = len(enc.dictionary) + 1
                # checked kernels: silent int64 wraparound would merge
                # DISTINCT partition tuples into one fanout group (rows
                # written under the wrong partition metadata)
                combined = (
                    codes
                    if combined is None
                    else pc.add_checked(pc.multiply_checked(combined, card), codes)
                )
            for uval in pc.unique(combined):
                mask = pc.equal(combined, uval)
                sub = tbl.filter(mask)
                key_vals = tuple(sub[f"__part_{n}"][0].as_py() for n in part_names)
                part_values = {
                    n: _partition_key_value(v) for n, v in zip(part_names, key_vals)
                }
                write_group(key_vals, part_values, sub)

        for key in list(writers):
            close_one(key)
        yield pa.RecordBatch.from_arrays(
            [pa.array(done, type=pa.string())], names=["descriptor"]
        )

    from . import fileio as _fileio

    desc = data.mapInArrow(_fileio.shipped(write_task), _DESCRIPTOR_SCHEMA)
    return [_decode_descriptor(r.descriptor) for r in desc.collect()]


# ------------------------------------------------------------- coordinator

def _summary_props(
    data_files: list[DataFile],
    parent_summary: dict,
    partition_limit: int = 0,
) -> dict[str, str]:
    """Snapshot summary counters — ref table/snapshots.go:89-179 — plus
    the per-partition summaries of SnapshotSummaryCollector
    (snapshots.go:358-443), capped by write.summary.partition-limit
    (0 = off, the reference default)."""
    added_files = len(data_files)
    added_records = sum(f.record_count for f in data_files)
    added_size = sum(f.file_size_in_bytes for f in data_files)
    out = update_snapshot_totals(
        {
            "added-data-files": str(added_files),
            "added-records": str(added_records),
            "added-files-size": str(added_size),
        },
        parent_summary,
    )
    partitions: dict[str, tuple[int, int]] = {}
    for f in data_files:
        if not f.partition:
            continue
        key = "/".join(f"{k}={v}" for k, v in sorted(f.partition.items()))
        n, sz = partitions.get(key, (0, 0))
        partitions[key] = (n + f.record_count, sz + f.file_size_in_bytes)
    out["changed-partition-count"] = str(len(partitions))
    if 0 < len(partitions) <= partition_limit:
        for key, (n, sz) in sorted(partitions.items()):
            out[f"partitions.{key}"] = f"added-records={n},added-files-size={sz}"
    return out


def _merge_appended_manifests(md, parent, new_manifest, commit_uuid, attempt):
    """mergeManager on the APPEND path — ref snapshot_producers.go:245-373:
    when `commit.manifest-merge.enabled` (default FALSE, matching the
    reference's table/properties.go:58-59 — upstream Java Iceberg
    defaults it true, but the reference being rebuilt does not) and the
    table holds >= `commit.manifest.min-count-to-
    merge` small DATA manifests, bin-pack them (parent's + this commit's)
    into >= target-size merged manifests written as part of THE SAME
    append snapshot — without this, a streaming sink appending every
    micro-batch accumulates one manifest per commit and planning/admission
    walks degrade O(commits).

    Correctness invariants (each pinned by tests/test_maintenance.py's
    merge-append battery):
      * parent entries are re-written with EXPLICIT sequence numbers and
        materialized first_row_id (status EXISTING) — inheritance from
        the NEW manifest-list row would re-stamp them with the new
        snapshot's sequence number and fresh row ids;
      * this commit's entries stay ADDED with null seq/first_row_id, so
        they inherit the new snapshot's sequence number and draw fresh
        row ids from the merged manifest's assigned range, exactly as
        they would from their own manifest;
      * the merged ManifestFile keeps min_sequence_number = the oldest
        merged entry's (the commit stamp preserves explicit lower
        values), so delete-manifest sequence gating is unchanged;
      * specs are never mixed within a bin (re-keying a foreign-spec
        partition tuple would null its values and break pruning).

    Returns (new_manifests, carried) or None when disabled / below the
    threshold."""
    from .maintenance import (
        MANIFEST_MERGE_ENABLED,
        MANIFEST_MIN_MERGE_COUNT,
        MANIFEST_TARGET_SIZE,
    )

    props = md.properties
    if props.get(MANIFEST_MERGE_ENABLED, "false").lower() != "true":
        return None
    try:
        target = int(props.get(MANIFEST_TARGET_SIZE, str(8 * 1024 * 1024)))
        minc = int(props.get(MANIFEST_MIN_MERGE_COUNT, "100"))
    except (TypeError, ValueError):
        return None
    parent_manifests = list(parent.manifests()) if parent is not None else []
    data_m = [m for m in parent_manifests if m.content == ManifestContent.DATA]
    others = [m for m in parent_manifests if m.content != ManifestContent.DATA]
    candidates = data_m + [new_manifest]
    small = [m for m in candidates if m.manifest_length < target]
    if len(small) < minc:
        return None

    by_spec: dict[int, list] = {}
    for m in small:
        by_spec.setdefault(m.partition_spec_id, []).append(m)
    bins: list[list] = []
    for spec_manifests in by_spec.values():
        cur: list = []
        cur_size = 0
        for m in sorted(spec_manifests, key=lambda m: m.manifest_length):
            cur.append(m)
            cur_size += m.manifest_length
            if cur_size >= target:
                bins.append(cur)
                cur, cur_size = [], 0
        if cur:
            bins.append(cur)
    # singleton bins are left untouched: a parent manifest in one is
    # already carried by the data_m-minus-merged filter below, and a
    # singleton NEW manifest is appended after the loop — re-adding them
    # here would list the same manifest twice (duplicated rows on scan)
    bins = [b for b in bins if len(b) > 1]
    if not bins:
        return None

    schema = md.current_schema()
    new_manifests: list[ManifestFile] = []
    merged_away: set[str] = set()
    for i, group in enumerate(bins):
        entries: list[ManifestEntry] = []
        spec_id = group[0].partition_spec_id
        for m in group:
            merged_away.add(m.manifest_path)
            if m is new_manifest:
                # this commit's own entries: no inheritance — they stay
                # ADDED with null seq / first_row_id (assigned at commit)
                entries.extend(read_manifest(m.manifest_path))
                continue
            for e in read_manifest(
                m.manifest_path,
                inherit_sequence_number=m.sequence_number,
                inherit_first_row_id=m.first_row_id,
            ):
                e.status = ManifestEntryStatus.EXISTING
                entries.append(e)
        path = os.path.join(
            md.location, "metadata", f"{commit_uuid}-ma{attempt}-m{i}.avro"
        )
        new_manifests.append(
            write_manifest(
                path,
                md.spec_by_id(spec_id),
                schema,
                new_manifest.added_snapshot_id,
                entries,
            )
        )
    if new_manifest.manifest_path not in merged_away:
        new_manifests.append(new_manifest)
    carried = [m for m in data_m if m.manifest_path not in merged_away] + others
    return new_manifests, carried, len(merged_away)


def commit_data_files(
    table,
    data_files: list[DataFile],
    operation: str = "append",
    snapshot_properties: Optional[dict] = None,
    max_retries: int = 4,
    branch: str = MAIN_BRANCH,
) -> None:
    """Coordinator commit with the optimistic retry loop —
    ref distributed_snapshot.go:83-114 + design doc :89-93."""
    attempt = 0
    while True:
        ds = begin_distributed_snapshot(table, snapshot_properties, branch=branch)
        md = table.metadata
        schema = md.current_schema()
        spec = md.default_spec()
        manifest_path = os.path.join(
            md.location, "metadata", f"{ds.commit_uuid}-m{attempt}.avro"
        )
        from . import fileio

        fileio.makedirs(os.path.dirname(manifest_path))
        entries = [
            ManifestEntry(
                status=ManifestEntryStatus.ADDED,
                snapshot_id=ds.snapshot_id,
                sequence_number=None,  # inherited from the snapshot
                file_sequence_number=None,
                data_file=f,
            )
            for f in data_files
        ]
        manifest = write_manifest(
            manifest_path, spec, schema, ds.snapshot_id, entries
        )
        parent = md.snapshot_by_id(ds.parent_snapshot_id) if ds.parent_snapshot_id else None
        parent_summary = parent.summary.properties if parent else {}
        limit = int(md.properties.get("write.summary.partition-limit", "0"))
        props = _summary_props(data_files, parent_summary, partition_limit=limit)
        props.update({str(k): str(v) for k, v in (snapshot_properties or {}).items()})
        # merge-append: bin-pack accumulated small manifests into this
        # commit (ref snapshot_producers.go mergeManager) — same file
        # set, bounded manifest count under continuous appends
        new_manifests, carried = [manifest], None
        merged = _merge_appended_manifests(
            md, parent, manifest, ds.commit_uuid, attempt
        )
        if merged is not None:
            new_manifests, carried, n_merged = merged
            props["manifests-merged"] = str(n_merged)
        summary = Summary(operation, props)
        tx = table.transaction()
        try:
            tx.commit_snapshot_from_manifests(
                snapshot_id=ds.snapshot_id,
                commit_uuid=ds.commit_uuid,
                manifests=new_manifests,
                summary=summary,
                parent_snapshot_id=ds.parent_snapshot_id,
                branch=branch,
                carried_manifests=carried,
            )
            tx.commit()
            return
        except CommitConflictError:
            attempt += 1
            if attempt > max_retries:
                raise
            table.refresh()  # restart from reservation with fresh state


def append_distributed(
    table, df, snapshot_properties: Optional[dict] = None, branch: str = MAIN_BRANCH
) -> None:
    """Table.append: executors write, coordinator commits —
    ref table/table.go:123-130 + transaction.go:372-398, re-expressed as
    the distributed-snapshot protocol (our default write path)."""
    ds = begin_distributed_snapshot(table, snapshot_properties, branch=branch)
    md = table.metadata
    order = next(
        (o for o in md.sort_orders if o.order_id == md.default_sort_order_id), None
    )
    target = int(
        md.properties.get("write.target-file-size-bytes", str(TARGET_FILE_SIZE_BYTES))
    )
    data_files = write_data_files(
        df,
        md.current_schema(),
        md.default_spec(),
        md.location,
        ds.commit_uuid,
        sort_order=order,
        target_file_size=target,
        properties=md.properties,
    )
    commit_data_files(
        table,
        data_files,
        operation="append",
        snapshot_properties=snapshot_properties,
        branch=branch,
    )


def commit_distributed_snapshot(table, ds, manifests, summary_props=None) -> None:
    """Commit worker-written manifests as one snapshot —
    ref distributed_snapshot.go:83-114. Totals derive from the
    manifest-list counts so the running total-* counters stay truthful
    on this path too (snapshots.go:445-486).

    Deliberately NO merge-append here: this is the low-level "commit
    exactly these manifests" API for external-worker protocols (and the
    planning benchmark's wide-metadata builder depends on the count
    surviving); the Table.append path merges via commit_data_files."""
    manifests = list(manifests)
    props = dict(summary_props or {})
    props.setdefault(
        "added-data-files", str(sum(m.added_files_count for m in manifests))
    )
    props.setdefault(
        "added-records", str(sum(m.added_rows_count for m in manifests))
    )
    parent = (
        table.metadata.snapshot_by_id(ds.parent_snapshot_id)
        if ds.parent_snapshot_id
        else None
    )
    props = update_snapshot_totals(
        props, parent.summary.properties if parent else {}
    )
    tx = table.transaction()
    tx.commit_snapshot_from_manifests(
        snapshot_id=ds.snapshot_id,
        commit_uuid=ds.commit_uuid,
        manifests=manifests,
        summary=Summary("append", props),
        parent_snapshot_id=ds.parent_snapshot_id,
    )
    tx.commit()


# ------------------------------------------------ deletes & overwrite (DML)

def update_snapshot_totals(props: dict, parent_props: dict) -> dict:
    """Running `total-*` counters, the reference's incremental rule —
    ref table/snapshots.go:445-486 (updateSnapshotSummaries): for each
    counter, total = parent_total + added − removed, set only when the
    result is non-negative. Applied to EVERY snapshot commit so delete /
    overwrite / replace snapshots carry truthful totals, not just
    appends."""
    for total, added, removed in (
        ("total-data-files", "added-data-files", "deleted-data-files"),
        ("total-delete-files", "added-delete-files", "removed-delete-files"),
        ("total-records", "added-records", "deleted-records"),
        ("total-files-size", "added-files-size", "removed-files-size"),
        ("total-position-deletes", "added-position-deletes", "removed-position-deletes"),
        ("total-equality-deletes", "added-equality-deletes", "removed-equality-deletes"),
    ):
        new_total = (
            int(parent_props.get(total, "0"))
            + int(props.get(added, "0"))
            - int(props.get(removed, "0"))
        )
        if new_total >= 0:
            props[total] = str(new_total)
    return props


def _delete_drop_kind(e, replaced_dv_refs, drop_equality_deletes,
                      drop_position_files=False):
    """Why a carried delete entry is dropped: 'dv' (its referenced data
    file got a new DV this commit), 'eq' (equality deletes are being
    materialized away), 'pos' (legacy v2 positional parquet files are
    being converted to DVs), or None (kept)."""
    from .manifest import DataFileContent

    if (
        replaced_dv_refs
        and e.data_file.content_offset is not None
        and e.data_file.referenced_data_file in replaced_dv_refs
    ):
        return "dv"
    if (
        drop_equality_deletes
        and e.data_file.content == DataFileContent.EQUALITY_DELETES
    ):
        return "eq"
    if (
        drop_position_files
        and e.data_file.content == DataFileContent.POSITION_DELETES
        and e.data_file.content_offset is None
    ):
        return "pos"
    return None


def _rewrite_parent_manifests(
    md, removed_paths: set, commit_uuid: str, tag: str,
    replaced_dv_refs: Optional[set] = None,
    drop_equality_deletes: bool = False,
    drop_position_files: bool = False,
):
    """Carry forward the parent's manifests, dropping entries for
    `removed_paths`; untouched manifests are reused as-is (ref
    snapshot_producers.go:104-243 overwriteFiles: rewrites carried-over
    manifests dropping deleted entries). Returns ``(carried, removed)``
    where ``removed`` accounts the dropped entries the way the
    reference's updateMetrics.removeFile does (snapshots.go:128-148) so
    callers can emit truthful removed-* summary counters. DV entries
    dropped because this commit REPLACED them (merge-and-replace) are
    accounted separately in ``replaced_dv_positions`` and excluded from
    ``removed-position-deletes``: the matching added-position-deletes
    counts only the NEWLY deleted positions, so the pair nets to the
    true total change.

    v3: rewritten data manifests materialize each kept file's
    first_row_id (inherited from the manifest's assignment) so row
    lineage survives the rewrite, and the new manifest keeps the old
    first_row_id — no ids are re-burned. `replaced_dv_refs` drops
    deletion-vector entries whose referenced data file got a new DV
    this commit (spec: at most one DV per data file)."""
    from .manifest import ManifestContent, read_manifest, write_manifest

    v3 = md.format_version >= 3
    parent = md.current_snapshot()
    carried = []
    removed_metrics = {
        "deleted-records": 0,
        "removed-files-size": 0,
        "removed-delete-files": 0,
        "removed-position-deletes": 0,
        "removed-equality-deletes": 0,
        "replaced_dv_positions": 0,
    }
    if parent is None:
        return carried, removed_metrics

    def _account_dropped_data(e):
        removed_metrics["deleted-records"] += e.data_file.record_count
        removed_metrics["removed-files-size"] += e.data_file.file_size_in_bytes

    for i, m in enumerate(parent.manifests()):
        entries = read_manifest(
            m.manifest_path,
            inherit_sequence_number=m.sequence_number,
            inherit_first_row_id=m.first_row_id if v3 else None,
        )
        if m.content == ManifestContent.DATA and any(
            e.data_file.file_path in removed_paths for e in entries
        ):
            kept = [e for e in entries if e.data_file.file_path not in removed_paths]
            for e in entries:
                if e.data_file.file_path in removed_paths:
                    _account_dropped_data(e)
            if not kept:
                continue  # whole manifest dropped
            for e in kept:
                e.status = ManifestEntryStatus.EXISTING
            path = os.path.join(
                md.location, "metadata", f"{commit_uuid}-{tag}-rw{i}.avro"
            )
            spec = md.spec_by_id(m.partition_spec_id)
            schema = md.current_schema()
            mf = write_manifest(path, spec, schema, parent.snapshot_id, kept)
            mf.sequence_number = m.sequence_number
            mf.min_sequence_number = m.min_sequence_number
            mf.first_row_id = m.first_row_id
            carried.append(mf)
        elif m.content == ManifestContent.DELETES and (
            replaced_dv_refs or drop_equality_deletes or drop_position_files
        ) and any(_delete_drop_kind(e, replaced_dv_refs, drop_equality_deletes,
                                    drop_position_files)
                  for e in entries):
            kept = [
                e
                for e in entries
                if not _delete_drop_kind(e, replaced_dv_refs,
                                         drop_equality_deletes,
                                         drop_position_files)
            ]
            for e in entries:
                kind = _delete_drop_kind(e, replaced_dv_refs,
                                         drop_equality_deletes,
                                         drop_position_files)
                if kind == "dv":
                    removed_metrics["removed-delete-files"] += 1
                    removed_metrics["replaced_dv_positions"] += (
                        e.data_file.record_count
                    )
                    removed_metrics["removed-files-size"] += (
                        e.data_file.content_size_in_bytes
                        or e.data_file.file_size_in_bytes
                    )
                elif kind == "eq":
                    removed_metrics["removed-delete-files"] += 1
                    removed_metrics["removed-equality-deletes"] += (
                        e.data_file.record_count
                    )
                    removed_metrics["removed-files-size"] += (
                        e.data_file.file_size_in_bytes
                    )
                elif kind == "pos":
                    removed_metrics["removed-delete-files"] += 1
                    removed_metrics["removed-position-deletes"] += (
                        e.data_file.record_count
                    )
                    removed_metrics["removed-files-size"] += (
                        e.data_file.file_size_in_bytes
                    )
            if not kept:
                continue
            for e in kept:
                e.status = ManifestEntryStatus.EXISTING
            path = os.path.join(
                md.location, "metadata", f"{commit_uuid}-{tag}-dvrw{i}.avro"
            )
            spec = md.spec_by_id(m.partition_spec_id)
            mf = write_manifest(
                path, spec, md.current_schema(), parent.snapshot_id, kept,
                content=ManifestContent.DELETES,
            )
            mf.sequence_number = m.sequence_number
            mf.min_sequence_number = m.min_sequence_number
            carried.append(mf)
        else:
            carried.append(m)
    return carried, removed_metrics


def _commit_manifests(table, new_manifests, carried, operation: str, extra_summary=None,
                      snapshot_id=None, commit_uuid=None, parent_snapshot_id=None,
                      extra_updates=None):
    """Generalized snapshot commit from explicit manifest sets."""
    import time as _time

    from .metadata import Snapshot, Summary
    from .transaction import (
        AddSnapshotUpdate,
        AssertRefSnapshotID,
        AssertTableUUID,
        SetSnapshotRef,
    )

    md = table.metadata
    ds_sid = snapshot_id if snapshot_id is not None else begin_distributed_snapshot(table).snapshot_id
    uuid_ = commit_uuid or str(_uuid.uuid4())
    parent_id = parent_snapshot_id if parent_snapshot_id is not None else md.current_snapshot_id
    parent_snap = md.snapshot_by_id(parent_id) if parent_id is not None else None
    extra_summary = update_snapshot_totals(
        dict(extra_summary or {}),
        parent_snap.summary.properties if parent_snap else {},
    )
    tx = table.transaction()
    seq = tx._builder.next_sequence_number()
    for m in new_manifests:
        m.sequence_number = seq
        # preserve an explicitly-older min (merged/rewritten manifests):
        # the delete-gating lower bound must never move forward
        m.min_sequence_number = (
            min(m.min_sequence_number, seq) if m.min_sequence_number else seq
        )
    list_path = os.path.join(md.location, "metadata", f"snap-{ds_sid}-1-{uuid_}.avro")
    from . import fileio

    fileio.makedirs(os.path.dirname(list_path))
    from .manifest import write_manifest_list

    fv = md.format_version
    first_row_id = (md.next_row_id or 0) if fv >= 3 else None
    assigned = write_manifest_list(
        list_path,
        list(new_manifests) + list(carried),
        format_version=fv,
        first_row_id=first_row_id,
        snapshot_id=ds_sid,
        sequence_number=seq,
        parent_snapshot_id=parent_id,
    )
    snap = Snapshot(
        snapshot_id=ds_sid,
        parent_snapshot_id=parent_id,
        sequence_number=seq,
        timestamp_ms=int(_time.time() * 1000),
        manifest_list=list_path,
        summary=Summary(operation, extra_summary or {}),
        schema_id=md.current_schema_id,
        first_row_id=first_row_id,
        added_rows=assigned if fv >= 3 else None,
    )
    tx.apply(
        list(extra_updates or []) + [AddSnapshotUpdate(snap), SetSnapshotRef(MAIN_BRANCH, ds_sid)],
        [AssertTableUUID(md.table_uuid), AssertRefSnapshotID(MAIN_BRANCH, parent_id)],
    )
    tx.commit()


def _row_matcher(md, expr):
    """(bound predicate, reader fields of its columns, name mapping):
    what `reader.matched_positions` needs to match a data file's rows
    under the current schema."""
    from .expressions import bind_expr, extract_field_names, rewrite_not
    from .reader import mapped_names, read_fields

    schema = md.current_schema()
    bound = bind_expr(rewrite_not(expr), schema)
    names = extract_field_names(bound)
    fields = [f for f in read_fields(schema) if f[1] in names]
    return bound, fields, mapped_names(md.properties)


def write_position_deletes(spark, table, tasks, expr, commit_uuid: str):
    """Executor-side: per matched data file, match its rows with
    `reader.matched_positions`, emit sorted (file_path, pos) delete
    rows — the merge-on-read write half (spec position deletes; ref
    manifest.go:2395 PositionalDeleteSchema). One parquet file per
    task, through `table._map_rows`."""
    from .manifest import positional_delete_schema
    from .table import _map_rows

    md = table.metadata
    bound, fields, mapped = _row_matcher(md, expr)
    location = md.location
    del_schema = positional_delete_schema()
    codec, codec_level = parquet_compression(md.properties)

    def task(batches):
        import pyarrow as pa

        from pyspark import TaskContext

        from . import fileio
        from .manifest import DataFileContent
        from .reader import matched_positions

        tc = TaskContext.get()
        # partition id + ATTEMPT id: speculative/retried attempts of the
        # same task must never write the same path concurrently (the
        # attempt id is unique per attempt; Iceberg writers embed one in
        # the filename for the same reason)
        task_id = f"{tc.partitionId()}-{tc.taskAttemptId()}" if tc else "0-0"
        # column-wise accumulation: a predicate matching millions of
        # rows must not materialize per-position Python ints/strings
        paths_parts, pos_parts = [], []
        for batch in batches:
            for data_path in batch.column("data_file").to_pylist():
                pos = matched_positions(data_path, fields, mapped, bound)
                pos_parts.append(pa.array(pos))
                paths_parts.append(pa.repeat(pa.scalar(data_path), len(pos)))
        if not sum(len(p) for p in pos_parts):
            return
        d = os.path.join(location, "data")
        fileio.makedirs(d)
        path = os.path.join(d, f"00000-{task_id}-{commit_uuid}-deletes.parquet")
        apa = _arrow_schema(del_schema)
        pq_tbl = pa.table(
            [pa.concat_arrays(paths_parts), pa.concat_arrays(pos_parts)], schema=apa
        ).sort_by([("file_path", "ascending"), ("pos", "ascending")])
        with fileio.parquet_writer(
            path, apa, compression=codec, compression_level=codec_level
        ) as w:
            w.write_table(pq_tbl)
        dfile = DataFile(
            file_path=path,
            file_format="PARQUET",
            partition={},
            file_size_in_bytes=fileio.size(path),
            content=DataFileContent.POSITION_DELETES,
            **_stats_from_parquet(path, del_schema),
        )
        yield pa.record_batch({"descriptor": [_encode_descriptor(dfile)]})

    out = _map_rows(
        spark,
        [(t.file.file_path,) for t in tasks],
        "data_file string",
        task,
        _DESCRIPTOR_SCHEMA,
    ).toArrow()
    return [_decode_descriptor(s) for s in out.column("descriptor").to_pylist()]


def write_deletion_vectors(spark, table, tasks, expr, commit_uuid: str):
    """Executor-side v3 delete-write half: per partially-matching data
    file, match its rows with `reader.matched_positions` and hand them
    to `puffin.write_dv_file`, which unions them with the file's
    existing deletion vector (spec: at most one DV per data file — the
    new DV replaces the old) and writes ONE puffin file per task. One
    job of one stage, through `table._map_rows`. The reference parses
    these manifest fields (manifest.go:1792-1793) but never writes DVs;
    the blob layout here follows the Iceberg v3 spec (puffin.py).

    Returns (descriptors, newly_deleted_total): each descriptor's
    record_count is the DV's full cardinality (spec), while
    newly_deleted_total counts only positions NOT already present in a
    replaced DV — the value the snapshot summary's
    added-position-deletes must report (repeated delete_where calls on
    the same file must not double-count carried-over positions)."""
    from .table import _map_rows

    md = table.metadata
    bound, fields, mapped = _row_matcher(md, expr)
    location = md.location

    def task(batches):
        from .reader import matched_positions

        yield from _write_dv_batches(
            location, commit_uuid, "deletes",
            [
                (
                    r["data_file"],
                    matched_positions(r["data_file"], fields, mapped, bound),
                    _dv_pointer(r),
                    r["part"],
                )
                for batch in batches
                for r in batch.to_pylist()
            ],
        )

    out = _map_rows(
        spark, [_dv_work_row(t) for t in tasks], _DV_WORK_DDL, task, _DV_OUT_DDL
    ).toArrow()
    descs = [_decode_descriptor(s) for s in out.column("descriptor").to_pylist()]
    return descs, sum(out.column("newly").to_pylist())


# one work row per data file a DV writer touches: the file, its
# existing deletion vector (null when it has none) and its partition
# tuple (`_encode_partition` JSON)
_DV_WORK_DDL = "data_file string, dv_path string, dv_offset bigint, dv_size bigint, part string"


def _dv_work_row(t) -> tuple:
    """`_DV_WORK_DDL` row of a planned FileScanTask."""
    dv = next((d for d in t.delete_files if d.content_offset is not None), None)
    return (
        t.file.file_path,
        dv.file_path if dv else None,
        int(dv.content_offset) if dv else None,
        int(dv.content_size_in_bytes) if dv else None,
        # spec: a position-delete entry carries the referenced data
        # file's partition tuple
        json.dumps(_encode_partition(t.file.partition or {})),
    )


def _dv_pointer(r: dict):
    """(puffin path, offset, size) of a work row's existing DV, or None."""
    if r["dv_path"] is None:
        return None
    return r["dv_path"], r["dv_offset"], r["dv_size"]


# what a DV writer task returns per written deletion vector
_DV_OUT_DDL = "descriptor string, newly bigint, had_dv boolean"


def _write_dv_batches(location, commit_uuid, suffix, rows):
    """Executor side: `puffin.write_dv_file` over `rows`, its written
    DVs as one `_DV_OUT_DDL` record batch (none when nothing was
    written)."""
    import pyarrow as pa

    from .puffin import write_dv_file

    written = [w for w in write_dv_file(location, commit_uuid, suffix, rows) if w]
    if written:
        descriptors, newly, had_dv = zip(*written)
        yield pa.record_batch(
            {
                "descriptor": pa.array(descriptors, pa.string()),
                "newly": pa.array(newly, pa.int64()),
                "had_dv": pa.array(had_dv, pa.bool_()),
            }
        )


def _retry_dml_on_conflict(fn):
    """Full-operation conflict retry for row-level DML — the CAS-loser
    semantics the module header promises (refresh, RE-PLAN from the new
    base, re-execute): a naive manifest-level retry would commit stale
    delete files computed against the old snapshot (lost updates when a
    concurrent delete touched the same data file's DV). Re-running the
    whole operation against refreshed metadata is always correct; the
    loser's first-attempt files become orphans, reclaimed by
    delete_orphan_files — the same lifecycle Iceberg's own retrying
    writers produce. Ref transaction.go commit-retry intent +
    distributed_snapshot.go restart-from-reservation."""
    import functools

    @functools.wraps(fn)
    def wrapper(table, *args, _dml_retries: int = 2, **kwargs):
        attempt = 0
        while True:
            try:
                return fn(table, *args, **kwargs)
            except CommitConflictError:
                attempt += 1
                if attempt > _dml_retries:
                    raise
                table.refresh()
    return wrapper


@_retry_dml_on_conflict
def delete_where(table, spark, expr, mode: str = "merge-on-read") -> None:
    """Row-level delete. Whole files that *strictly* match the predicate
    are dropped copy-on-write style (no rewrite needed); partially
    matching files get position-delete files (merge-on-read) — the
    read path anti-joins them (ref scanner.go:285-309 matching +
    arrow_scanner.go:153-190 application). On v3 tables the
    merge-on-read half writes puffin deletion vectors instead of
    parquet position-delete files (spec v3: new position deletes MUST
    be DVs), replacing any prior DV for the same data file."""
    from .evaluators import strict_metrics_evaluator
    from .manifest import ManifestContent, ManifestEntry, ManifestEntryStatus, write_manifest

    if mode != "merge-on-read":
        raise NotImplementedError(
            f"delete mode {mode!r}: only 'merge-on-read' is implemented "
            "(copy-on-write full-row rewrite = overwrite_where)"
        )
    md = table.metadata
    schema = md.current_schema()
    tasks = table.scan(row_filter=expr).plan_files()
    if not tasks:
        return
    strict = strict_metrics_evaluator(schema, expr)
    full = [t for t in tasks if strict(t.file)]
    partial = [t for t in tasks if not strict(t.file)]
    ds = begin_distributed_snapshot(table)

    removed = {t.file.file_path for t in full}
    new_manifests = []
    replaced_dv_refs: set = set()
    newly_deleted = None
    if partial:
        if md.format_version >= 3:
            delete_files, newly_deleted = write_deletion_vectors(
                spark, table, partial, expr, ds.commit_uuid
            )
            replaced_dv_refs = {f.referenced_data_file for f in delete_files}
        else:
            delete_files = write_position_deletes(
                spark, table, partial, expr, ds.commit_uuid
            )
        if delete_files:
            entries = [
                ManifestEntry(
                    status=ManifestEntryStatus.ADDED,
                    snapshot_id=ds.snapshot_id,
                    sequence_number=None,
                    file_sequence_number=None,
                    data_file=f,
                )
                for f in delete_files
            ]
            path = os.path.join(md.location, "metadata", f"{ds.commit_uuid}-deletes-m0.avro")
            mf = write_manifest(
                path, md.default_spec(), schema, ds.snapshot_id, entries,
                content=ManifestContent.DELETES,
            )
            new_manifests.append(mf)

    carried, rm = _rewrite_parent_manifests(
        md, removed, ds.commit_uuid, "del",
        replaced_dv_refs=replaced_dv_refs or None,
    )
    # summary counters named as the reference's builder names them —
    # ref table/snapshots.go:67-86 + updateMetrics; removed-* counters
    # come from the parent-manifest rewrite so update_snapshot_totals
    # keeps the running total-* counters truthful on delete snapshots.
    summary = {
        "deleted-data-files": str(len(removed)),
        "deleted-records": str(rm["deleted-records"]),
        "removed-files-size": str(rm["removed-files-size"]),
        "removed-delete-files": str(rm["removed-delete-files"]),
        "removed-position-deletes": str(rm["removed-position-deletes"]),
    }
    if partial and delete_files:
        # v3: count only positions newly matched this call — a replaced
        # DV's carried-over (unioned) positions were already reported by
        # the snapshot that added them (ref snapshots.go builder counts
        # added deletes, not total cardinality). The replaced DV's
        # positions are likewise excluded from removed-position-deletes
        # (accounted as replaced_dv_positions), so
        # total-position-deletes advances by exactly the newly deleted.
        summary["added-position-deletes"] = str(
            newly_deleted
            if newly_deleted is not None
            else sum(f.record_count for f in delete_files)
        )
        summary["added-position-delete-files"] = str(len(delete_files))
        summary["added-delete-files"] = str(len(delete_files))
        summary["added-files-size"] = str(
            sum(
                (f.content_size_in_bytes or f.file_size_in_bytes)
                if f.file_format == "PUFFIN"
                else f.file_size_in_bytes
                for f in delete_files
            )
        )
        if replaced_dv_refs:
            summary["added-dvs"] = str(len(delete_files))
    _commit_manifests(
        table,
        new_manifests,
        carried,
        operation="delete",
        extra_summary=summary,
        snapshot_id=ds.snapshot_id,
        commit_uuid=ds.commit_uuid,
        parent_snapshot_id=ds.parent_snapshot_id,
    )


@_retry_dml_on_conflict
def overwrite_where(table, df, expr) -> None:
    """Copy-on-write overwrite: rewrite partially-matching files without
    the matching rows, drop strictly-matching files, append `df` — one
    OVERWRITE snapshot (ref transaction.go:408-497 ReplaceDataFiles +
    snapshot_producers.go:104-243)."""
    from pyspark.sql import functions as F

    from .evaluators import strict_metrics_evaluator
    from .expressions import bind_expr, rewrite_not, to_spark_column
    from .manifest import ManifestEntry, ManifestEntryStatus, write_manifest

    md = table.metadata
    schema = md.current_schema()
    spark = df.sparkSession
    tasks = table.scan(row_filter=expr).plan_files()
    strict = strict_metrics_evaluator(schema, expr)
    removed = {t.file.file_path for t in tasks}
    ds = begin_distributed_snapshot(table)

    # survivors of partial files (rows whose predicate is not TRUE:
    # false, null, or a NaN the comparison rejects) get rewritten
    # together with the new data — read through the MOR machinery so
    # pending position/equality deletes stay applied (a raw parquet
    # read would resurrect deleted rows into the rewritten files)
    to_write = df
    survivor_files: list = []
    partial_tasks = [t for t in tasks if not strict(t.file)]
    if partial_tasks:
        keep = ~F.coalesce(
            to_spark_column(bind_expr(rewrite_not(expr), schema)), F.lit(False)
        )
        scan = table.scan()
        if md.format_version >= 3:
            # spec v3 "Row Lineage": rewriting a partial file copies its
            # SURVIVING rows, which MUST keep their _row_id — so, like
            # compaction, materialize the reserved lineage columns into
            # the rewritten parquet (reads prefer the materialized
            # columns over manifest-list assignment). The incoming df
            # is written separately and gets fresh ids.
            from .manifest import LAST_UPDATED_SEQ_FIELD_ID, ROW_ID_FIELD_ID
            from .table import _lineage_ext_schema, attach_lineage, lineage_map_frame

            lineage_map = lineage_map_frame(spark, partial_tasks)
            srv = scan._read_with_deletes(
                spark, partial_tasks, schema, lineage=True
            )
            srv = attach_lineage(srv, lineage_map).where(keep)
            srv_schema = _lineage_ext_schema(schema)
            survivor_files = write_data_files(
                srv, srv_schema, md.default_spec(), md.location,
                f"{ds.commit_uuid}-srv",
                properties=md.properties,
            )
            reserved = {ROW_ID_FIELD_ID, LAST_UPDATED_SEQ_FIELD_ID}
            for f in survivor_files:
                for attr in (
                    "column_sizes", "value_counts", "null_value_counts",
                    "nan_value_counts", "lower_bounds", "upper_bounds",
                ):
                    m = getattr(f, attr, None)
                    if m:
                        for k in reserved & set(m):
                            del m[k]
        else:
            survivors = scan._read_with_deletes(
                spark, partial_tasks, schema
            ).where(keep)
            to_write = df.select(survivors.columns).unionByName(survivors)

    data_files = write_data_files(
        to_write, schema, md.default_spec(), md.location, ds.commit_uuid,
        properties=md.properties,
    ) + survivor_files
    entries = [
        ManifestEntry(
            status=ManifestEntryStatus.ADDED,
            snapshot_id=ds.snapshot_id,
            sequence_number=None,
            file_sequence_number=None,
            data_file=f,
        )
        for f in data_files
    ]
    new_manifests = []
    if entries:
        path = os.path.join(md.location, "metadata", f"{ds.commit_uuid}-ow-m0.avro")
        new_manifests.append(
            write_manifest(path, md.default_spec(), schema, ds.snapshot_id, entries)
        )
    carried, rm = _rewrite_parent_manifests(md, removed, ds.commit_uuid, "ow")
    _commit_manifests(
        table,
        new_manifests,
        carried,
        operation="overwrite",
        extra_summary={
            "replaced-data-files": str(len(removed)),
            "deleted-data-files": str(len(removed)),
            "deleted-records": str(rm["deleted-records"]),
            "removed-files-size": str(rm["removed-files-size"]),
            "added-data-files": str(len(data_files)),
            "added-records": str(sum(f.record_count for f in data_files)),
            "added-files-size": str(
                sum(f.file_size_in_bytes for f in data_files)
            ),
        },
        snapshot_id=ds.snapshot_id,
        commit_uuid=ds.commit_uuid,
        parent_snapshot_id=ds.parent_snapshot_id,
    )


def _added_file_path(path: str) -> str:
    """The path `add_files` records for `path`: the one Spark reports as
    `_metadata.file_path` (scheme-stripped and decoded), which
    positional deletes, DVs and equality gates match rows by. Hadoop's
    `Path` qualifies a relative local path against the working
    directory and resolves `.`, `..` and repeated `/`, so a local path
    is recorded that way. An object-store key cannot be rewritten (the
    rewrite names another object), so a non-normal one is refused."""
    import re
    from urllib.parse import urlparse

    from . import fileio

    if fileio.is_local(path):
        local = fileio.local_path(path)
        # POSIX abspath keeps a leading `//`; Hadoop collapses it too
        norm = re.sub("/+", "/", os.path.abspath(local))
        return norm if local == path else "file://" + norm
    key = urlparse(path).path
    if "//" in key or any(seg in (".", "..") for seg in key.split("/")):
        raise ValueError(
            f"add_files: {path!r} has a repeated '/' or a '.'/'..' "
            "segment; register the object's normalized path"
        )
    return path


def add_files(table, paths: list[str]) -> None:
    """Register existing Parquet files as data files, stats harvested
    from footers — ref transaction.go:499-564 (AddFiles) +
    arrow_utils.go:1189-1257 (filesToDataFiles). Paths are recorded in
    normalized, absolute form (`_added_file_path`)."""
    md = table.metadata
    schema = md.current_schema()
    if md.default_spec().fields:
        raise ValueError("add_files supports unpartitioned tables only")
    modes = resolve_metrics_modes(schema, md.properties)
    files = []
    missing_field_ids = False
    import pyarrow.parquet as pq

    for p in map(_added_file_path, paths):
        arrow_schema = pq.read_schema(p)
        if not any(
            (f.metadata or {}).get(b"PARQUET:field_id") for f in arrow_schema
        ):
            missing_field_ids = True
        from . import fileio

        stats = _stats_from_parquet(p, schema, modes=modes)
        files.append(
            DataFile(
                file_path=p,
                file_format="PARQUET",
                partition={},
                file_size_in_bytes=fileio.size(p),
                **stats,
            )
        )
    if missing_field_ids and "schema.name-mapping.default" not in table.metadata.properties:
        # files without field ids need name mapping for ID recovery
        # (ref name_mapping.go:85 / spec 'schema.name-mapping.default');
        # its presence also tells the scan to resolve columns by name
        from .sanitize import name_mapping_from_schema, name_mapping_to_json

        tx = table.transaction()
        tx.set_properties(
            {
                "schema.name-mapping.default": name_mapping_to_json(
                    name_mapping_from_schema(schema)
                )
            }
        )
        tx.commit()
    commit_data_files(table, files, operation="append")


def _unpartitioned_spec_for(md):
    """Equality-delete manifests are unpartitioned (global deletes); use
    the table's existing unpartitioned spec when one exists, else mint a
    new spec id (committed alongside via AddPartitionSpecUpdate) so the
    manifest-list row's partition_spec_id matches the entries' empty
    partition struct."""
    for sp in md.partition_specs:
        if not sp.fields:
            return sp, False
    new_id = max(sp.spec_id for sp in md.partition_specs) + 1
    return PartitionSpec(new_id, ()), True


@_retry_dml_on_conflict
def delete_by_keys(table, keys_df, key_columns: list[str]) -> None:
    """Equality deletes: remove every row whose `key_columns` tuple
    appears in `keys_df` — the CDC/upsert delete shape. Workers write
    equality-delete files (just the key columns + equality_ids); the
    scan anti-joins them against data files with lower sequence numbers
    (spec equality deletes; ref manifest.go content type
    EqualityDeletes).

    Scale: the delete files are O(|keys|), applied as one JVM-side
    left_anti join per scan — no data rewrite (merge-on-read)."""
    from .manifest import (
        DataFileContent,
        ManifestContent,
        ManifestEntry,
        ManifestEntryStatus,
        write_manifest,
    )
    from .types import Schema

    md = table.metadata
    schema = md.current_schema()
    fields = []
    for c in key_columns:
        f = schema.find_field(c)
        if f is None:
            raise ValueError(f"unknown key column {c!r}")
        fields.append(f)
    eq_ids = [f.field_id for f in fields]
    eq_schema = Schema(0, tuple(fields))
    ds = begin_distributed_snapshot(table)
    del_spec, minted = _unpartitioned_spec_for(md)

    # executors write the key files (same rolling/stat machinery)
    files = write_data_files(
        keys_df.select(*key_columns).dropDuplicates(),
        eq_schema,
        del_spec,
        md.location,
        f"{ds.commit_uuid}-eqdel",
        properties=md.properties,
        strict_metrics=False,  # key-only projection of the table schema
    )
    for f in files:
        f.content = DataFileContent.EQUALITY_DELETES
        f.equality_ids = eq_ids
    entries = [
        ManifestEntry(
            status=ManifestEntryStatus.ADDED,
            snapshot_id=ds.snapshot_id,
            sequence_number=None,
            file_sequence_number=None,
            data_file=f,
        )
        for f in files
    ]
    from .transaction import AddPartitionSpecUpdate

    path = os.path.join(md.location, "metadata", f"{ds.commit_uuid}-eqdel-m0.avro")
    mf = write_manifest(
        path, del_spec, eq_schema, ds.snapshot_id, entries,
        content=ManifestContent.DELETES,
    )
    _commit_manifests(
        table,
        [mf],
        _rewrite_parent_manifests(md, set(), ds.commit_uuid, "eq")[0],
        operation="delete",
        extra_summary={
            "added-equality-delete-files": str(len(files)),
            "added-delete-files": str(len(files)),
            "added-equality-deletes": str(sum(f.record_count for f in files)),
            "added-files-size": str(sum(f.file_size_in_bytes for f in files)),
        },
        snapshot_id=ds.snapshot_id,
        commit_uuid=ds.commit_uuid,
        parent_snapshot_id=ds.parent_snapshot_id,
        extra_updates=[AddPartitionSpecUpdate(del_spec)] if minted else None,
    )


def _resolve_key_fields(schema, key_columns):
    fields = []
    for c in key_columns:
        f = schema.find_field(c)
        if f is None:
            raise ValueError(f"unknown key column {c!r}")
        fields.append(f)
    return fields


@_retry_dml_on_conflict
def upsert(table, df, key_columns: list[str]) -> None:
    """MERGE/upsert in ONE snapshot: an equality-delete manifest for the
    incoming keys plus a data manifest for the incoming rows commit
    together, so readers never observe the delete without the insert.
    The CDC apply shape: new rows replace any old rows with the same key
    (rows in this batch are exempt from its own delete because equality
    deletes only apply to strictly lower sequence numbers)."""
    md = table.metadata
    schema = md.current_schema()
    fields = _resolve_key_fields(schema, key_columns)
    _row_delta(
        table, df, df.select(*key_columns).dropDuplicates(), fields, "upsert"
    )


def _row_delta(table, data_df, keys_df, key_fields, label) -> bool:
    """One overwrite snapshot pairing a data manifest (data_df's rows)
    with an equality-delete manifest (keys_df's key tuples) — the shared
    commit tail of upsert and merge. Returns False (no snapshot) when
    both frames turn out empty."""
    from .manifest import (
        DataFileContent,
        ManifestContent,
        ManifestEntry,
        ManifestEntryStatus,
        write_manifest,
    )
    from .types import Schema

    md = table.metadata
    schema = md.current_schema()
    fields = list(key_fields)
    eq_schema = Schema(0, tuple(fields))
    ds = begin_distributed_snapshot(table)
    del_spec, minted = _unpartitioned_spec_for(md)

    # workers: new data files + equality-delete key files in one pass each
    data_files = write_data_files(
        data_df, schema, md.default_spec(), md.location, ds.commit_uuid,
        properties=md.properties,
    )
    key_files = write_data_files(
        keys_df,
        eq_schema,
        del_spec,
        md.location,
        f"{ds.commit_uuid}-{label}-keys",
        properties=md.properties,
        strict_metrics=False,  # key-only projection of the table schema
    )
    for f in key_files:
        f.content = DataFileContent.EQUALITY_DELETES
        f.equality_ids = [f2.field_id for f2 in fields]

    def entries(files):
        return [
            ManifestEntry(
                status=ManifestEntryStatus.ADDED,
                snapshot_id=ds.snapshot_id,
                sequence_number=None,
                file_sequence_number=None,
                data_file=f,
            )
            for f in files
        ]

    new_manifests = []
    if data_files:
        p = os.path.join(md.location, "metadata", f"{ds.commit_uuid}-{label}-m0.avro")
        new_manifests.append(
            write_manifest(p, md.default_spec(), schema, ds.snapshot_id, entries(data_files))
        )
    if key_files:
        p = os.path.join(md.location, "metadata", f"{ds.commit_uuid}-{label}-d0.avro")
        new_manifests.append(
            write_manifest(
                p, del_spec, eq_schema, ds.snapshot_id,
                entries(key_files), content=ManifestContent.DELETES,
            )
        )
    if not new_manifests:
        return False  # nothing matched and nothing to insert: no snapshot
    from .transaction import AddPartitionSpecUpdate

    parent = md.current_snapshot()
    parent_summary = parent.summary.properties if parent else {}
    props = _summary_props(data_files, parent_summary)
    if key_files:
        props["added-delete-files"] = str(len(key_files))
        props["added-equality-delete-files"] = str(len(key_files))
        props["added-equality-deletes"] = str(
            sum(f.record_count for f in key_files)
        )
        props["added-files-size"] = str(
            int(props.get("added-files-size", "0"))
            + sum(f.file_size_in_bytes for f in key_files)
        )
    _commit_manifests(
        table,
        new_manifests,
        _rewrite_parent_manifests(md, set(), ds.commit_uuid, "up")[0],
        operation="overwrite",
        extra_summary=props,
        snapshot_id=ds.snapshot_id,
        commit_uuid=ds.commit_uuid,
        parent_snapshot_id=ds.parent_snapshot_id,
        extra_updates=[AddPartitionSpecUpdate(del_spec)] if minted and key_files else None,
    )
    return True


@_retry_dml_on_conflict
def cherry_pick(table, snapshot_id: int) -> bool:
    """Reapply a staged APPEND snapshot onto the current main head — the
    WAP publish path for when main MOVED since the batch was staged
    (fast-forward would drop the concurrent commits; see
    examples/wap_publish.py). The staged snapshot's added data manifests
    are re-listed under a NEW snapshot: sequence numbers re-inherit from
    the new manifest-list entry and v3 first_row_id resets for fresh
    lineage (a reapplied commit is new rows on main, per spec), so no
    data file is rewritten — cherry-pick is a metadata-only commit.
    ref core SnapshotManager.cherrypick semantics (append-only).

    Refuses: non-append snapshots (their deletes/rewrites were computed
    against a different base), and manifests carrying entries from other
    commits (a merge-append bin-packed old manifests in — replaying them
    would duplicate main-history files). Returns False when the snapshot
    is already reachable from main (nothing to apply)."""
    from .manifest import (
        ManifestContent,
        ManifestEntryStatus,
        read_manifest,
        write_manifest,
    )

    md = table.metadata
    staged = md.snapshot_by_id(snapshot_id)
    if staged is None:
        raise ValueError(f"unknown snapshot {snapshot_id}")
    main_ref = md.refs.get(MAIN_BRANCH)
    head_id = main_ref.snapshot_id if main_ref else None
    by_id = {s.snapshot_id: s for s in md.snapshots}
    cur = head_id
    while cur is not None:
        if cur == snapshot_id:
            return False  # already published (fast-forwarded)
        s = by_id.get(cur)
        if s is not None and s.summary.properties.get(
            "source-snapshot-id"
        ) == str(snapshot_id):
            return False  # already cherry-picked: re-applying duplicates
        cur = s.parent_snapshot_id if s else None
    if staged.summary.operation != "append":
        raise ValueError(
            f"cherry-pick supports append snapshots only; "
            f"{snapshot_id} is {staged.summary.operation!r} (its row-level "
            "changes were computed against a different base — re-run the "
            "DML on main instead)"
        )
    new_mfs = [m for m in staged.manifests() if m.added_snapshot_id == snapshot_id]
    if not new_mfs:
        return False
    entries_by_mf = []
    for m in new_mfs:
        if m.content != ManifestContent.DATA:
            raise ValueError("cherry-pick cannot reapply delete manifests")
        entries = read_manifest(m.manifest_path, discard_deleted=False)
        for e in entries:
            if (
                e.status != ManifestEntryStatus.ADDED
                or e.sequence_number is not None
                or e.snapshot_id not in (None, snapshot_id)
            ):
                raise ValueError(
                    f"manifest {m.manifest_path} carries entries from other "
                    "commits (merge-append); publish by fast-forward instead"
                )
        entries_by_mf.append((m, entries))
    ds = begin_distributed_snapshot(table)
    # rewrite each picked manifest so its ENTRIES attribute to the new
    # snapshot (the staged writer stamped them with the branch snapshot
    # id; incremental/CDC consumers resolve a snapshot's additions by
    # entry attribution, so re-listing alone would hide the files) and
    # its v3 lineage resets for fresh assignment
    specs = {s.spec_id: s for s in md.partition_specs}
    schema = md.current_schema()
    picked = []
    for i, (m, entries) in enumerate(entries_by_mf):
        for e in entries:
            e.snapshot_id = ds.snapshot_id
            e.sequence_number = None
            e.file_sequence_number = None
            e.data_file.first_row_id = None
        p = os.path.join(
            md.location, "metadata", f"{ds.commit_uuid}-pick-m{i}.avro"
        )
        picked.append(
            write_manifest(
                p, specs[m.partition_spec_id], schema, ds.snapshot_id, entries
            )
        )
    carried = (
        list(md.snapshot_by_id(head_id).manifests()) if head_id is not None else []
    )
    summary = {
        k: v
        for k, v in staged.summary.properties.items()
        if k.startswith("added-")
    }
    summary["source-snapshot-id"] = str(snapshot_id)
    _commit_manifests(
        table,
        picked,
        carried,
        operation="append",
        extra_summary=summary,
        snapshot_id=ds.snapshot_id,
        commit_uuid=ds.commit_uuid,
        parent_snapshot_id=ds.parent_snapshot_id,
    )
    return True


# MERGE target-scan pruning: source key columns with at most this many
# distinct values turn into an IN-set filter (exact file pruning via the
# metrics evaluator); above it, a [min, max] range filter (still sound,
# coarser). Bounded so the planner never evaluates huge literal sets.
MERGE_PRUNE_MAX_IN_SET = 1000

# Auto-skip thresholds for the pruning stats jobs: below the measured
# ~1M-row / few-file crossover (SCALE.md, r9 probe) the two source jobs
# cost more than the scan they could save, so merge() skips them using
# the snapshot summary's running totals (driver-side, zero jobs).
MERGE_PRUNE_MIN_TARGET_ROWS = 1_000_000
MERGE_PRUNE_MIN_TARGET_FILES = 4

# Byte budget for the static MERGE broadcast hint (row count alone is
# not a size: 1M rows of KB-wide documents is a multi-GB broadcast).
# 256 MiB fits comfortably in every executor of a reasonably-sized
# cluster while staying far above Spark's 10 MB auto-broadcast
# heuristic, which the hint exists to override for metadata-less
# sources. Override per table with
# `write.merge.broadcast-source-max-bytes` (0 disables the byte check).
MERGE_BROADCAST_MAX_BYTES_DEFAULT = 256 * 1024 * 1024


def _target_merits_pruning(md) -> bool:
    """Free driver-side decision from the snapshot summary's running
    `total-records` / `total-data-files` counters (update_snapshot_totals
    maintains them on every commit): pruning only pays once the target is
    big enough that skipping files beats the fixed ~0.4 s stats cost.
    Unknown totals (foreign writer without totals) => prune — at 100 TB
    that is the safe default; the crossover penalty is bounded and small."""
    snap = md.current_snapshot()
    if snap is None:
        return False  # empty target: nothing a filter could skip
    props = snap.summary.properties
    rec, nfiles = props.get("total-records"), props.get("total-data-files")
    if rec is not None and int(rec) < MERGE_PRUNE_MIN_TARGET_ROWS:
        return False
    if nfiles is not None and int(nfiles) < MERGE_PRUNE_MIN_TARGET_FILES:
        return False
    return True


def _source_size_aggs(source):
    """(aggregate columns, fixed per-row bytes, width column names)
    estimating a DataFrame's average serialized row width, for the
    broadcast byte gate. Fixed-width types count 8 bytes; string/binary
    add their measured average length; nested types their JSON length
    (an overestimate — JSON is more verbose than Tungsten rows — which
    only makes the gate more conservative). Computed in the SAME scan
    as whatever aggregate the caller is already running, so the byte
    estimate costs no extra job."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    aggs, wnames, fixed = [], [], 8  # 8: per-row object overhead
    for f in source.schema.fields:
        t = f.dataType
        if isinstance(t, (T.StringType, T.BinaryType)):
            aggs.append(F.avg(F.length(F.col(f.name))).alias(f"__w_{f.name}"))
            wnames.append(f"__w_{f.name}")
            fixed += 8  # offset + length slots
        elif isinstance(t, (T.ArrayType, T.MapType, T.StructType)):
            aggs.append(
                F.avg(F.length(F.to_json(F.col(f.name)))).alias(f"__w_{f.name}")
            )
            wnames.append(f"__w_{f.name}")
            fixed += 8
        else:
            fixed += 8
    return aggs, fixed, wnames


def _fill_size_stats(stats_out, row, fixed, wnames):
    rows = int(row["__rows"] or 0)
    width = fixed + sum(float(row[w] or 0.0) for w in wnames)
    stats_out["rows"] = rows
    stats_out["est_bytes"] = int(rows * width)


def _source_size_stats(source):
    """Row count + estimated serialized bytes of `source` in ONE
    aggregate job — the broadcast gate's input when the pruning stats
    job didn't run (small target / non-prunable key types). When
    pruning DID run, `_source_key_prune_filter` folds these aggregates
    into its own stats job and this extra job never happens."""
    from pyspark.sql import functions as F

    waggs, fixed, wnames = _source_size_aggs(source)
    row = source.agg(F.count(F.lit(1)).alias("__rows"), *waggs).collect()[0]
    out: dict = {}
    _fill_size_stats(out, row, fixed, wnames)
    return out


def _source_key_prune_filter(source, key_fields, stats_out=None):
    """Inclusive row_filter over the MERGE target scan, derived from the
    source's key statistics — so a small source merging into a huge
    table plans only the files that can contain a matching key (the
    same metrics/partition pruning dominance the reference's evaluators
    provide, table/evaluators.go:666-1198), instead of scanning the
    whole table to touch almost nothing.

    ONE aggregate job over the source computes min/max/approx distinct
    count/null presence for every key column (O(1) rows to the driver);
    columns whose APPROX ndv (HyperLogLog partial agg — no per-column
    shuffle-distinct, unlike countDistinct) is under
    MERGE_PRUNE_MAX_IN_SET contribute an IN-set, gathered in ONE more
    collect_set job shared across all such columns (the set itself is
    EXACT — the estimate only gates eligibility, so a ±5% rsd error
    merely grows/shrinks the literal set, never unsounds it); larger
    ones a [min, max] range (sound superset) — at most two small jobs of
    fixed overhead regardless of key count. Null keys (eqNullSafe join
    semantics) OR in is_null. Returns None — caller falls back to a full
    scan — for key types where a stats filter is unsound or unsupported
    (float/double NaN ordering, binary/uuid/fixed).

    `stats_out` (dict): when given, the broadcast gate's row count and
    estimated serialized bytes are folded into the SAME stats job
    (`_source_size_aggs`) and written into it — merge() then skips its
    separate `_source_size_stats` job. Left empty on the early
    non-prunable-types return.

    DETERMINISM ASSUMPTION: the stats jobs and the later merge join
    re-evaluate `source`; a non-deterministic source (rand(), a re-read
    of mutable input) can yield stats inconsistent with the join and
    silently unsound the prune. Cache/localCheckpoint such sources, or
    pass prune_target=False.

    Soundness: the filter is implied by "target key tuple equals some
    source key tuple", and scan pruning is inclusive, so no target row
    that could match (or be re-emitted as a duplicate-key sibling) is
    ever planned away; rows the filter removes cannot match any source
    key, leaving the matched join, the sibling re-emit, and the insert
    anti-join unchanged."""
    from pyspark.sql import functions as F

    from . import expressions as E
    from .evaluators import IN_PREDICATE_LIMIT
    from .types import (
        BooleanType,
        DateType,
        DecimalType,
        IntegerType,
        LongType,
        StringType,
        TimestampType,
        TimestampTzType,
    )

    prunable = (
        IntegerType, LongType, StringType, DateType, TimestampType,
        TimestampTzType, DecimalType, BooleanType,
    )
    if not all(isinstance(f.field_type, prunable) for f in key_fields):
        return None
    aggs = []
    for f in key_fields:
        k = f.name
        aggs += [
            F.min(k).alias(f"__mn_{k}"),
            F.max(k).alias(f"__mx_{k}"),
            F.approx_count_distinct(k, 0.05).alias(f"__nd_{k}"),
            F.max(F.col(k).isNull().cast("int")).alias(f"__null_{k}"),
        ]
    wnames: list = []
    if stats_out is not None:
        # fold the broadcast gate's count + row-width estimate into
        # THIS job so merge() never runs a separate source.count()
        waggs, fixed, wnames = _source_size_aggs(source)
        aggs += [F.count(F.lit(1)).alias("__rows"), *waggs]
    row = source.agg(*aggs).collect()[0]  # one O(1) scalar bounds row
    if stats_out is not None:
        _fill_size_stats(stats_out, row, fixed, wnames)
    small = [
        f.name
        for f in key_fields
        if row[f"__mn_{f.name}"] is not None
        and row[f"__nd_{f.name}"] <= MERGE_PRUNE_MAX_IN_SET
    ]
    in_sets = {}
    if small:
        # ONE more job collects every small column's distinct set (the
        # first agg proved each is bounded, so collect_set is safe)
        srow = source.agg(
            *[F.collect_set(k).alias(k) for k in small]
        ).collect()[0]
        in_sets = {k: list(srow[k]) for k in small}
    preds = []
    for f in key_fields:
        k = f.name
        lo, hi = row[f"__mn_{k}"], row[f"__mx_{k}"]
        has_null = bool(row[f"__null_{k}"])
        if lo is None:
            # all-null key column: only null-keyed target rows can match
            preds.append(E.is_null(k))
            continue
        rng = E.and_(
            E.greater_than_or_equal(k, lo), E.less_than_or_equal(k, hi)
        )
        if k in in_sets:
            p = E.is_in(k, in_sets[k])
            if len(in_sets[k]) > IN_PREDICATE_LIMIT:
                # metrics/manifest evaluators skip IN-sets above the
                # reference's inPredicateLimit (ROWS_MIGHT_MATCH) — AND
                # the range so file pruning still bites; the IN-set
                # keeps pruning exactly in the residual row filter
                p = E.and_(rng, p)
        else:
            p = rng
        preds.append(E.or_(p, E.is_null(k)) if has_null else p)
    return E.and_(*preds)


class _UnsupportedCondition(Exception):
    """Internal: a merge-condition SQL fragment falls outside the
    compilable subset — the caller falls back to an unpruned scan."""


def _tokenize_condition(sql: str):
    import re

    token_re = re.compile(
        r"\s*(?:"
        r"(?P<num>-?\d+\.\d+|-?\d+)"
        r"|(?P<str>'(?:[^']|'')*')"
        r"|(?P<ident>[A-Za-z_][A-Za-z0-9_.]*)"
        r"|(?P<op><=|>=|!=|<>|==|=|<|>)"
        r"|(?P<paren>[(),])"
        r")"
    )
    out, pos = [], 0
    while pos < len(sql):
        m = token_re.match(sql, pos)
        if m is None:
            if sql[pos:].strip() == "":
                break
            raise _UnsupportedCondition(sql[pos:])
        pos = m.end()
        if m.group("num") is not None:
            n = m.group("num")
            out.append(("lit", float(n) if "." in n else int(n)))
        elif m.group("str") is not None:
            out.append(("lit", m.group("str")[1:-1].replace("''", "'")))
        elif m.group("ident") is not None:
            w = m.group("ident")
            if w.upper() in (
                "AND", "OR", "NOT", "IS", "NULL", "IN", "TRUE", "FALSE",
                "DATE", "TIMESTAMP",
            ):
                out.append(("kw", w.upper()))
            else:
                out.append(("ident", w))
        elif m.group("op") is not None:
            out.append(("op", m.group("op")))
        else:
            out.append(("paren", m.group("paren")))
    return out


def _compile_sql_condition(sql: str, schema):
    """Best-effort compile of a MERGE condition (a SQL boolean over
    `target.<col>` references) into the scan-filter expression algebra,
    so a by-source condition like `target.updated_at < date'2024-01-01'`
    prunes manifests/files exactly like any scan row_filter. Supported:
    comparisons against literals (incl. DATE/TIMESTAMP '...' — the
    string literal bind-casts to the column type), IS [NOT] NULL, IN,
    AND/OR/NOT, parens. Anything else — functions, arithmetic, `%`,
    column-to-column — returns None and the caller keeps the full scan;
    compilation failure is never a correctness event, only a missed
    pruning opportunity. Column names resolve against `schema`
    (`target.` prefix stripped; `source.` references are impossible in
    by-source clauses and reject compilation)."""
    from . import expressions as E

    try:
        toks = _tokenize_condition(sql)
    except _UnsupportedCondition:
        return None

    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else (None, None)

    def take():
        t = peek()
        pos[0] += 1
        return t

    def expect(kind, val=None):
        k, v = take()
        if k != kind or (val is not None and v != val):
            raise _UnsupportedCondition(f"expected {kind} {val}, got {k} {v}")
        return v

    def column(name: str) -> str:
        low = name.lower()
        if low.startswith("target."):
            name = name[len("target."):]
        elif low.startswith("source."):
            raise _UnsupportedCondition("source reference")
        if "." in name or schema.find_field(name) is None:
            raise _UnsupportedCondition(f"unknown column {name}")
        return name

    def literal_val():
        k, v = take()
        if k == "lit":
            return v
        if k == "kw" and v in ("TRUE", "FALSE"):
            return v == "TRUE"
        if k == "kw" and v in ("DATE", "TIMESTAMP"):
            k2, v2 = take()
            if k2 != "lit" or not isinstance(v2, str):
                raise _UnsupportedCondition("typed literal")
            return v2  # ISO string; Literal.to() casts on bind
        raise _UnsupportedCondition(f"literal, got {k} {v}")

    def predicate():
        k, v = take()
        if k == "paren" and v == "(":
            e = or_expr()
            expect("paren", ")")
            return e
        if k == "kw" and v == "NOT":
            return E.not_(predicate())
        if k == "kw" and v in ("TRUE", "FALSE"):
            return E.AlwaysTrue() if v == "TRUE" else E.AlwaysFalse()
        if k != "ident":
            raise _UnsupportedCondition(f"predicate, got {k} {v}")
        col = column(v)
        k2, v2 = take()
        if k2 == "op":
            lit = literal_val()
            ops = {
                "=": E.equal, "==": E.equal,
                "!=": E.not_equal, "<>": E.not_equal,
                "<": E.less_than, "<=": E.less_than_or_equal,
                ">": E.greater_than, ">=": E.greater_than_or_equal,
            }
            return ops[v2](col, lit)
        if k2 == "kw" and v2 == "IS":
            k3, v3 = take()
            if k3 == "kw" and v3 == "NOT":
                expect("kw", "NULL")
                return E.not_null(col)
            if k3 == "kw" and v3 == "NULL":
                return E.is_null(col)
            raise _UnsupportedCondition("IS clause")
        if k2 == "kw" and v2 == "IN":
            expect("paren", "(")
            vals = [literal_val()]
            while peek() == ("paren", ","):
                take()
                vals.append(literal_val())
            expect("paren", ")")
            return E.is_in(col, vals)
        raise _UnsupportedCondition(f"after column, got {k2} {v2}")

    def and_expr():
        e = predicate()
        while peek() == ("kw", "AND"):
            take()
            e = E.and_(e, predicate())
        return e

    def or_expr():
        e = and_expr()
        while peek() == ("kw", "OR"):
            take()
            e = E.or_(e, and_expr())
        return e

    try:
        e = or_expr()
        if pos[0] != len(toks):
            raise _UnsupportedCondition("trailing tokens")
        # probe-bind now so an un-bindable literal (e.g. string vs int
        # column) degrades to no-pruning here instead of failing later
        E.bind_expr(e, schema)
        return e
    except Exception:
        # includes _UnsupportedCondition and bind-time type errors —
        # compile failure only means "don't prune", never an error
        return None


def _by_source_prune_filter(
    schema,
    bs_delete: bool,
    del_sql,
    upd_active: bool,
    upd_sql,
):
    """Inclusive scan filter for the WHEN NOT MATCHED BY SOURCE pass,
    derived from the clauses' own conditions: a target row can only be
    ACTED ON if some active clause's condition holds, so the OR of the
    compiled conditions is a sound row_filter for the candidate scan —
    rows outside it are no-ops by definition. Returns None (no pruning)
    when any active clause is UNconditional (its condition is TRUE —
    every by-source row is a candidate) or any condition falls outside
    `_compile_sql_condition`'s subset.

    Duplicate-key soundness: pruning this pass is safe for candidates
    and action outputs (both satisfy their clause's condition, hence
    the filter), but NOT for duplicate-key siblings — a row sharing an
    affected key whose own conditions held neither may live in a pruned
    file. The caller therefore re-emits siblings from a SEPARATE scan
    pruned by the affected keys' bounds, never from this one."""
    from . import expressions as E

    parts = []
    for active, sql in ((bs_delete, del_sql), (upd_active, upd_sql)):
        if not active:
            continue
        if sql is None:
            return None  # unconditional clause: every row is a candidate
        e = _compile_sql_condition(sql, schema)
        if e is None:
            return None
        parts.append(e)
    return E.or_(*parts) if parts else None


class MergeCardinalityError(ValueError):
    """A MERGE source carries duplicate key tuples: applying it would be
    nondeterministic (which source row wins?), the same violation ANSI
    MERGE and the reference's conflict detection reject."""


_SPJ_MERGE_SRC_PREFIX = "__spjsrc_"

# None → default the SPJ-merge source-size gate to the target's
# write.merge.broadcast-source-max-rows (tests patch this to 0 to
# force the route on tiny fixtures)
_SPJ_MERGE_MIN_SRC_DEFAULT = None


def _spj_merge_route(table, spark, source, on):
    """Storage-partitioned MERGE routing: when the source is itself an
    Iceberg table co-partitioned with the target on the merge key, the
    three MERGE joins (matched inner, insert anti, by-source anti) run
    as SPJ task passes — ZERO exchange or broadcast of either side's
    data; only O(buckets) task descriptors move. Upsert-heavy 100 TB
    tables are bucketed on the merge key for exactly this shape (the
    same co-location proof storage_partitioned_join uses for reads).

    Returns a provider dict of join builders (struct-shaped frames with
    `target`/`source` columns so the clause SQL in _merge_body resolves
    unchanged) or None → the regular broadcast/AQE path. Gates:

      * `source` is a Table (duck-typed on .scan/.spec);
      * every key field is null-free on both sides — REQUIRED by
        schema, or optional with the planned files' null_value_counts
        summing to zero (metadata-proven, r12 task 3). MERGE joins with
        eqNullSafe (NULL keys match each other) while the SPJ in-task
        Arrow join uses SQL equality; with no null keys possible the
        two semantics coincide;
      * at least one key pair shares a partition transform and every
        key's hash family matches (checked by the SPJ planner itself —
        probed here so incompatibility falls back instead of raising).
    """
    if not (hasattr(source, "scan") and hasattr(source, "spec")):
        return None
    # Source-size gate: a source small enough to broadcast merges
    # cheaper on the regular path (the broadcast joins read the target
    # once through the JVM vectorized reader with no exchange either;
    # measured at sf0.1: regular 2.5 s vs SPJ legs 4.7 s on the same
    # bucketed 15k-row source). The SPJ legs exist for the 100 TB
    # shape where NEITHER side broadcasts and every merge join would
    # otherwise shuffle both sides, so route only when the source
    # exceeds the broadcast threshold. The row count folds from the
    # source's manifest-list metadata — no job. Override with
    # write.merge.spj.min-source-rows on the target (0 = always route).
    min_src = _SPJ_MERGE_MIN_SRC_DEFAULT
    try:
        raw = table.properties.get("write.merge.spj.min-source-rows")
        if raw is not None:
            min_src = int(raw)
        elif min_src is None:
            min_src = int(
                table.properties.get(
                    "write.merge.broadcast-source-max-rows", "1000000"
                )
            )
    except (TypeError, ValueError):
        min_src = 1000000
    if min_src and min_src > 0:
        from .manifest import ManifestContent

        ssnap = source.metadata.current_snapshot()
        if ssnap is None:
            return None
        src_rows = sum(
            m.added_rows_count + m.existing_rows_count
            for m in ssnap.manifests()
            if m.content == ManifestContent.DATA
        )
        if src_rows < min_src:
            return None
    from .spj import _hash_family, _partition_fields_on, _pick_copart_pair

    t_schema, s_schema = table.schema(), source.schema()
    copart_key = None
    copart_fields = None
    # (table_field_id, source_field_id) per key declared OPTIONAL on
    # either side: eligible only if metadata PROVES the data null-free
    # (checked below against the planned files' null_value_counts —
    # VERDICT r12 task 3: most real tables declare keys optional even
    # when the data never holds null)
    optional_keys: list[tuple[int, int]] = []
    for k in on:
        tf, sf = t_schema.find_field(k), s_schema.find_field(k)
        if tf is None or sf is None:
            return None
        if not (tf.required and sf.required):
            optional_keys.append((tf.field_id, sf.field_id))
        fam = _hash_family(tf.field_type)
        if fam != _hash_family(sf.field_type) or fam.startswith("other"):
            # mismatched OR unsupported family (float/bool/uuid keys):
            # the SPJ planner itself would reject the pair — fall back
            # instead of routing into a crash
            return None
        if copart_key is None:
            try:
                lf, _ = _partition_fields_on(table, k)
                rf, _ = _partition_fields_on(source, k)
                tpf, spf = _pick_copart_pair(lf, rf)
                copart_key, copart_fields = k, (tpf, spf)
            except ValueError:
                pass
    if copart_key is None:
        return None

    # Byte-budget pre-check: the merge legs cannot all fragment-split
    # (the cardinality probe and the anti legs need complete buckets),
    # so an over-budget bucket PAIR must mean "fall back to the
    # broadcast/AQE path", not a mid-merge ValueError telling the user
    # to rewrite their table. Planning here is not wasted work — the
    # plan memo hands the same task lists to the join legs for free.
    from .spj import (
        DEFAULT_MAX_BUCKET_BYTES,
        _bucket_bytes,
        _side_tasks,
        _spj_wide,
        _wide_merge_precheck,
    )

    try:
        limit = int(
            table.properties.get(
                "join.spj.max-bucket-bytes", DEFAULT_MAX_BUCKET_BYTES
            )
        )
    except (TypeError, ValueError):
        limit = DEFAULT_MAX_BUCKET_BYTES
    if _spj_wide(table, spark) or _spj_wide(source, spark):
        # wide sides: the same checks run as Spark jobs over the
        # memoized prune frames (O(buckets) to the driver) instead of
        # collecting O(files) task lists per side; the legs reuse the
        # prune work through the frame memo
        if not _wide_merge_precheck(
            table,
            source,
            copart_fields[0],
            copart_fields[1],
            optional_keys,
            limit,
            spark,
        ):
            return None
        return _spj_merge_providers(
            table, source, spark, on, copart_key, limit, t_schema, s_schema
        )
    try:
        t_buckets, _ = _side_tasks(table, copart_fields[0], None, spark)
        s_buckets, _ = _side_tasks(source, copart_fields[1], None, spark)
    except ValueError:
        # e.g. files predating the partition field (spec evolution):
        # layout unknown → the regular path handles it
        return None
    if optional_keys:
        # optional keys are SPJ-safe only when the live files' stats
        # prove zero nulls on BOTH sides (MERGE joins with eqNullSafe;
        # the in-task join uses SQL equality — with no null keys the
        # semantics coincide; deletes only remove rows, so data-file
        # null counts bound the post-MOR truth). A file missing the
        # stat is unprovable → fall back.
        def _null_free(buckets, fid):
            for ts in buckets.values():
                for t in ts:
                    nvc = t.file.null_value_counts
                    if not nvc or nvc.get(fid) is None or nvc[fid] > 0:
                        return False
            return True

        for t_fid, s_fid in optional_keys:
            if not (
                _null_free(t_buckets, t_fid) and _null_free(s_buckets, s_fid)
            ):
                return None
    t_bytes = {b: _bucket_bytes(ts) for b, ts in t_buckets.items()}
    s_bytes = {b: _bucket_bytes(ts) for b, ts in s_buckets.items()}
    for b in set(t_bytes) | set(s_bytes):
        if t_bytes.get(b, 0) + s_bytes.get(b, 0) > limit:
            return None
    return _spj_merge_providers(
        table, source, spark, on, copart_key, limit, t_schema, s_schema
    )


def _spj_merge_providers(
    table, source, spark, on, copart_key, limit, t_schema, s_schema
):
    """The SPJ merge-leg builders — shared by the driver-grouped and
    wide (executor-grouped) pre-check paths of `_spj_merge_route`."""
    from pyspark.sql import functions as F

    from .spj import storage_partitioned_agg, storage_partitioned_join

    tcols = [f.name for f in t_schema.fields]
    src_cols = [f.name for f in s_schema.fields]
    pfx = _SPJ_MERGE_SRC_PREFIX
    if any(c.startswith(pfx) for c in tcols):
        # a target column already carrying the source prefix would make
        # the matched() output collide — storage_partitioned_join raises
        # at action time; fall back here instead of routing into it
        return None
    keyset = set(on)

    def matched():
        flat = storage_partitioned_join(
            spark,
            table,
            source,
            on=list(on),
            how="inner",
            right_prefix=pfx,
            max_bucket_bytes=limit,
        )
        s_fields = [
            F.col(c if c in keyset else pfx + c).alias(c) for c in src_cols
        ]
        return flat.select(
            F.struct(*[F.col(c).alias(c) for c in tcols]).alias("target"),
            F.struct(*s_fields).alias("source"),
        )

    def unmatched():
        # left=source here: pass the TARGET-derived limit explicitly so
        # this leg plans against the same budget the pre-check used (a
        # smaller source-side property must not flip it into a raise)
        flat = storage_partitioned_join(
            spark, source, table, on=list(on), how="anti",
            max_bucket_bytes=limit,
        )
        return flat.select(
            F.struct(*[F.col(c).alias(c) for c in src_cols]).alias("source")
        )

    def bysrc():
        flat = storage_partitioned_join(
            spark, table, source, on=list(on), how="anti",
            max_bucket_bytes=limit,
        )
        return flat.select(
            F.struct(*[F.col(c).alias(c) for c in tcols]).alias("target")
        )

    def dup_key_row():
        # zero-exchange cardinality probe: per-key counts are exact
        # within one bucket task. Grouped on the key that PROVED
        # co-location (which need not be on[0]) with the remaining
        # keys as extra group columns — any tuple containing the
        # bucketed key stays in-bucket, so the counts are final.
        agg = storage_partitioned_agg(
            spark,
            source,
            copart_key,
            {"__merge_cnt": (copart_key, "count")},
            extra_keys=[k for k in on if k != copart_key],
            max_bucket_bytes=limit,
        )
        return agg.where(F.col("__merge_cnt") > 1).limit(1).collect()

    return {
        "matched": matched,
        "unmatched": unmatched,
        "bysrc": bysrc,
        "dup_key_row": dup_key_row,
        "src_cols": src_cols,
    }


@_retry_dml_on_conflict
def merge(
    table,
    spark,
    source,
    on: list[str],
    matched_update=None,
    matched_update_condition: Optional[str] = None,
    matched_delete_condition: Optional[str] = None,
    not_matched_insert=True,
    not_matched_insert_condition: Optional[str] = None,
    not_matched_by_source_delete: bool = False,
    not_matched_by_source_delete_condition: Optional[str] = None,
    not_matched_by_source_update=None,
    not_matched_by_source_update_condition: Optional[str] = None,
    check_cardinality: bool = True,
    prune_target: bool = True,
) -> bool:
    """Multi-action MERGE INTO in ONE snapshot (merge-on-read).

    Joins `source` against the table on the `on` key columns and applies,
    per matched target row:
      1. DELETE when `matched_delete_condition` holds (a SQL boolean over
         `target.<col>` / `source.<col>` references);
      2. else UPDATE when `matched_update` is given and
         `matched_update_condition` (default: always) holds —
         `matched_update` is ``"*"`` (take every source column, the
         classic upsert) or a dict ``{target_col: sql_expr}`` where the
         expression may reference both sides (``"target.qty + source.qty"``);
         unlisted columns keep their target values;
      3. else the row is left untouched (NOT equality-deleted — readers
         never see it disappear).
    Unmatched source rows insert when `not_matched_insert` is true —
    ``True`` inserts the source row as-is, a dict maps target columns to
    SQL expressions over `source.<col>` (missing columns null-fill);
    `not_matched_insert_condition` (ANSI ``WHEN NOT MATCHED AND <cond>
    THEN INSERT``) gates the insert with a SQL boolean over
    `source.<col>` — e.g. a patch row that only flags a deletion must
    not insert when its key is absent.

    ANSI ``WHEN NOT MATCHED BY SOURCE`` — target rows whose key has no
    source row (the sync-to-source clauses; conditions/expressions may
    reference `target.<col>` ONLY, there is no source side):
      * `not_matched_by_source_delete=True` deletes them;
        `not_matched_by_source_delete_condition` gates it (and implies
        delete when set alone);
      * else `not_matched_by_source_update` ({target_col: sql_expr})
        updates them where `not_matched_by_source_update_condition`
        (default: always) holds.
    These clauses evaluate against the FULL target scan, never the
    key-pruned one — rows outside the source key range are exactly the
    candidates, so pruning is gated per-clause (the matched/insert
    pipeline keeps its pruned scan). A classic full sync is
    ``matched_update="*" + not_matched_insert=True +
    not_matched_by_source_delete=True``.

    Scale note: by-source deletes are key-granular equality deletes,
    so a sync that removes a LARGE fraction of the table writes a huge
    key file and every subsequent read pays its anti-join until
    `convert_equality_deletes` runs. For bulk predicate-shaped removals
    prefer `delete_where` (whole-file drops via the strict evaluator +
    DVs); keep by-source deletes for the sync shape where removals are
    a modest fraction of the target.

    Storage-partitioned route: when `source` is ITSELF a Table
    co-partitioned with the target on the merge key (shared transform,
    required keys on both sides — see _spj_merge_route), every MERGE
    join runs as an SPJ task pass: zero exchange or broadcast of
    either side, the shape upsert-heavy bucketed tables exist for
    (measured 2.0× vs the broadcast path at 8M⋈800k, SCALE.md r12).
    An incompatible table source falls back to a scan + the regular
    path below.

    Spark-first shape: ONE pruned target scan joined with the source
    (Catalyst broadcasts a small source; AQE picks the join strategy),
    plus a key-pruned anti-join for the inserts. `prune_target`
    (default on) folds the source's key statistics into the target
    scan's row_filter via `_source_key_prune_filter`, so partition and
    file-metrics pruning skip files that cannot contain a matching key
    — a 1,000-row source merging into a 100 TB table plans only the
    files its keys can live in. The stats jobs auto-skip on small
    targets (`_target_merits_pruning`: snapshot-summary totals under
    the measured ~1M-row / 4-file crossover), so the default is optimal
    at both ends. Disable it only for diagnostics; the filter is
    inclusive, never changing results. The commit is the upsert
    commit: a data manifest (updated + inserted rows) and an
    equality-delete manifest (keys of updated/deleted rows) land in the
    same snapshot, so the delete is never visible without its
    replacement; untouched matched rows are never deleted. Updated rows
    carry the new snapshot's sequence number, so the batch's own
    equality delete (strictly-lower sequence gating) does not apply to
    them. Returns False (and commits nothing) when no action produced a
    row. ref table/transaction_test.go MERGE coverage; CAS losers
    refresh and fully re-plan via the DML retry wrapper.

    `check_cardinality` (default on) rejects duplicate source key tuples
    with MergeCardinalityError — one aggregate over the (small) source.

    The source is persisted (MEMORY_AND_DISK) for the duration of the
    merge and unpersisted after — it is evaluated up to five times
    (cardinality probe, pruning stats, matched join, insert anti-join,
    by-source anti-join), so materializing once both avoids recomputing
    an expensive upstream pipeline per job and pins ONE snapshot of a
    non-deterministic source for the pruning stats. A source the caller
    already cached is left untouched.

    v3 row-lineage note: updated rows and re-emitted duplicate-key
    sibling rows are NEW rows of this snapshot and draw fresh `_row_id`s
    (the upsert/key-replacement contract); rows the merge never touched
    keep their lineage.
    """
    md = table.metadata
    schema = md.current_schema()
    fields = _resolve_key_fields(schema, on)
    bs_delete = not_matched_by_source_delete or (
        not_matched_by_source_delete_condition is not None
    )
    if not_matched_insert_condition is not None and not not_matched_insert:
        raise ValueError(
            "not_matched_insert_condition requires not_matched_insert"
        )
    if (
        not_matched_by_source_update_condition is not None
        and not_matched_by_source_update is None
    ):
        raise ValueError(
            "not_matched_by_source_update_condition requires "
            "not_matched_by_source_update"
        )
    if (
        matched_update is None
        and matched_delete_condition is None
        and not not_matched_insert
        and not bs_delete
        and not_matched_by_source_update is None
    ):
        raise ValueError("merge with no actions")
    if matched_update is not None and matched_update != "*":
        bad = [c for c in matched_update if schema.find_field(c) is None]
        if bad:
            raise ValueError(f"matched_update targets unknown columns {bad}")
        if any(c in matched_update for c in on):
            raise ValueError("matched_update must not rewrite key columns")
    if not_matched_by_source_update is not None:
        bad = [
            c for c in not_matched_by_source_update
            if schema.find_field(c) is None
        ]
        if bad:
            raise ValueError(
                f"not_matched_by_source_update targets unknown columns {bad}"
            )
        if any(c in not_matched_by_source_update for c in on):
            raise ValueError(
                "not_matched_by_source_update must not rewrite key columns"
            )

    # Materialize the source ONCE (the Delta/production-MERGE shape):
    # this function evaluates `source` up to five times — cardinality
    # probe, the two pruning stats jobs, the matched join, the insert
    # anti-join (plus the by-source anti-join) — so an expensive
    # upstream pipeline would recompute per job, and a
    # non-deterministic source could yield pruning stats inconsistent
    # with the later join (see _source_key_prune_filter). Persisting
    # pins one snapshot and pays the pipeline once; MEMORY_AND_DISK
    # spills rather than OOMs on a big source. Callers that already
    # cached the source keep ownership (we never unpersist theirs).
    from pyspark import StorageLevel

    # Table-typed source: try the storage-partitioned route (zero
    # exchange/broadcast when co-partitioned on the key); otherwise
    # scan it into a DataFrame and run the regular path. A table
    # source is storage-backed, so no persist either way.
    spj = None
    if hasattr(source, "scan") and hasattr(source, "spec"):
        spj = _spj_merge_route(table, spark, source, on)
        if spj is None:
            source = source.scan().to_df(spark)
    owned_cache = False
    if spj is None:
        sl = source.storageLevel
        owned_cache = not (sl.useMemory or sl.useDisk or sl.useOffHeap)
        if owned_cache:
            source = source.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _merge_body(
            table, spark, source, on, schema, md, fields,
            matched_update, matched_update_condition,
            matched_delete_condition,
            not_matched_insert, not_matched_insert_condition,
            bs_delete, not_matched_by_source_delete,
            not_matched_by_source_update,
            not_matched_by_source_delete_condition,
            not_matched_by_source_update_condition,
            check_cardinality, prune_target,
            spj=spj,
        )
    finally:
        if owned_cache:
            source.unpersist()


def _merge_body(
    table, spark, source, on, schema, md, fields,
    matched_update, matched_update_condition, matched_delete_condition,
    not_matched_insert, not_matched_insert_condition,
    bs_delete, not_matched_by_source_delete, not_matched_by_source_update,
    not_matched_by_source_delete_condition,
    not_matched_by_source_update_condition,
    check_cardinality, prune_target,
    spj=None,
):
    from pyspark.sql import functions as F

    from .types import schema_to_spark_struct

    if check_cardinality:
        dup = (
            spj["dup_key_row"]()
            if spj is not None
            else source.groupBy(*on).count().where(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            key = {k: dup[0][k] for k in on}
            raise MergeCardinalityError(
                f"source has multiple rows for key {key}; a deterministic "
                "MERGE needs unique source keys (pre-aggregate the source)"
            )

    struct = schema_to_spark_struct(schema)
    cols = [f.name for f in schema.fields]
    src_stats: dict = {}
    # the SPJ route prunes by bucket co-location in its own planner;
    # key-stats pruning, the shared planning pass, and the broadcast
    # gate all belong to the shuffle/broadcast path only
    prune_merited = spj is None and prune_target and _target_merits_pruning(md)
    scan_filter = (
        _source_key_prune_filter(source, fields, stats_out=src_stats)
        if prune_merited
        else None
    )
    bs_active = bs_delete or not_matched_by_source_update is not None
    # Clause-derived pruning for the by-source pass: conditions that
    # reference only target columns ARE scan filters — compile them so
    # the "full" pass prunes on manifests/metrics too (at 100 TB this
    # is the one MERGE leg that otherwise scans everything even when
    # its condition touches 1% of files). None = keep the full scan.
    bs_filter = (
        _by_source_prune_filter(
            schema,
            bs_delete,
            not_matched_by_source_delete_condition,
            not_matched_by_source_update is not None,
            not_matched_by_source_update_condition,
        )
        if bs_active and prune_merited
        else None
    )
    full_scan = full_tasks = None
    if bs_active and (scan_filter is not None or bs_filter is not None):
        # A by-source merge needs SEVERAL views of the target (key-
        # pruned matched scan, condition-pruned by-source scan, key-
        # bounded sibling scan). Plan the metadata ONCE unfiltered and
        # derive every subset driver-side from the in-memory
        # descriptors (Scan.filter_tasks) — the previous shape ran the
        # whole manifest planning pass once per view.
        full_scan = table.scan()
        full_tasks = full_scan.plan_files_auto(spark)
    if spj is not None:
        tgt = None  # every target view is an SPJ task pass, no scan here
    elif full_tasks is not None and scan_filter is not None:
        pruned_scan = table.scan(scan_filter)
        tgt = pruned_scan.to_df(
            spark, tasks=pruned_scan.filter_tasks(full_tasks)
        ).alias("target")
    elif full_tasks is not None:
        tgt = full_scan.to_df(spark, tasks=full_tasks).alias("target")
    else:
        tgt_scan = (
            table.scan(scan_filter) if scan_filter is not None else table.scan()
        )
        tgt = tgt_scan.to_df(spark).alias("target")
    # STATIC broadcast hint for joins where the source is the build side
    # (matched inner join, by-source anti-join). Without it Catalyst
    # plans sort-merge (a createDataFrame/pipeline source has no size
    # stats) and AQE submits the TARGET's shuffle stage concurrently
    # with the source's — converting the join to broadcast only after
    # the whole target has already written shuffle files. At 100 TB
    # that pre-broadcast shuffle is the scan cost all over again; the
    # hint keeps the target scan exchange-free. Gated on BOTH an exact
    # row count AND an estimated byte size of the (persisted) source —
    # a row-only gate would happily broadcast a 1M-row × multi-KB-row
    # source, a multi-GB frame that OOMs the driver, the exact failure
    # the gate exists to prevent. The stats come from the pruning stats
    # job when it ran (zero extra jobs) else from one aggregate on the
    # cached source. 0 rows disables the hint; 0 bytes disables the
    # byte check.
    try:
        bcast_max = int(
            md.properties.get("write.merge.broadcast-source-max-rows", "1000000")
        )
    except (TypeError, ValueError):
        bcast_max = 1_000_000
    try:
        bcast_bytes = int(
            md.properties.get(
                "write.merge.broadcast-source-max-bytes",
                str(MERGE_BROADCAST_MAX_BYTES_DEFAULT),
            )
        )
    except (TypeError, ValueError):
        bcast_bytes = MERGE_BROADCAST_MAX_BYTES_DEFAULT
    src = None
    if spj is None:
        src = source.alias("source")
        if bcast_max > 0:
            if "rows" not in src_stats:
                src_stats = _source_size_stats(source)
            if src_stats["rows"] <= bcast_max and (
                bcast_bytes <= 0 or src_stats["est_bytes"] <= bcast_bytes
            ):
                src = F.broadcast(source).alias("source")
    join_cond = None
    for k in on:
        c = F.col(f"target.{k}").eqNullSafe(F.col(f"source.{k}"))
        join_cond = c if join_cond is None else (join_cond & c)

    def out(exprs):
        return [
            F.expr(exprs[c]).cast(struct[c].dataType).alias(c) if c in exprs
            else F.col(f"target.{c}").alias(c)
            for c in cols
        ]

    def cond(sql):
        # ANSI: a WHEN-clause condition that evaluates to NULL means the
        # clause is NOT taken. Without this coalesce-to-FALSE a NULL
        # condition loses rows: with e.g. matched_delete_condition NULL
        # and matched_update_condition TRUE, the key lands in
        # delete_keys via `del_cond | upd_cond` (NULL|TRUE = TRUE) but
        # BOTH the update output (`upd_cond & ~del_cond` = TRUE & ~NULL
        # = NULL) and the sibling re-emit (`~del_cond & ~upd_cond` =
        # NULL) drop the row — equality-deleted with no replacement.
        # eqNullSafe(True) maps NULL→FALSE so three-valued logic never
        # reaches the set algebra below.
        return F.expr(sql).eqNullSafe(F.lit(True))

    matched = spj["matched"]() if spj is not None else tgt.join(src, join_cond, "inner")
    del_cond = (
        cond(matched_delete_condition)
        if matched_delete_condition is not None
        else F.lit(False)
    )
    upd_cond = (
        cond(matched_update_condition)
        if matched_update_condition is not None
        else F.lit(True)
    )
    if matched_update is None:
        upd_cond = F.lit(False)
    affected = matched.where(del_cond | upd_cond)  # rows to equality-delete
    delete_keys = affected.select(
        *[F.col(f"target.{k}").alias(k) for k in on]
    ).dropDuplicates()

    if matched_update == "*":
        upd_exprs = {c: f"source.{c}" for c in cols if c not in on}
    else:
        upd_exprs = dict(matched_update or {})
    updated = matched.where(upd_cond & ~del_cond).select(*out(upd_exprs))

    pieces = [updated] if matched_update is not None else []
    if matched_delete_condition is not None or matched_update_condition is not None:
        # per-row conditions + key-granular equality deletes: a target
        # row whose KEY is affected but whose own conditions held neither
        # (a duplicate-key sibling) would be deleted without replacement
        # — re-emit it unchanged so row-level semantics survive dup keys
        dk = delete_keys.select(
            *[F.col(k).alias(f"__dk_{k}") for k in on]
        )
        sib_cond = None
        for k in on:
            c = F.col(f"target.{k}").eqNullSafe(F.col(f"__dk_{k}"))
            sib_cond = c if sib_cond is None else (sib_cond & c)
        siblings = (
            matched.where(~del_cond & ~upd_cond)
            .join(dk, sib_cond, "left_semi")
            .select(*[F.col(f"target.{c}").alias(c) for c in cols])
        )
        pieces.append(siblings)
    if not_matched_insert:
        src_col_names = spj["src_cols"] if spj is not None else source.columns
        ins_exprs = (
            {c: f"source.{c}" for c in cols if c in src_col_names}
            if not_matched_insert is True
            else dict(not_matched_insert)
        )
        if spj is not None:
            # source-minus-target as an SPJ anti task pass: same bucket
            # pairs, zero exchange (keys are required, so plain-equality
            # anti equals the eqNullSafe contract below)
            unmatched = spj["unmatched"]()
        else:
            # Anti-join against the MATCHED source keys, not the target's:
            # `matched` already contains exactly the source keys present in
            # the target (pruning is inclusive w.r.t. source keys, so
            # matched-over-pruned == matched-over-full), and that frame is
            # bounded by the SOURCE's size — the previous target-keys
            # anti-join shuffled the whole (pruned) target's key projection
            # just to find which source rows are new. eqNullSafe keeps the
            # NULL-key contract.
            mk = matched.select(
                *[F.col(f"source.{k}").alias(f"__mk_{k}") for k in on]
            ).dropDuplicates()
            mk_cond = None
            for k in on:
                # frame-bound references: `matched`'s lineage also carries
                # the "source" alias, so a string `source.k` would be
                # ambiguous in this self-join-shaped condition
                c = src[k].eqNullSafe(mk[f"__mk_{k}"])
                mk_cond = c if mk_cond is None else (mk_cond & c)
            unmatched = src.join(mk, mk_cond, "left_anti")
        if not_matched_insert_condition is not None:
            # where() already drops NULLs (no insert — correct per ANSI);
            # cond() only for uniformity with the other clause gates
            unmatched = unmatched.where(cond(not_matched_insert_condition))
        inserted = (
            unmatched
            .select(
                *[
                    F.expr(ins_exprs[c]).cast(struct[c].dataType).alias(c)
                    if c in ins_exprs
                    else F.lit(None).cast(struct[c].dataType).alias(c)
                    for c in cols
                ]
            )
        )
        pieces.append(inserted)
    persisted = []
    if bs_active:
        # WHEN NOT MATCHED BY SOURCE candidates are target rows whose key
        # has NO source row — by definition (mostly) OUTSIDE the source
        # key range, so this clause must never see the key-pruned scan
        # (pruning is gated per-clause; the matched/insert pipeline
        # above keeps its pruned scan). It CAN see a scan pruned by its
        # own clause conditions (bs_filter): a candidate by definition
        # satisfies one of them. The anti-join side is the (small)
        # source: broadcast, so the pass stays shuffle-free. All scan
        # views derive from the SAME single planning pass (full_tasks).
        if spj is not None:
            bysrc = spj["bysrc"]()
        else:
            if bs_filter is not None:
                cscan = table.scan(bs_filter)
                bysrc_base = cscan.to_df(
                    spark, tasks=cscan.filter_tasks(full_tasks)
                ).alias("target")
            elif scan_filter is None:
                bysrc_base = tgt
            else:
                bysrc_base = full_scan.to_df(spark, tasks=full_tasks).alias(
                    "target"
                )
            bysrc = bysrc_base.join(src, join_cond, "left_anti")
        bs_del_cond = (
            cond(not_matched_by_source_delete_condition)
            if not_matched_by_source_delete_condition is not None
            else F.lit(bool(not_matched_by_source_delete))
        )
        bs_upd_cond = (
            cond(not_matched_by_source_update_condition)
            if not_matched_by_source_update_condition is not None
            else F.lit(True)
        )
        if not_matched_by_source_update is None:
            bs_upd_cond = F.lit(False)
        bs_affected = bysrc.where(bs_del_cond | bs_upd_cond)
        bs_keys = bs_affected.select(
            *[F.col(f"target.{k}").alias(k) for k in on]
        ).dropDuplicates()
        if not_matched_by_source_update is not None:
            pieces.append(
                bysrc.where(bs_upd_cond & ~bs_del_cond).select(
                    *out(dict(not_matched_by_source_update))
                )
            )
        if (
            not_matched_by_source_delete_condition is not None
            or not_matched_by_source_update_condition is not None
        ):
            # per-row conditions + key-granular equality deletes: re-emit
            # duplicate-key siblings the conditions spared, same rule as
            # the matched pipeline
            dk2 = bs_keys.select(*[F.col(k).alias(f"__dk_{k}") for k in on])
            sib2 = None
            for k in on:
                c = F.col(f"target.{k}").eqNullSafe(F.col(f"__dk_{k}"))
                sib2 = c if sib2 is None else (sib2 & c)
            if bs_filter is None:
                sib_src = bysrc
            else:
                # the cond-pruned scan CANNOT serve the sibling pass: a
                # sibling fails the conditions by definition, so its
                # file may be pruned while its key is still deleted.
                # Scan a SECOND view bounded by the affected keys
                # (typically a handful of files) — sound because key-
                # bounds pruning is inclusive w.r.t. key equality.
                from pyspark import StorageLevel as _SL

                bs_keys = bs_keys.persist(_SL.MEMORY_AND_DISK)
                persisted.append(bs_keys)
                dk2 = bs_keys.select(
                    *[F.col(k).alias(f"__dk_{k}") for k in on]
                )
                kflt = _source_key_prune_filter(bs_keys, fields)
                if kflt is not None:
                    kscan = table.scan(kflt)
                    sib_base = kscan.to_df(
                        spark, tasks=kscan.filter_tasks(full_tasks)
                    ).alias("target")
                else:
                    sib_base = full_scan.to_df(
                        spark, tasks=full_tasks
                    ).alias("target")
                sib_src = sib_base.join(src, join_cond, "left_anti")
            pieces.append(
                sib_src.where(~bs_del_cond & ~bs_upd_cond)
                .join(dk2, sib2, "left_semi")
                .select(*[F.col(f"target.{c}").alias(c) for c in cols])
            )
        delete_keys = delete_keys.unionByName(bs_keys)
    if pieces:
        data_df = pieces[0]
        for p in pieces[1:]:
            data_df = data_df.unionByName(p)
    else:  # delete-only merge
        data_df = spark.createDataFrame([], struct)
    try:
        return _row_delta(table, data_df, delete_keys, fields, "merge")
    finally:
        for p in persisted:
            p.unpersist()


def _zorder_bounds(victims, schema, col_names):
    """Per-column (min, max) for z-value normalization, folded from the
    victims' manifest stats when every file carries bounds for every
    z-order column (driver-side, no job); returns None on any gap so the
    caller falls back to one Spark aggregate."""
    from .conversions import from_bytes

    by_name = {f.name: f for f in schema.fields}
    out = {}
    for name in col_names:
        fld = by_name[name]
        lo = hi = None
        for t in victims:
            lb = (t.file.lower_bounds or {}).get(fld.field_id)
            ub = (t.file.upper_bounds or {}).get(fld.field_id)
            if lb is None or ub is None:
                return None
            flo, fhi = from_bytes(fld.field_type, lb), from_bytes(fld.field_type, ub)
            lo = flo if lo is None or flo < lo else lo
            hi = fhi if hi is None or fhi > hi else hi
        out[name] = (lo, hi)
    return out


def _cluster_expr(df, victims, schema, sort_cols, strategy):
    """Clustering sort key for a layout rewrite: the identity columns
    (strategy='sort') or ONE interleaved z-value column built from pure
    JVM bit arithmetic (strategy='zorder' — no UDF; stays inside
    whole-stage codegen). Z-order normalizes each column to a fixed-width
    integer via global min/max (manifest stats when complete, else one
    aggregate job) and interleaves the bits so a range partition on the
    z-value clusters ALL the columns at once — multi-column min/max
    pruning on files, the layout equivalent of the reference's
    metrics-evaluator file skipping at scale."""
    from pyspark.sql import functions as F

    from .types import (
        BooleanType,
        DateType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        StringType,
        TimestampType,
        TimestampTzType,
    )

    if strategy == "sort":
        return [F.col(c) for c in sort_cols]
    if len(sort_cols) < 2:
        raise ValueError("zorder needs at least 2 columns (use strategy='sort' for 1)")
    if len(sort_cols) > 4:
        raise ValueError("zorder supports at most 4 columns")
    by_name = {f.name: f for f in schema.fields}
    numeric = (
        IntegerType, LongType, FloatType, DoubleType, DecimalType,
        DateType, TimestampType, TimestampTzType, BooleanType, StringType,
    )
    for c in sort_cols:
        if c not in by_name:
            raise ValueError(f"zorder column {c!r} not in schema")
        if not isinstance(by_name[c].field_type, numeric):
            raise ValueError(
                f"zorder column {c!r} has unsupported type "
                f"{by_name[c].field_type}; numeric/date/timestamp/string only"
            )

    _STR_PREFIX_BYTES = 7  # 56 bits: big-endian prefix stays a positive long

    def num_expr(c):
        # numeric view of the column in the SAME units as manifest bounds
        # (from_bytes: timestamps = micros since epoch, dates = days;
        # strings = big-endian first-7-UTF-8-bytes integer, the truncate
        # transform's fixed-width trick — pure JVM string/bit functions,
        # no UDF, ordering agrees with lexicographic byte order on the
        # prefix)
        t = by_name[c].field_type
        if isinstance(t, (TimestampType, TimestampTzType)):
            return F.unix_micros(F.col(c))
        if isinstance(t, DateType):
            return F.datediff(F.col(c), F.lit("1970-01-01").cast("date"))
        if isinstance(t, StringType):
            hx = F.hex(F.substring(F.encode(F.col(c), "UTF-8"), 1, _STR_PREFIX_BYTES))
            return F.conv(F.rpad(hx, 2 * _STR_PREFIX_BYTES, "0"), 16, 10).cast("long")
        return F.col(c).cast("double")

    def bound_num(c, v):
        # driver-side twin of num_expr for manifest/agg bounds
        if v is None:
            return None
        if isinstance(by_name[c].field_type, StringType):
            b = str(v).encode("utf-8")[:_STR_PREFIX_BYTES]
            return float(int.from_bytes(b.ljust(_STR_PREFIX_BYTES, b"\x00"), "big"))
        return float(v)

    raw = _zorder_bounds(victims, schema, sort_cols)
    if raw is not None:
        # manifest bounds are in column units — convert to num_expr units
        bounds = {c: (bound_num(c, raw[c][0]), bound_num(c, raw[c][1])) for c in sort_cols}
    else:
        aggs = []
        for c in sort_cols:
            aggs += [
                F.min(num_expr(c)).alias(f"mn_{c}"),
                F.max(num_expr(c)).alias(f"mx_{c}"),
            ]
        row = df.agg(*aggs).collect()[0]  # one scalar row: O(1) driver data
        # num_expr output is already numeric: no per-type conversion
        bounds = {
            c: (
                None if row[f"mn_{c}"] is None else float(row[f"mn_{c}"]),
                None if row[f"mx_{c}"] is None else float(row[f"mx_{c}"]),
            )
            for c in sort_cols
        }

    k = len(sort_cols)
    bits = min(16, 62 // k)  # keep the interleave clear of the sign bit
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for j, c in enumerate(sort_cols):
        mn, mx = bounds[c]  # already in num_expr units (floats or None)
        col = num_expr(c).cast("double")
        if mn is None or mx is None or mx <= mn:
            norm = F.lit(0).cast("long")
        else:
            scaled = (col - F.lit(mn)) / F.lit(mx - mn) * F.lit(float(top))
            norm = F.coalesce(
                F.least(F.greatest(scaled, F.lit(0.0)), F.lit(float(top))),
                F.lit(0.0),
            ).cast("long")
        for bit in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(norm, bit).bitwiseAND(F.lit(1)), bit * k + j
                )
            )
    return [z.alias("__zval")]


def rewrite_data_files(
    table,
    spark,
    target_file_size: Optional[int] = None,
    strategy: str = "binpack",
    sort_cols: Optional[list] = None,
) -> bool:
    """Data-file rewrite in one 'replace' snapshot (same rows, new
    layout). Also materializes pending deletes — rewritten files carry no
    MOR baggage. ref Transaction.ReplaceDataFiles (transaction.go:408-497)
    used for compaction.

    strategy:
      binpack (default) — small-file compaction: coalesce the small /
        delete-carrying files back to the target size; well-sized clean
        files are carried forward untouched.
      sort — layout rewrite of EVERY data file: one range exchange on
        `sort_cols` (partition columns lead on partitioned tables) +
        task-local sort, so file min/max bounds become disjoint on the
        sort key and metrics pruning skips non-matching files.
      zorder — like sort, but clustering on the bit-interleaved z-value
        of 2-4 columns, so pruning works on ALL of them at once (no
        single column dominates the layout).
    """
    from .manifest import ManifestEntry, ManifestEntryStatus, write_manifest

    if strategy not in ("binpack", "sort", "zorder"):
        raise ValueError(f"strategy={strategy!r}: expected binpack|sort|zorder")
    clustered = strategy in ("sort", "zorder")
    if clustered and not sort_cols:
        raise ValueError(f"strategy={strategy!r} requires sort_cols")
    md = table.metadata
    v3 = md.format_version >= 3
    # name-mapped v3 tables compact fine: the lineage read resolves
    # ID-less files by mapped name in the Arrow reader (reader.resolve,
    # over table._lineage_ext_schema), so the rewrite materializes exact
    # _row_id values for imported rows too
    target = target_file_size or int(
        md.properties.get("write.target-file-size-bytes", str(TARGET_FILE_SIZE_BYTES))
    )
    tasks = table.scan().plan_files()
    if clustered:
        # a layout rewrite reclusters the whole table, not just small files
        victims = list(tasks)
        if not victims:
            return False
    else:
        victims = [
            t
            for t in tasks
            if t.file.file_size_in_bytes < target // 2 or t.delete_files
        ]
        if len(victims) < 2 and not any(t.delete_files for t in victims):
            return False

    ds = begin_distributed_snapshot(table)
    schema = md.current_schema()
    # rewrite ONLY the small/delete-carrying files (well-sized clean
    # files are carried forward untouched); read the victims through the
    # MOR machinery so pending deletes are materialized, and coalesce to
    # ceil(total/target) partitions so bin-packing actually merges
    import math as _math

    total = sum(t.file.file_size_in_bytes for t in victims)
    n_out = max(1, _math.ceil(total / target))
    scan = table.scan()
    write_schema = schema
    if v3:
        # v3 row lineage (spec "Row Lineage" rewrite rule): a writer that
        # copies rows MUST materialize _row_id and
        # _last_updated_sequence_number into the new files, otherwise
        # manifest-list first_row_id assignment would silently renumber
        # every compacted row. Read the victims with _fp/_pos kept (and
        # any already-materialized lineage columns), derive each row's
        # lineage from the source file's first_row_id / data sequence
        # number, and write the two reserved columns alongside the data.
        from .manifest import LAST_UPDATED_SEQ_FIELD_ID, ROW_ID_FIELD_ID
        from .table import _lineage_ext_schema, attach_lineage, lineage_map_frame

        lineage_map = lineage_map_frame(spark, victims)
        df = scan._read_with_deletes(
            spark, victims, schema, lineage=True
        )
        df = attach_lineage(df, lineage_map)
        write_schema = _lineage_ext_schema(schema)
    else:
        df = scan._read_with_deletes(spark, victims, schema)
    write_props = md.properties
    write_sort_order = None
    if clustered:
        # ONE range exchange on (partition columns, cluster key) + a
        # task-local sort: file bounds become disjoint on the cluster key
        # so the metrics evaluator prunes them. The fanout writer then
        # splits partition boundaries inside each task, so the write
        # itself adds NO second exchange (distribution-mode none).
        from pyspark.sql import functions as F

        cluster = _cluster_expr(df, victims, schema, list(sort_cols), strategy)
        spec = md.default_spec()
        src_by_id = {f.field_id: f for f in schema.fields}
        part_exprs = [
            pf.transform.spark_column(
                F.col(src_by_id[pf.source_id].name),
                src_by_id[pf.source_id].field_type,
            )
            for pf in spec.fields
        ]
        keys = part_exprs + cluster
        df = df.repartitionByRange(max(n_out, 1), *keys).sortWithinPartitions(*keys)
        write_props = dict(md.properties)
        write_props["write.distribution-mode"] = "none"
        if strategy == "sort":
            # stamp the declared sort-order id only when the table's
            # default order IS this identity ascending sort (never invent
            # an undeclared order id); the data is already sorted either way
            declared = next(
                (
                    o
                    for o in md.sort_orders
                    if o.order_id == md.default_sort_order_id
                ),
                None,
            )
            wanted = tuple(
                (f.source_id, f.transform, f.direction)
                for f in (declared.fields if declared else ())
            )
            ours = tuple(
                (
                    next(f.field_id for f in schema.fields if f.name == c),
                    "identity",
                    "asc",
                )
                for c in sort_cols
            )
            if declared is not None and wanted == ours:
                write_sort_order = declared
    else:
        df = df.coalesce(n_out)
    removed = {t.file.file_path for t in victims}
    data_files = write_data_files(
        df, write_schema, md.default_spec(), md.location, ds.commit_uuid,
        sort_order=write_sort_order,
        target_file_size=target,
        properties=write_props,
    )
    if v3:
        # manifest column stats for the reserved lineage columns are
        # meaningless (and record_count etc. are unaffected) — strip them
        reserved = {ROW_ID_FIELD_ID, LAST_UPDATED_SEQ_FIELD_ID}
        for f in data_files:
            for attr in (
                "column_sizes",
                "value_counts",
                "null_value_counts",
                "nan_value_counts",
                "lower_bounds",
                "upper_bounds",
            ):
                m = getattr(f, attr, None)
                if m:
                    for k in reserved & set(m):
                        del m[k]
    entries = [
        ManifestEntry(
            status=ManifestEntryStatus.ADDED,
            snapshot_id=ds.snapshot_id,
            sequence_number=None,
            file_sequence_number=None,
            data_file=f,
        )
        for f in data_files
    ]
    p = os.path.join(md.location, "metadata", f"{ds.commit_uuid}-compact-m0.avro")
    mf = write_manifest(p, md.default_spec(), schema, ds.snapshot_id, entries)
    # carry untouched data manifests minus rewritten entries; delete
    # manifests are carried too — rewritten files got fresh paths and a
    # higher sequence number, so stale deletes no longer apply to them
    carried, rm = _rewrite_parent_manifests(md, removed, ds.commit_uuid, "compact")
    _commit_manifests(
        table,
        [mf],
        carried,
        operation="replace",
        extra_summary={
            "rewritten-data-files": str(len(removed)),
            "deleted-data-files": str(len(removed)),
            "deleted-records": str(rm["deleted-records"]),
            "removed-files-size": str(rm["removed-files-size"]),
            "added-data-files": str(len(data_files)),
            "added-records": str(sum(f.record_count for f in data_files)),
            "added-files-size": str(
                sum(f.file_size_in_bytes for f in data_files)
            ),
        },
        snapshot_id=ds.snapshot_id,
        commit_uuid=ds.commit_uuid,
        parent_snapshot_id=ds.parent_snapshot_id,
    )
    return True
