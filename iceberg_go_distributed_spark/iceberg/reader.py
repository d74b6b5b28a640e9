"""The executor-side per-file reader: one data file in, the table's
columns out (ref table/arrow_scanner.go).

Every Arrow read path goes through these pieces: the DataFrame-fed scan
(table.py), which serves every read of a wide file set, of a name-mapped
table or of a schema with initial defaults, and every scan whose paths
the JVM cannot open; SPJ bucket sides (spj.py); and the stream source /
CDC reads (streaming.py). The JVM read resolves by field id alone, so
column resolution by mapped name, v3 initial-defaults, type promotion
and positional-delete application are defined here exactly once:

  * ``field_ids``        — the `PARQUET:field_id` parse of a file schema;
  * ``resolve``          — field id first; id-less files by a mapped
                           (pre-rename) name, then by the current name;
  * ``project``          — cast resolved columns to the table type, fill
                           missing ones with the initial-default or null;
  * ``delete_positions`` — the file positions DVs / v2 positional delete
                           files remove from one data file;
  * ``matched_positions`` — the file positions whose row a bound
                           predicate matches (DML's row matcher);
  * ``read_file``        — one open, pruned columns, projection, and an
                           optional position drop.

`fields` everywhere is ``[(field_id, name, arrow_type, initial_default)]``
for the read schema (see ``read_fields``).
"""

from __future__ import annotations


def field_ids(arrow_schema) -> dict:
    """{field_id: physical column name} from the top-level fields'
    `PARQUET:field_id` metadata; empty for an id-less (imported) file."""
    out = {}
    for fld in arrow_schema:
        fid = (fld.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            out[int(fid)] = fld.name
    return out


def read_fields(schema) -> list:
    """The reader's `fields` for an Iceberg schema. timestamptz reads as
    UTC-zoned microseconds, the type Spark's own parquet reader yields."""
    import pyarrow as pa

    from .types import TimestampTzType
    from .write import _arrow_type

    return [
        (
            f.field_id,
            f.name,
            pa.timestamp("us", tz="UTC")
            if isinstance(f.field_type, TimestampTzType)
            else _arrow_type(f.field_type),
            f.initial_default,
        )
        for f in schema.fields
    ]


def mapped_names(properties) -> dict:
    """{field_id: [mapped names]} from `schema.name-mapping.default`:
    ANY of a field's mapped (pre-rename) names may be the physical
    column of an id-less file (ref name_mapping.go:144)."""
    nm_json = properties.get("schema.name-mapping.default")
    if not nm_json:
        return {}
    from .sanitize import name_mapping_from_json

    return {
        m.field_id: list(m.names)
        for m in name_mapping_from_json(nm_json)
        if m.field_id is not None
    }


def resolve(arrow_schema, fields, mapped_names) -> dict:
    """{field_id: physical column name, or None when the file lacks the
    field}. Files with ids resolve strictly by id (rename-safe); id-less
    files by the first mapped name present, then the current name."""
    by_id = field_ids(arrow_schema)
    names = set(arrow_schema.names)

    def one(fid, name):
        if by_id:
            return by_id.get(fid)
        for alias in mapped_names.get(fid, ()):
            if alias in names:
                return alias
        return name if name in names else None

    return {fid: one(fid, name) for fid, name, _t, _d in fields}


def _cast_bridge(col, want):
    """Cast an Arrow column to `want`, bridging casts Arrow has no
    direct kernel for: date32<->int64 (a date bucket-joined against an
    int/long sibling widens to int64) goes through int32, date32's
    physical day-number representation, so values stay bit-exact."""
    import pyarrow as pa

    if col.type == want:
        return col
    try:
        return col.cast(want)
    except pa.lib.ArrowNotImplementedError:
        if pa.types.is_date32(col.type):
            return col.cast(pa.int32()).cast(want)
        if pa.types.is_date32(want):
            return col.cast(pa.int32()).cast(pa.date32())
        raise


def _fill(default, t, n):
    """n copies of a missing column's initial-default, or n nulls.
    pa.repeat keeps it O(1) Python objects per file. Spec single-value
    JSON serializes date/timestamp/decimal defaults as STRINGS — cast
    them like the JVM path's lit().cast()."""
    import pyarrow as pa

    if default is None:
        return pa.nulls(n, type=t)
    try:
        s = pa.scalar(default, type=t)
    except (pa.ArrowInvalid, TypeError) as e:
        try:
            s = pa.array([default]).cast(t)[0]
        except Exception:  # noqa: BLE001
            raise e from None
    return pa.repeat(s, n)


def project(data, fields, resolved, n):
    """`data` (a Table or RecordBatch holding the resolved physical
    columns; None when nothing resolved) projected onto `fields`: each
    resolved column cast to the table type (int32→long etc.), each
    missing one filled by `_fill`. Returns the same kind as `data` (a
    RecordBatch for None), n rows, columns named as in `fields`."""
    import pyarrow as pa

    arrays = [
        _fill(dflt, t, n)
        if resolved[fid] is None
        else _cast_bridge(data.column(resolved[fid]), t)
        for fid, _name, t, dflt in fields
    ]
    names = [name for _fid, name, _t, _d in fields]
    if isinstance(data, pa.Table):
        return pa.table(arrays, names=names)
    return pa.RecordBatch.from_arrays(arrays, names=names)


def delete_entry(d) -> dict:
    """The executor-side descriptor of one positional delete file:
    {"path", "dv": [offset, size] for a v3 deletion vector (puffin
    blob), None for a v2 positional parquet file}."""
    return {
        "path": d.file_path,
        "dv": (
            [d.content_offset, d.content_size_in_bytes]
            if d.content_offset is not None
            else None
        ),
    }


def delete_positions(data_path: str, dels, v2_files=None):
    """Deleted file positions of `data_path` named by `delete_entry`
    descriptors, as a sorted unique int64 numpy array. A v2 file may
    hold rows for other data files; its `file_path` column matches
    `data_path` with URI schemes stripped (table.strip_scheme).
    `v2_files`, a dict, keeps each v2 file's rows once read, for a
    caller that looks up many data files in the same delete files."""
    import numpy as np

    parts = []
    for d in dels:
        if d["dv"] is not None:
            from . import puffin

            parts.append(
                puffin.read_deletion_vector(
                    d["path"], int(d["dv"][0]), int(d["dv"][1])
                ).astype("int64")
            )
            continue
        import pyarrow.compute as pc

        from . import fileio
        from .table import SCHEME_RE, strip_scheme

        rows = (v2_files or {}).get(d["path"])
        if rows is None:
            with fileio.parquet_file(d["path"]) as pf:
                tbl = pf.read(columns=["file_path", "pos"])
            rows = (
                pc.replace_substring_regex(
                    tbl["file_path"], pattern=SCHEME_RE, replacement=""
                ),
                tbl["pos"],
            )
            if v2_files is not None:
                v2_files[d["path"]] = rows
        stripped, pos = rows
        hit = pc.equal(stripped, strip_scheme(data_path))
        parts.append(pos.filter(hit).to_numpy(zero_copy_only=False).astype("int64"))
    if not parts:
        return np.empty(0, dtype="int64")
    return np.unique(np.concatenate(parts))


def matched_positions(path, fields, mapped_names, bound, batch_rows=131072):
    """File positions (sorted int64 numpy array) of the rows of `path`
    whose predicate is TRUE — the rule of expressions.py, through
    `to_arrow_expression(bound)`. `fields` are the predicate's columns:
    they resolve and project like any read (field ids, mapped names,
    promotion, initial defaults). The file streams in `batch_rows`
    batches, so executor memory is one batch plus the positions."""
    import numpy as np
    import pyarrow as pa

    from . import fileio
    from .expressions import to_arrow_expression

    expr = to_arrow_expression(bound)
    parts = []
    with fileio.parquet_file(path) as pf:
        resolved = resolve(pf.schema_arrow, fields, mapped_names)
        cols = [p for p in resolved.values() if p is not None]
        start = 0
        for batch in pf.iter_batches(batch_size=batch_rows, columns=cols):
            n = batch.num_rows
            tbl = pa.Table.from_batches(
                [project(batch, fields, resolved, n)]
            ).append_column(
                "_pos", pa.array(np.arange(start, start + n, dtype=np.int64))
            )
            parts.append(tbl.filter(expr)["_pos"].to_numpy())
            start += n
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.concatenate(parts)


def _arrow_read_file(path, fields, mapped_names, arrow_filter, filter_names, with_pos):
    """Open `path` ONCE and read only the resolved columns: one handle
    serves both the schema probe and the data read (a second open would
    double object-store round trips at million-file scale, VERDICT r13
    task 4). Returns (physical table, `resolve` result).

    The residual `arrow_filter` is pushed into the read only when every
    column it references physically carries its CURRENT name in this
    file — the compiled expression addresses physical names — and is
    not a float or double: parquet statistics leave NaN out, so pyarrow
    would skip a row group whose NaN rows `!=` or NOT IN keep. It is
    never pushed for a positional read (`with_pos`), which must see
    every row in file order: in-file filtering would renumber
    positions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from . import fileio

    handle = fileio.open_input(path)
    try:
        # ParquetFile parses the footer ONCE and serves both the schema
        # probe and the data read. The pq.read_table(handle, ...) it
        # replaces spun up the whole pyarrow Dataset machinery per call
        # AND re-parsed the footer: measured 8.96 ms → 1.51 ms per small
        # file (OPTIMIZATION_r14.md) — the dominant per-file cost of a
        # million-small-file scan.
        pf = pq.ParquetFile(handle)
        resolved = resolve(pf.schema_arrow, fields, mapped_names)
        cols = [p for p in resolved.values() if p is not None]
        pushable = (
            arrow_filter is not None
            and not with_pos
            and all(
                resolved.get(fid) == name and not pa.types.is_floating(t)
                for fid, name, t, _d in fields
                if name in filter_names
            )
        )
        if pushable:
            # row-group stats pruning needs the Dataset reader; selective
            # filters on big files win back far more than its fixed cost
            handle.seek(0)
            return (
                pq.read_table(handle, columns=cols, filters=arrow_filter),
                resolved,
            )
        return pf.read(columns=cols), resolved
    finally:
        handle.close()


def read_file(
    path,
    fields,
    mapped_names,
    arrow_filter=None,
    filter_names=(),
    with_pos=False,
    drop=None,
):
    """One data file as a Table projected onto `fields`. `drop` (file
    positions, e.g. from `delete_positions`) removes those rows and,
    like `with_pos`, forces a file-order read. A pushed `arrow_filter`
    is an optimization only: rows it could not be pushed for are NOT
    filtered here, so callers that need the residual applied filter
    the result themselves."""
    import numpy as np
    import pyarrow as pa

    tbl, resolved = _arrow_read_file(
        path,
        fields,
        mapped_names,
        arrow_filter,
        filter_names,
        with_pos or drop is not None,
    )
    out = project(tbl, fields, resolved, tbl.num_rows)
    if drop is not None and len(drop):
        keep = np.setdiff1d(
            np.arange(out.num_rows, dtype=np.int64), drop, assume_unique=True
        )
        out = out.take(pa.array(keep))
    return out
