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
  * ``eq_deleted_positions`` — the file positions equality-delete key
                           files remove (the executor-side twin of the
                           scan's null-safe anti-join);
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


def _key_fill(t):
    """The fixed non-null value of type `t` that stands in for a null
    key value, whose flag column then tells the two apart."""
    import pyarrow as pa

    if pa.types.is_boolean(t):
        v = False
    elif pa.types.is_fixed_size_binary(t):
        v = bytes(t.byte_width)
    elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
        v = b""
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        v = ""
    else:
        v = 0
    return pa.scalar(v, t)


def _eq_join_keys(data, fields):
    """Join-ready key columns of `data` (projected onto `fields`): each
    key column becomes `k<fid>`, a typed fill, and `n<fid>`, a flag.
    Arrow's hash join never matches null to null and tells -0.0 from
    0.0, so the flag carries null (1) and NaN (2) and the fill holds
    the value, floats read as `c + 0.0`. The join then follows the
    equality-delete rule of the scan's `eqNullSafe` anti-join: NULL =
    NULL, NaN = NaN, NULL ≠ NaN and -0.0 = 0.0."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arrays, names = [], []
    for fid, name, t, _d in fields:
        c = data.column(name)
        if pa.types.is_floating(t):
            nan = pc.is_nan(c)
            flag = pc.if_else(pc.is_null(c), 1, pc.if_else(nan, 2, 0))
            c = pc.if_else(nan, pa.scalar(0.0, t), pc.add(c, pa.scalar(0.0, t)))
        else:
            flag = pc.is_null(c)
        arrays += [pc.fill_null(c, _key_fill(t)), flag.cast(pa.int8())]
        names += [f"k{fid}", f"n{fid}"]
    return pa.table(arrays, names=names)


# Per-worker LRU of join-ready equality-delete key tables, shared by the
# eq→DV conversion, SPJ bucket reads and the CDC stream source: the
# tasks one Python worker runs read each key file about once. Bounded by
# slot count × the callers' key-row bounds (maintenance
# `_EQ_CONVERT_KEYS_MAX_ROWS`, `read.cdc.eq-keys-max-rows`); key-file
# paths are immutable, so an entry never goes stale.
_EQ_KEY_CACHE: dict = {}
_EQ_KEY_CACHE_MAX = 4


def eq_key_table(path, fields):
    """One equality-delete key file through `read_file` (columns by
    field id, projected onto the key `fields`) as `_eq_join_keys`
    columns, LRU-cached per worker process. MODULE-LEVEL on purpose:
    cloudpickle ships a module-level function by reference, so tasks
    resolve `_EQ_KEY_CACHE` in the worker's imported module; a nested
    loader would be pickled by value with a fresh cache per task. The
    caller applies fileio config first."""
    k = (path, tuple((fid, str(t)) for fid, _n, t, _d in fields))
    keys = _EQ_KEY_CACHE.pop(k, None)
    if keys is None:
        keys = _eq_join_keys(read_file(path, fields, {}), fields)
        while len(_EQ_KEY_CACHE) >= _EQ_KEY_CACHE_MAX:
            _EQ_KEY_CACHE.pop(next(iter(_EQ_KEY_CACHE)))
    _EQ_KEY_CACHE[k] = keys  # (re)insert as most recent
    return keys


def eq_key_fields(keys, path, ids):
    """The fields of equality-delete file `path`'s key columns `ids`,
    from `keys` ({field_id: field} of the current schema). Refuses a key
    column dropped from the schema: matching on the rest would
    over-delete, and skipping the file would resurrect deleted rows."""
    missing = [i for i in ids if i not in keys]
    if missing:
        raise ValueError(
            f"equality-delete file {path} keys on dropped field ids "
            f"{missing}; the delete cannot be applied against the "
            "current schema (compact the table before dropping "
            "equality-key columns)"
        )
    return [keys[i] for i in ids]


def eq_deleted_positions(pf, eq_files, mapped_names, batch_rows=131072):
    """File positions (sorted unique int64 numpy array) of the rows of
    `pf`, an open data file, whose key tuple an equality-delete file
    names. `eq_files` is [(key file path, key `fields`)]. Data key
    columns resolve and project like any read (field ids, mapped names,
    promotion, initial defaults); key files load by `eq_key_table`.
    Files on the same key columns form one key table and one Arrow
    left-semi join per batch. The file streams in `batch_rows` batches,
    so memory is one batch plus the key tables."""
    import numpy as np
    import pyarrow as pa

    if not eq_files:
        return np.empty(0, dtype=np.int64)
    groups: dict = {}
    need: dict = {}
    for path, fields in eq_files:
        ids = tuple(f[0] for f in fields)
        groups.setdefault(ids, []).append(eq_key_table(path, fields))
        need.update((f[0], f) for f in fields)
    need = list(need.values())
    keys = [pa.concat_tables(tables) for tables in groups.values()]
    parts = []
    resolved = resolve(pf.schema_arrow, need, mapped_names)
    cols = sorted({p for p in resolved.values() if p is not None})
    start = 0
    for batch in pf.iter_batches(batch_size=batch_rows, columns=cols):
        n = batch.num_rows
        data = _eq_join_keys(project(batch, need, resolved, n), need).append_column(
            "_pos", pa.array(np.arange(start, start + n, dtype=np.int64))
        )
        for ktbl in keys:
            on = ktbl.column_names
            hit = data.select(on + ["_pos"]).join(ktbl, on, join_type="left semi")
            parts.append(hit["_pos"].to_numpy())
        start += n
    return np.unique(np.concatenate(parts or [np.empty(0, dtype=np.int64)]))


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
