"""Reference twins that the package no longer calls.

Each is the straightforward per-item form of a job the package now does
faster; tests compare the production path against it on seeded and
degenerate inputs.

  * `inclusive_metrics_oracle` — per-file closure twin of the block
    evaluator `evaluators.inclusive_metrics_evaluator`.
  * `match_deletes` / `_delete_covers_path` — linear twin of the indexed
    `table.build_delete_matcher`.
  * `read_datum` — recursive BytesIO twin of avro's codegen'd block
    reader.
"""

from __future__ import annotations

import struct
from typing import Any, BinaryIO, Callable

from iceberg_go_distributed_spark.iceberg.avro import (
    _read_bytes,
    _read_exact,
    _read_long,
    _schema_type,
)
from iceberg_go_distributed_spark.iceberg.conversions import from_bytes
from iceberg_go_distributed_spark.iceberg.evaluators import (
    IN_PREDICATE_LIMIT,
    ROWS_CANNOT_MATCH,
    ROWS_MIGHT_MATCH,
    _as_str,
    _is_nan_lit,
)
from iceberg_go_distributed_spark.iceberg.expressions import (
    AlwaysFalse,
    AlwaysTrue,
    And,
    BoundLiteralPredicate,
    BoundPredicate,
    BoundSetPredicate,
    Expression,
    Not,
    Operation,
    Or,
    bind_expr,
    rewrite_not,
)
from iceberg_go_distributed_spark.iceberg.manifest import (
    POSITIONAL_DELETE_FILE_PATH_ID,
    DataFile,
    DataFileContent,
)
from iceberg_go_distributed_spark.iceberg.types import Schema


# ------------------------------------------------------- metrics evaluator

def inclusive_metrics_oracle(
    schema: Schema, expr: Expression, case_sensitive: bool = True, include_empty_files: bool = False
) -> Callable[[Any], bool]:
    """Per-file twin of `evaluators.inclusive_metrics_evaluator`:
    `fn(data_file) -> bool`, one call per file, the closure tree the
    planner ran per manifest entry before it evaluated whole blocks."""
    bound = bind_expr(rewrite_not(expr), schema, case_sensitive)

    def contains_nulls_only(f, fid: int) -> bool:
        vc = (f.value_counts or {}).get(fid)
        nc = (f.null_value_counts or {}).get(fid)
        return vc is not None and nc is not None and vc == nc

    def contains_nans_only(f, fid: int) -> bool:
        nanc = (f.nan_value_counts or {}).get(fid)
        vc = (f.value_counts or {}).get(fid)
        return nanc is not None and vc is not None and nanc == vc

    def compile_node(e: Expression) -> Callable[[Any], bool]:
        if isinstance(e, AlwaysTrue):
            return lambda f: ROWS_MIGHT_MATCH
        if isinstance(e, AlwaysFalse):
            return lambda f: ROWS_CANNOT_MATCH
        if isinstance(e, And):
            left, right = compile_node(e.left), compile_node(e.right)
            return lambda f: left(f) and right(f)
        if isinstance(e, Or):
            left, right = compile_node(e.left), compile_node(e.right)
            return lambda f: left(f) or right(f)
        if isinstance(e, Not):
            child = compile_node(e.child)
            return lambda f: not child(f)

        assert isinstance(e, BoundPredicate)
        fid = e.term.field.field_id
        t = e.term.type
        op = e.op_

        def lower(f):
            lb = f.lower_bounds
            b = lb.get(fid) if lb else None
            return None if b is None else from_bytes(t, b)

        def upper(f):
            ub = f.upper_bounds
            b = ub.get(fid) if ub else None
            return None if b is None else from_bytes(t, b)

        if op == Operation.IS_NULL:
            def p_is_null(f):
                nc = (f.null_value_counts or {}).get(fid)
                return ROWS_CANNOT_MATCH if nc == 0 else ROWS_MIGHT_MATCH
            return p_is_null
        if op == Operation.NOT_NULL:
            def p_not_null(f):
                return ROWS_CANNOT_MATCH if contains_nulls_only(f, fid) else ROWS_MIGHT_MATCH
            return p_not_null
        if op == Operation.IS_NAN:
            def p_is_nan(f):
                if (f.nan_value_counts or {}).get(fid) == 0:
                    return ROWS_CANNOT_MATCH
                if contains_nulls_only(f, fid):
                    return ROWS_CANNOT_MATCH
                return ROWS_MIGHT_MATCH
            return p_is_nan
        if op == Operation.NOT_NAN:
            def p_not_nan(f):
                return ROWS_CANNOT_MATCH if contains_nans_only(f, fid) else ROWS_MIGHT_MATCH
            return p_not_nan

        if isinstance(e, BoundLiteralPredicate):
            lit = e.literal.value
            if op == Operation.LT:
                def p_lt(f):
                    if contains_nulls_only(f, fid) or contains_nans_only(f, fid):
                        return ROWS_CANNOT_MATCH
                    lo = lower(f)
                    if lo is not None and not _is_nan_lit(lo) and lo >= lit:
                        return ROWS_CANNOT_MATCH
                    return ROWS_MIGHT_MATCH
                return p_lt
            if op == Operation.LT_EQ:
                def p_lt_eq(f):
                    if contains_nulls_only(f, fid) or contains_nans_only(f, fid):
                        return ROWS_CANNOT_MATCH
                    lo = lower(f)
                    if lo is not None and not _is_nan_lit(lo) and lo > lit:
                        return ROWS_CANNOT_MATCH
                    return ROWS_MIGHT_MATCH
                return p_lt_eq
            if op == Operation.GT:
                def p_gt(f):
                    if contains_nulls_only(f, fid) or contains_nans_only(f, fid):
                        return ROWS_CANNOT_MATCH
                    hi = upper(f)
                    if hi is not None and not _is_nan_lit(hi) and hi <= lit:
                        return ROWS_CANNOT_MATCH
                    return ROWS_MIGHT_MATCH
                return p_gt
            if op == Operation.GT_EQ:
                def p_gt_eq(f):
                    if contains_nulls_only(f, fid) or contains_nans_only(f, fid):
                        return ROWS_CANNOT_MATCH
                    hi = upper(f)
                    if hi is not None and not _is_nan_lit(hi) and hi < lit:
                        return ROWS_CANNOT_MATCH
                    return ROWS_MIGHT_MATCH
                return p_gt_eq
            if op == Operation.EQ:
                def p_eq(f):
                    if contains_nulls_only(f, fid) or contains_nans_only(f, fid):
                        return ROWS_CANNOT_MATCH
                    lo = lower(f)
                    if lo is not None and not _is_nan_lit(lo) and lo > lit:
                        return ROWS_CANNOT_MATCH
                    hi = upper(f)
                    if hi is not None and not _is_nan_lit(hi) and hi < lit:
                        return ROWS_CANNOT_MATCH
                    return ROWS_MIGHT_MATCH
                return p_eq
            if op == Operation.NOT_EQ:
                return lambda f: ROWS_MIGHT_MATCH
            if op == Operation.STARTS_WITH:
                prefix = _as_str(lit)
                np = len(prefix)
                def p_sw(f):
                    if contains_nulls_only(f, fid):
                        return ROWS_CANNOT_MATCH
                    lo = lower(f)
                    if lo is not None and _as_str(lo)[:np] > prefix:
                        return ROWS_CANNOT_MATCH
                    hi = upper(f)
                    if hi is not None and _as_str(hi)[:np] < prefix:
                        return ROWS_CANNOT_MATCH
                    return ROWS_MIGHT_MATCH
                return p_sw
            if op == Operation.NOT_STARTS_WITH:
                # ref evaluators.go:1143-1195
                prefix = _as_str(lit)
                np = len(prefix)
                def p_nsw(f):
                    if (f.null_value_counts or {}).get(fid, 1) > 0:
                        return ROWS_MIGHT_MATCH
                    lo = lower(f)
                    hi = upper(f)
                    if lo is None or hi is None:
                        return ROWS_MIGHT_MATCH
                    lo_s, hi_s = _as_str(lo), _as_str(hi)
                    if len(lo_s) >= np and lo_s.startswith(prefix):
                        if len(hi_s) >= np and hi_s.startswith(prefix):
                            return ROWS_CANNOT_MATCH
                    return ROWS_MIGHT_MATCH
                return p_nsw

        if isinstance(e, BoundSetPredicate):
            if op == Operation.IN:
                if len(e.values) > IN_PREDICATE_LIMIT:
                    # the nulls/nans gate still applies before the
                    # over-limit bail (order matches the interpreter)
                    def p_in_big(f):
                        if contains_nulls_only(f, fid) or contains_nans_only(f, fid):
                            return ROWS_CANNOT_MATCH
                        return ROWS_MIGHT_MATCH
                    return p_in_big
                base_values = set(e.values)
                def p_in(f):
                    if contains_nulls_only(f, fid) or contains_nans_only(f, fid):
                        return ROWS_CANNOT_MATCH
                    values = base_values
                    lo = lower(f)
                    if lo is not None:
                        if _is_nan_lit(lo):
                            return ROWS_MIGHT_MATCH
                        values = {v for v in values if v >= lo}
                        if not values:
                            return ROWS_CANNOT_MATCH
                    hi = upper(f)
                    if hi is not None:
                        if _is_nan_lit(hi):
                            return ROWS_MIGHT_MATCH
                        values = {v for v in values if v <= hi}
                        if not values:
                            return ROWS_CANNOT_MATCH
                    return ROWS_MIGHT_MATCH
                return p_in
            if op == Operation.NOT_IN:
                return lambda f: ROWS_MIGHT_MATCH
        raise TypeError(f"metrics evaluator cannot handle {e!r}")

    root = compile_node(bound)

    def eval_file(f) -> bool:
        if not include_empty_files and f.record_count == 0:
            return ROWS_CANNOT_MATCH
        if f.record_count < 0:
            return ROWS_MIGHT_MATCH
        return root(f)

    return eval_file


# --------------------------------------------------------- delete matching

def match_deletes(data_seq: int, data_path: str, delete_rows) -> tuple:
    """Sequence-gated delete matching for one data file (ref
    scanner.go:285-309): v3 DVs match their exact referenced file at
    seq >=, parquet positional deletes match by file_path bounds at
    seq >=, equality deletes apply to strictly older data (seq >).
    `delete_rows` is an iterable of (delete_seq, delete_DataFile) sorted
    by sequence number."""
    picked = []
    for d_seq, ddf in delete_rows:
        if ddf.content == DataFileContent.POSITION_DELETES:
            if ddf.content_offset is not None:
                # v3 deletion vector: targets exactly one data file
                # (referenced_data_file is required for DVs)
                if d_seq >= data_seq and ddf.referenced_data_file == data_path:
                    picked.append(ddf)
            # positional: applies to same-or-older data (>=)
            elif d_seq >= data_seq and _delete_covers_path(ddf, data_path):
                picked.append(ddf)
        elif ddf.content == DataFileContent.EQUALITY_DELETES:
            # equality: applies to strictly older data (>)
            if d_seq > data_seq:
                picked.append(ddf)
    return tuple(picked)


def _delete_covers_path(delete_file: DataFile, data_path: str) -> bool:
    """file_path-bounds check for positional-delete matching —
    ref scanner.go:285-309 (metrics-match on file_path)."""
    FP = POSITIONAL_DELETE_FILE_PATH_ID
    lo = (delete_file.lower_bounds or {}).get(FP)
    hi = (delete_file.upper_bounds or {}).get(FP)
    if lo is None or hi is None:
        return True  # no bounds → must assume it may apply
    try:
        lo_s = lo.decode("utf-8")
        hi_s = hi.decode("utf-8")
    except Exception:
        return True
    # upper bound may be truncated+incremented; prefix compare is safe
    return lo_s[: len(data_path)] <= data_path <= hi_s or data_path.startswith(hi_s)


# ------------------------------------------------------------ avro decode

def read_datum(buf: BinaryIO, schema: Any) -> Any:
    t = _schema_type(schema)
    if t == "union":
        idx = _read_long(buf)
        return read_datum(buf, schema[idx])
    if t == "null":
        return None
    if t == "boolean":
        b = buf.read(1)
        if not b:
            raise EOFError("unexpected end of avro data")
        return b != b"\x00"
    if t in ("int", "long"):
        return _read_long(buf)
    if t == "float":
        return struct.unpack("<f", _read_exact(buf, 4))[0]
    if t == "double":
        return struct.unpack("<d", _read_exact(buf, 8))[0]
    if t == "string":
        return _read_bytes(buf).decode("utf-8")
    if t == "bytes":
        return _read_bytes(buf)
    if t == "fixed":
        return _read_exact(buf, schema["size"])
    if t == "record":
        return {f["name"]: read_datum(buf, f["type"]) for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                break
            if n < 0:  # block with byte size prefix
                _read_long(buf)
                n = -n
            for _ in range(n):
                out.append(read_datum(buf, schema["items"]))
        return out
    if t == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                break
            if n < 0:
                _read_long(buf)
                n = -n
            for _ in range(n):
                k = _read_bytes(buf).decode("utf-8")
                out[k] = read_datum(buf, schema["values"])
        return out
    raise TypeError(f"unsupported avro type {t!r}")
