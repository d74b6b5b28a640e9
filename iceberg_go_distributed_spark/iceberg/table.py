"""Table + Scan: the read path.

Scan planning is driver-side pure Python (O(manifests), not O(rows)) —
the four-level cascade of SURVEY §3.1 steps 4-6 — and execution is one
`spark.read.parquet(*pruned_files)` plus a residual `filter` Column
(step 7; Catalyst adds parquet row-group pruning on top). Mirrors
table/table.go:361-379 (Scan builder), table/scanner.go:410-460
(PlanFiles), scanner.go:177-210 (ref / time-travel resolution).
"""

from __future__ import annotations

import functools
import logging
import threading
from dataclasses import dataclass, field, replace
from typing import Any, Optional

logger = logging.getLogger(__name__)

from .evaluators import (
    expression_evaluator,
    inclusive_metrics_evaluator,
    inclusive_projection,
    manifest_evaluator,
    metrics_field_ids,
)
from .expressions import AlwaysTrue, Expression, to_spark_column
from .manifest import (
    DataFile,
    ManifestBlock,
    ManifestContent,
    ManifestEntryStatus,
    ManifestFile,
    is_resident,
    map_manifests,
    read_manifest,
    scan_manifest,
)
from .metadata import MAIN_BRANCH, Snapshot, TableMetadata
from .partitioning import PartitionSpec
from .types import Schema, schema_to_spark_ddl


@dataclass(frozen=True)
class FileScanTask:
    """ref table/scanner.go:462-466."""

    file: DataFile
    delete_files: tuple[DataFile, ...] = ()
    start: int = 0
    length: int = 0
    # manifest-entry data sequence number (v3 lineage: the inherited
    # _last_updated_sequence_number for rows the file never rewrote)
    data_sequence_number: Optional[int] = None


def _lineage_ext_schema(schema):
    """Iceberg schema extended with the spec's reserved row-lineage
    fields (`_row_id` 2147483540, `_last_updated_sequence_number`
    2147483539), optional longs. A lineage read resolves them like any
    other column: files written by row-copying writers (compaction,
    overwrite survivors) materialize them by id; files that never
    rewrote rows lack them and read as null, so readers can
    `coalesce(materialized, inherited)` per spec. Name mappings never
    map the reserved ids, so an ID-less file resolves them by their
    exact physical names. Also the write schema of those writers."""
    from .manifest import LAST_UPDATED_SEQ_FIELD_ID, ROW_ID_FIELD_ID
    from .types import LongType, NestedField, Schema

    return Schema.of(
        schema.schema_id,
        *schema.fields,
        NestedField(ROW_ID_FIELD_ID, "_row_id", LongType(), False),
        NestedField(
            LAST_UPDATED_SEQ_FIELD_ID, "_last_updated_sequence_number", LongType(), False
        ),
        identifier_field_ids=schema.identifier_field_ids,
    )


def lineage_map_frame(spark, tasks):
    """Broadcast-able (scheme-stripped file path → first_row_id, data
    sequence number) map for deriving the reserved lineage columns.
    Raises when any planned file lacks an assigned first_row_id."""
    missing = [t for t in tasks if t.file.first_row_id is None]
    if missing:
        raise ValueError(
            f"{len(missing)} data files lack first_row_id; commit once "
            "post-upgrade so the manifest list assigns row ids"
        )
    return _rows_frame(
        spark,
        [
            (
                strip_scheme(t.file.file_path),
                t.file.first_row_id,
                t.data_sequence_number,
            )
            for t in tasks
        ],
        "_fp string, _first_row_id bigint, _src_seq bigint",
    )


def attach_lineage(df, lineage_map):
    """Derive the spec's reserved lineage columns on a frame carrying
    `_fp`/`_pos` (and possibly materialized `_row_id` /
    `_last_updated_sequence_number` read from row-copied files):
    materialized values win over first_row_id + pos / data-sequence
    inheritance, per spec. Single source of truth for the read path
    (Scan.to_df) AND the row-copying write path (rewrite_data_files) —
    any change to lineage derivation lands in both at once."""
    from pyspark.sql import functions as F

    return (
        df.join(F.broadcast(lineage_map), "_fp")
        .withColumn(
            "_row_id",
            F.coalesce(
                F.col("_row_id"), F.col("_first_row_id") + F.col("_pos")
            ).cast("long"),
        )
        .withColumn(
            "_last_updated_sequence_number",
            F.coalesce(
                F.col("_last_updated_sequence_number"), F.col("_src_seq")
            ).cast("long"),
        )
        .drop("_fp", "_pos", "_first_row_id", "_src_seq")
    )


def _ranged_delete_bounds(delete_file: DataFile):
    """Decoded (lo, hi) file_path bounds of a legacy path-ranged
    positional delete, or None when bounds are absent/undecodable (the
    delete must then be assumed to cover every path)."""
    from .manifest import POSITIONAL_DELETE_FILE_PATH_ID as FP

    lo = (delete_file.lower_bounds or {}).get(FP)
    hi = (delete_file.upper_bounds or {}).get(FP)
    if lo is None or hi is None:
        return None
    try:
        return lo.decode("utf-8"), hi.decode("utf-8")
    except Exception:
        return None


class _IntervalTree:
    """Static centered interval tree over string intervals [lo, hi]:
    stab(p) yields every payload whose interval contains p in plain
    lexicographic order, O(log n + hits). Built once per delete set by
    build_delete_matcher for the legacy path-RANGED positional deletes
    (the shape `add_files` of foreign v2 tables imports), which
    otherwise reintroduce the O(files × deletes) linear scan the DV
    index removed."""

    __slots__ = ("center", "by_lo", "by_hi", "left", "right")

    def __init__(self, intervals):
        # intervals: [(lo, hi, payload)]
        mid = sorted(iv[0] for iv in intervals)[len(intervals) // 2]
        here, left, right = [], [], []
        for iv in intervals:
            if iv[1] < mid:
                left.append(iv)
            elif iv[0] > mid:
                right.append(iv)
            else:
                here.append(iv)
        self.center = mid
        self.by_lo = sorted(here, key=lambda iv: iv[0])
        self.by_hi = sorted(here, key=lambda iv: iv[1], reverse=True)
        self.left = _IntervalTree(left) if left else None
        self.right = _IntervalTree(right) if right else None

    def stab(self, p, out):
        node = self
        while node is not None:
            if p < node.center:
                for lo, _hi, payload in node.by_lo:
                    if lo > p:
                        break
                    out.append(payload)  # lo <= p < center <= hi
                node = node.left
            elif p > node.center:
                for _lo, hi, payload in node.by_hi:
                    if hi < p:
                        break
                    out.append(payload)  # lo <= center < p <= hi
                node = node.right
            else:
                for payload in (iv[2] for iv in node.by_lo):
                    out.append(payload)  # every interval here covers center
                return


def build_delete_matcher(delete_rows):
    """Sequence-gated delete matching — ref scanner.go:285-309.
    `delete_rows` is a list of (delete_seq, delete DataFile) sorted by
    sequence number; the returned `match(data_seq, data_path)` gives the
    tuple of deletes that apply to one data file, in delete_rows order.
    v3 DVs match their exact referenced file at seq >=, parquet
    positional deletes match by file_path bounds at seq >= (absent or
    undecodable bounds cover every path), and equality deletes apply to
    strictly older data (seq >).

    Indexed for matching MANY data files against the same delete set (a
    linear scan is O(files × deletes), quadratic in table size at
    DV-heavy scale): DVs are keyed by their exact referenced data file
    (dict hit), equality deletes bisected on the sequence gate, and
    legacy path-RANGED positional deletes resolved through an interval
    tree over their decoded file_path bounds plus two slack structures
    for truncated bounds (a data path that is a PREFIX of a lower bound,
    or an EXTENSION of a truncated upper bound, is covered even though
    it falls outside [lo, hi] in plain string order). Equivalence with
    the linear reference twin (tests/oracles.py `match_deletes`) is
    fuzzed in tests/test_deletes.py, including ranged-heavy
    prefix-adversarial sets."""
    from bisect import bisect_left, bisect_right

    from .manifest import DataFileContent

    dv_by_path: dict = {}
    pos_always = []  # absent/undecodable bounds: cover every path
    pos_bounded = []  # (lo, hi, (idx, d_seq, ddf))
    eq_rows = sorted(
        (
            (d_seq, idx, ddf)
            for idx, (d_seq, ddf) in enumerate(delete_rows)
            if ddf.content == DataFileContent.EQUALITY_DELETES
        ),
    )
    eq_seqs = [t[0] for t in eq_rows]
    for idx, (d_seq, ddf) in enumerate(delete_rows):
        if ddf.content == DataFileContent.POSITION_DELETES:
            if ddf.content_offset is not None:
                dv_by_path.setdefault(ddf.referenced_data_file, []).append(
                    (idx, d_seq, ddf)
                )
            else:
                bounds = _ranged_delete_bounds(ddf)
                if bounds is None:
                    pos_always.append((idx, d_seq, ddf))
                else:
                    pos_bounded.append((*bounds, (idx, d_seq, ddf)))
    # inverted bounds (hi < lo — corrupt/adversarial metrics) admit no
    # path in plain string order, only via the prefix-slack structures
    # below, so they must not enter the tree (and would unbalance it)
    proper = [iv for iv in pos_bounded if iv[0] <= iv[1]]
    tree = _IntervalTree(proper) if proper else None
    # slack structure 1 — data_path is a proper prefix of lo (covered:
    # lo[:len(path)] == path): all such lo sort in [path, path+∞) and
    # start with path, a contiguous run in the sorted lo list
    lo_sorted = sorted(pos_bounded, key=lambda iv: iv[0])
    lo_keys = [iv[0] for iv in lo_sorted]
    # slack structure 2 — hi is a proper prefix of data_path (covered:
    # truncated+incremented upper bound): look up every prefix of the
    # path in a dict keyed by hi
    hi_map: dict = {}
    for lo, hi, payload in pos_bounded:
        hi_map.setdefault(hi, []).append((lo, payload))

    def match(data_seq: int, data_path: str) -> tuple:
        picked = [
            (idx, ddf)
            for idx, d_seq, ddf in dv_by_path.get(data_path, ())
            if d_seq >= data_seq
        ]
        for idx, d_seq, ddf in pos_always:
            if d_seq >= data_seq:
                picked.append((idx, ddf))
        seen = set()
        if tree is not None:
            hits: list = []
            tree.stab(data_path, hits)  # lo <= path <= hi: covered as-is
            for idx, d_seq, ddf in hits:
                if d_seq >= data_seq and idx not in seen:
                    seen.add(idx)
                    picked.append((idx, ddf))
        if pos_bounded:  # inverted ones too, even when no tree was built
            # prefix-of-lo slack: path < lo but lo startswith path
            k = bisect_left(lo_keys, data_path)
            while k < len(lo_keys) and lo_keys[k].startswith(data_path):
                lo, hi, (idx, d_seq, ddf) = lo_sorted[k]
                k += 1
                # the hi side must still pass (mirrors the full check)
                if (data_path <= hi or data_path.startswith(hi)) and (
                    d_seq >= data_seq and idx not in seen
                ):
                    seen.add(idx)
                    picked.append((idx, ddf))
            # hi-is-a-prefix-of-path slack: the linear twin's
            # `data_path.startswith(hi_s)` branch covers REGARDLESS of
            # the lower bound (hi was truncated+incremented), so no lo
            # check here; cut == len(path) included (startswith admits
            # hi == path even when lo > path)
            for cut in range(len(data_path) + 1):
                for _lo, (idx, d_seq, ddf) in hi_map.get(data_path[:cut], ()):
                    if d_seq >= data_seq and idx not in seen:
                        seen.add(idx)
                        picked.append((idx, ddf))
        k = bisect_right(eq_seqs, data_seq)
        if k < len(eq_rows):
            picked.extend((idx, ddf) for _, idx, ddf in eq_rows[k:])
        if not picked:
            return ()
        picked.sort(key=lambda t: t[0])
        return tuple(d for _, d in picked)

    return match


# scheme/authority-insensitive path comparison: EVERY _fp equi-join
# (lineage map <-> data frame <-> delete frame <-> DV decoder) must strip
# URI schemes byte-identically, so the pattern lives in exactly one place
SCHEME_RE = "^[a-z0-9]+:(//)?"

# read.spark.max-listed-files: above this many matched files, scans
# stop passing a path list to spark.read.parquet (py4j + driver file
# index are O(files): 72 s at 100k files) and stream the paths to
# executors as a DataFrame instead (_read_files_arrow_distributed)
_DEFAULT_MAX_LISTED_FILES = 100_000

# DVs with at most this many positions in total (and at most 1024
# vectors) decode on the driver: materializing (path, pos) rows through
# the driver costs ~µs/row in Python→JVM conversion, so past it the
# executor decode wins (SCALE.md: 4.9 s → 2.9 s on a 9.6M-row /
# 1.37M-delete scan)
_DRIVER_DECODE_MAX_POSITIONS = 100_000

# live data-file entries still to decode at which executor planning
# beats the driver (SCALE.md "Planning crossover": between 30k and 50k
# at local[4]). Local planning costs ~c·N, executor planning F + c·N/p,
# so more cores than 4 move the crossover down by at most 4/3. The
# collected planner counts the cold manifests that survive manifest
# pruning (`Scan._plan_files_uncached`); metadata tables count every
# non-resident manifest (`Table._inspect_frame`).
_EXECUTOR_PLAN_MIN_ENTRIES = 40_000


def _prop_int(props, key: str, default: int) -> int:
    """Integer table property `key`; a missing or malformed value reads
    as `default`."""
    try:
        return int(props.get(key, default))
    except (TypeError, ValueError):
        return default


def _live_data_files(manifests) -> int:
    """Live data files of a snapshot, counted from its manifest-list
    rows (O(manifests)): added + existing files of the data manifests.
    A count a v1 list left null reads -1 (`read_manifest_list`) and
    counts as 0 here."""
    return sum(
        max(m.added_files_count, 0) + max(m.existing_files_count, 0)
        for m in manifests
        if m.content == ManifestContent.DATA
    )


def _rows_frame(spark, rows, ddl: str):
    """`rows` (tuples in `ddl` column order) as a frame built from one
    Arrow table: Spark plans it as a `LocalTableScan` and reading it
    starts no job. A frame of Python rows is an RDD scan that
    deserializes them in a Python-worker stage of default-parallelism
    tasks first (seconds per collect on a many-core host)."""
    return spark.createDataFrame(_arrow_rows(rows, _arrow_schema_of(ddl)), ddl)


@functools.lru_cache(maxsize=128)
def _arrow_schema_of(ddl: str):
    """The Arrow schema of a Spark DDL string, parsed once per string
    (driver-side: each parse is a JVM round trip)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    return to_arrow_schema(_parse_datatype_string(ddl))


def _arrow_rows(rows, schema):
    """`rows` (tuples in `schema` order) as one Arrow table of `schema`;
    executor functions build their output batches with it too."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.table(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
    )


def _map_rows(spark, rows, ddl, fn, out_ddl, tasks=None):
    """The package's one executor work dispatch: the lazy frame of the
    executor function `fn` run with `mapInArrow` over the work `rows`
    (tuples in `ddl` column order), or over a work frame executors
    built (`ddl` unused). Callers that collect add `.toArrow()`. `fn`
    is shipped with the driver's object-store config applied first
    (`fileio.shipped`), so no site handles that config itself.

    Spark splits the `_rows_frame` scan into min(rows, default
    parallelism) slices by itself, so by default no repartition runs
    ahead of the work: a collect is one job of one stage. `tasks` asks
    for that many tasks (at most one per row): below the slice count
    `coalesce` merges slices without an Exchange, above it `repartition`
    spreads the rows round-robin. A work frame executors built is
    repartitioned to `tasks` when given. SCALE.md "Task counts" has the
    sweep behind every count a site passes."""
    from . import fileio

    if isinstance(rows, list):
        frame = _rows_frame(spark, rows, ddl)
        if tasks is not None:
            tasks = max(1, min(tasks, len(rows)))
            slices = min(max(len(rows), 1), spark.sparkContext.defaultParallelism)
            if tasks < slices:
                frame = frame.coalesce(tasks)
            elif tasks > slices:
                frame = frame.repartition(tasks)
    else:
        frame = rows if tasks is None else rows.repartition(tasks)
    return frame.mapInArrow(fileio.shipped(fn), out_ddl)


def strip_scheme(path: str) -> str:
    import re as _re

    return _re.sub(SCHEME_RE, "", path)


def strip_scheme_col(col):
    from pyspark.sql import functions as F

    return F.regexp_replace(col, SCHEME_RE, "")


def file_path_col():
    """Raw, scheme-stripped data-file path of each row. Spark's
    `_metadata.file_path` is URI-encoded (`with%20space`); manifests, DV
    targets, v2 positional rows, the equality gates and the lineage map
    hold raw paths. `+` is escaped first: `url_decode` reads it as a space."""
    from pyspark.sql import functions as F

    return F.url_decode(
        F.regexp_replace(
            strip_scheme_col(F.col("_metadata.file_path")), r"\+", "%2B"
        )
    )


# Spark's default `spark.sql.sources.parallelPartitionDiscovery.threshold`:
# a read naming more paths stats them in a job of one task per path
_LISTING_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_SPARK_LISTING_THRESHOLD = 32
_listing_lock = threading.Lock()


def read_listed_parquet(spark, reader, paths: list):
    """`reader.parquet(*paths)` over files a manifest already lists.
    Spark stats the paths while it builds the frame; past
    `parallelPartitionDiscovery.threshold` (32) it runs a job of one
    task per path to do so (SCALE.md listing sweep: 280-382 ms at 35
    local paths, 37-54 ms serial). When every path is local, the
    threshold is raised to the path count for this one build, so the
    driver stats them serially and no job runs. Object-store paths keep
    Spark's parallel listing: there a serial stat costs a round trip
    per path, and that was not measured. The lock keeps concurrent
    builds from restoring each other's value; another read in the same
    session while it is raised may list serially."""
    from . import fileio

    if len(paths) <= _SPARK_LISTING_THRESHOLD or not all(
        fileio.is_local(p) for p in paths
    ):
        return reader.parquet(*paths)
    with _listing_lock:
        prev = spark.conf.get(_LISTING_CONF, None)
        if prev is not None and int(prev) >= len(paths):
            return reader.parquet(*paths)
        spark.conf.set(_LISTING_CONF, str(len(paths)))
        try:
            return reader.parquet(*paths)
        finally:
            if prev is None:
                spark.conf.unset(_LISTING_CONF)
            else:
                spark.conf.set(_LISTING_CONF, prev)


def read_parquet_by_schema(spark, schema: Schema, paths: list):
    """The JVM frame over parquet `paths` with columns resolved by the
    field ids of Iceberg `schema`, so renamed columns still resolve:
    `read_listed_parquet` under field-id column resolution. That conf is
    set once per session (sessions built by session.py already have
    it; this covers user-owned sessions without mutating conf on every
    read)."""
    from .types import schema_to_spark_struct

    if not getattr(spark, "_iceberg_field_id_reads", False):
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        spark._iceberg_field_id_reads = True
    return read_listed_parquet(
        spark, spark.read.schema(schema_to_spark_struct(schema)), paths
    )


def _sql_str(s: str) -> str:
    """`s` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _fp_gate(covered: set, planned: set) -> Optional[str]:
    """SQL condition restricting a frame's rows to those whose `_fp` is
    in `covered` (raw, scheme-stripped paths), or None when `covered`
    holds every `planned` path. Written over the smaller of the covered
    and the skipped sets, as one string of escaped literals, so it costs
    one `F.expr` whatever the file count (Spark turns a long IN list
    into a hash-set lookup)."""
    skipped = planned - covered
    if not skipped:
        return None
    if len(covered) <= len(skipped):
        return f"_fp IN ({', '.join(map(_sql_str, sorted(covered)))})"
    return f"NOT (_fp IN ({', '.join(map(_sql_str, sorted(skipped)))}))"


def _cascade_evaluators(schema: Schema, spec_of, row_filter, case_sensitive: bool):
    """Per-spec manifest + partition evaluators and the file metrics
    evaluator for `row_filter` (levels 1-4 of the cascade, ref
    scanner.go:238-243, :313-339). Returns (evals_for, metrics_eval,
    stats_ids) where evals_for(spec_id) -> (man_eval, part_eval), built
    lazily through `spec_of(spec_id)` and cached per spec id, and
    stats_ids are the field ids whose stats metrics_eval reads. Plain
    values in, so executors build the evaluators the driver builds."""
    proj_by_spec: dict[int, Expression] = {}
    man_eval_by_spec: dict[int, Any] = {}
    part_eval_by_spec: dict[int, Any] = {}
    metrics_eval = inclusive_metrics_evaluator(schema, row_filter, case_sensitive)
    stats_ids = metrics_field_ids(schema, row_filter, case_sensitive)

    def evals_for(spec_id: int):
        if spec_id not in proj_by_spec:
            spec = spec_of(spec_id)
            proj = inclusive_projection(schema, spec, case_sensitive)(row_filter)
            proj_by_spec[spec_id] = proj
            man_eval_by_spec[spec_id] = manifest_evaluator(
                spec, schema, proj, case_sensitive
            )
            part_schema = Schema(0, spec.partition_type(schema).fields)
            part_eval_by_spec[spec_id] = expression_evaluator(
                part_schema, proj, case_sensitive
            )
        return man_eval_by_spec[spec_id], part_eval_by_spec[spec_id]

    return evals_for, metrics_eval, stats_ids


def _surviving_entries(path, spec_id, seq, first_row_id, cascade, counts=None):
    """Levels 3+4 of the cascade over one data manifest, on the driver or
    in an executor: partition-tuple and metrics pruning on its cached
    column block, then entries built for the survivors only
    (`scan_manifest`). The evaluators only READ partition tuples and
    stats, so the inherited sequence numbers and row ids applied to the
    survivors afterwards do not matter to them. `counts`, when given,
    gains the live, partition-pruned and metrics-pruned entry counts."""
    evals_for, metrics_eval, stats_ids = cascade
    _, part_eval = evals_for(spec_id)

    def keep(block):
        in_part = block.partition_mask(part_eval)
        might = metrics_eval(block)
        if counts is not None:
            live = block.live
            counts[0] += int(live.sum())
            counts[1] += int((live & ~in_part).sum())
            counts[2] += int((live & in_part & ~might).sum())
        return in_part & might

    return scan_manifest(
        path,
        keep,
        inherit_sequence_number=seq,
        inherit_first_row_id=first_row_id,
        stats_ids=stats_ids,
    )


def _plan_deletes(delete_manifests, min_data_seq: int, concurrency: int) -> list:
    """The one delete planner — ref scanner.go:268-281: the delete
    manifests that can apply to data at sequence number `min_data_seq`
    or later, decoded on the driver (through the manifest cache), as
    (sequence number, delete DataFile) rows for `build_delete_matcher`.
    A delete older than every data entry can never apply."""
    live = [m for m in delete_manifests if m.sequence_number >= min_data_seq]
    rows = [
        (e.sequence_number or 0, e.data_file)
        for entries in map_manifests(
            lambda m: read_manifest(
                m.manifest_path, inherit_sequence_number=m.sequence_number
            ),
            live,
            concurrency,
        )
        for e in entries
    ]
    # stable: equal sequence numbers keep manifest-list order
    rows.sort(key=lambda r: r[0])
    return rows


def _scan_tasks(data_rows, delete_rows) -> list[FileScanTask]:
    """FileScanTasks of the (sequence number, DataFile) `data_rows`, each
    with its sequence-gated deletes from `delete_rows` — ref
    scanner.go:285-309."""
    match = build_delete_matcher(delete_rows)
    return [
        FileScanTask(
            file=f,
            delete_files=match(seq or 0, f.file_path),
            data_sequence_number=seq,
        )
        for seq, f in data_rows
    ]


class _LRU:
    """A bounded least-recently-used map behind a lock: a hit moves its
    entry to the back, an insert past `maxsize` drops the front. Values
    are never None. The lock matters: the distributed planner and bench
    harness plan from worker threads (the same race that bit _OCF_CACHE,
    see test_manifest_io)."""

    def __init__(self, maxsize: int):
        self.maxsize = maxsize
        self._items: dict = {}
        self._lock = threading.Lock()

    def get(self, key):
        with self._lock:
            hit = self._items.pop(key, None)
            if hit is not None:
                self._items[key] = hit
            return hit

    def put(self, key, value) -> None:
        with self._lock:
            self._items.pop(key, None)
            self._items[key] = value
            while len(self._items) > self.maxsize:
                self._items.pop(next(iter(self._items)))

    def clear(self) -> None:
        with self._lock:
            self._items.clear()

    def __len__(self) -> int:
        return len(self._items)


# Planning memo: (metadata_location, snapshot, filter fingerprint, case,
# projection) → planned FileScanTask tuple. Keyed on the metadata
# LOCATION so any commit invalidates by construction (plan inputs for a
# given metadata file are immutable).
_PLAN_CACHE_MAX = 32
_PLAN_CACHE = _LRU(_PLAN_CACHE_MAX)
# Merge-on-read frame memo (`Scan.to_df`'s `_read_with_deletes` call):
# the frame one session built over one snapshot's tasks, reused by every
# later read of the same tasks. Only reads of at most
# _FRAME_MEMO_MAX_FILES data and delete files and
# _FRAME_MEMO_MAX_DELETE_ROWS delete rows are held: an entry pins its
# driver file index (~1.6 KB a file) and driver-decoded DV rows (~175 B
# a position) in the JVM heap. IMPLEMENTATION.md "One frame per
# snapshot" has the key and the measured retained memory.
_FRAME_MEMO = _LRU(_PLAN_CACHE_MAX)
_FRAME_MEMO_MAX_FILES = 1_000
_FRAME_MEMO_MAX_DELETE_ROWS = 10_000


@dataclass(frozen=True)
class Scan:
    """Immutable scan config — ref table/table.go:285-379 (options)."""

    table: "Table"
    row_filter: Expression = field(default_factory=AlwaysTrue)
    selected_fields: tuple[str, ...] = ("*",)
    snapshot_id: Optional[int] = None
    as_of_timestamp_ms: Optional[int] = None
    use_ref: Optional[str] = None
    limit: Optional[int] = None
    case_sensitive: bool = True
    concurrency: int = 8
    include_row_lineage: bool = False

    # -------------------------------------------------------- with_* opts

    def with_filter(self, expr: Expression) -> "Scan":
        return replace(self, row_filter=expr)

    def with_row_lineage(self) -> "Scan":
        """Expose the v3 row-lineage virtual column `_row_id` (spec v3:
        file's first_row_id + physical row position). v3 tables only."""
        return replace(self, include_row_lineage=True)

    def select(self, *fields: str) -> "Scan":
        return replace(self, selected_fields=tuple(fields))

    def use_snapshot(self, snapshot_id: int) -> "Scan":
        return replace(self, snapshot_id=snapshot_id)

    def as_of(self, timestamp_ms: int) -> "Scan":
        return replace(self, as_of_timestamp_ms=timestamp_ms)

    def use_branch_or_tag(self, name: str) -> "Scan":
        return replace(self, use_ref=name)

    def with_limit(self, n: int) -> "Scan":
        return replace(self, limit=n)

    # ---------------------------------------------------------- resolution

    def snapshot(self) -> Optional[Snapshot]:
        """ref table/scanner.go:177-210, 411-427."""
        md = self.table.metadata
        if self.snapshot_id is not None:
            snap = md.snapshot_by_id(self.snapshot_id)
            if snap is None:
                raise ValueError(f"snapshot {self.snapshot_id} not found")
            return snap
        if self.use_ref is not None:
            snap = md.snapshot_by_ref(self.use_ref)
            if snap is None:
                raise ValueError(f"ref {self.use_ref!r} not found")
            return snap
        if self.as_of_timestamp_ms is not None:
            snap = md.snapshot_as_of(self.as_of_timestamp_ms)
            if snap is None:
                raise ValueError(f"no snapshot as of {self.as_of_timestamp_ms}")
            return snap
        return md.current_snapshot()

    def _is_time_travel(self) -> bool:
        return (
            self.snapshot_id is not None
            or self.as_of_timestamp_ms is not None
            or self.use_ref is not None
        )

    def _scan_schema(self) -> Schema:
        """Current schema for head scans; pinned to the snapshot's
        schema only for time travel — ref scanner.go:212-236."""
        md = self.table.metadata
        snap = self.snapshot()
        if (
            self._is_time_travel()
            and snap is not None
            and snap.schema_id is not None
        ):
            return md.schema_by_id(snap.schema_id)
        return md.current_schema()

    def projection(self) -> Schema:
        schema = self._scan_schema()
        if self.selected_fields == ("*",):
            return schema
        return schema.select(*self.selected_fields, case_sensitive=self.case_sensitive)

    def _read_schema(self) -> Schema:
        """Columns the PHYSICAL read must materialize: the projection
        plus every field the residual row filter references (the outer
        ``.where`` runs before the projection narrows the frame).
        Catalyst prunes the JVM routes on its own, but a projection
        cannot be pushed through ``mapInArrow`` — the wide/streaming
        Arrow routes read exactly this schema, so a 3-column scan of a
        100-column table never materializes the other 97 (the reference
        prunes reader columns by field id the same way,
        table/arrow_scanner.go:227-250)."""
        schema = self._scan_schema()
        if self.selected_fields == ("*",):
            return schema
        needed = {f.name for f in self.projection().fields}
        if not isinstance(self.row_filter, AlwaysTrue):
            from .expressions import bind_expr, extract_field_names, rewrite_not

            needed |= extract_field_names(
                bind_expr(
                    rewrite_not(self.row_filter), schema, self.case_sensitive
                )
            )
        # nested references keep their whole top-level column
        top = {n.split(".")[0] for n in needed}
        return Schema(
            schema.schema_id, tuple(f for f in schema.fields if f.name in top)
        )

    # ------------------------------------------------------------ planning

    def _pruning_evaluators(self, schema: Schema):
        """This scan's `_cascade_evaluators` over `schema`."""
        return _cascade_evaluators(
            schema,
            self.table.metadata.spec_by_id,
            self.row_filter,
            self.case_sensitive,
        )

    def _pruned_manifests(self, snap, evals_for):
        """Levels 1+2 of the cascade: the data manifests of `snap` whose
        partition summaries may match the filter, and its delete
        manifests."""
        manifests = snap.manifests()
        survivors = [
            m
            for m in manifests
            if m.content == ManifestContent.DATA
            and evals_for(m.partition_spec_id)[0](m)
        ]
        deletes = [m for m in manifests if m.content == ManifestContent.DELETES]
        return survivors, deletes

    def plan_files(self, report: Optional[dict] = None) -> list[FileScanTask]:
        """Four-level pruning on the driver — ref table/scanner.go:410-460.
        Pass a `report` dict (or use `plan_report()`) to collect
        per-level pruning counters while planning; without one the plan
        goes through the memo of `plan_files_auto`."""
        if report is None:
            return self.plan_files_auto(None)
        snap = self.snapshot()
        if snap is None:
            report.clear()
            return []
        return self._plan_files_uncached(snap, report)

    def plan_files_auto(self, spark) -> list[FileScanTask]:
        """The collected plan, memoized: `_plan_files_uncached` with the
        executor leg open when `spark` is given.

        Results memoize per (metadata location, snapshot, filter
        fingerprint) in a bounded LRU: a repeated-scan workload pays the
        manifest reads and evaluator passes once per table version
        instead of once per scan. Keying on the METADATA location (not
        just the snapshot id) makes staleness impossible — any commit
        writes a new metadata file, so post-commit scans miss and
        re-plan; the cached snapshot's plan inputs (manifest list,
        specs, schema) are immutable. Both routes return the same tasks,
        so they share the memo. Mirrors the reference's manifest cache
        intent (internal/cache, eviction race fixed in its c999242) one
        level up: that cache saves Avro decode, this one the evaluator
        pass."""
        snap = self.snapshot()
        if snap is None:
            return []
        key = self._plan_cache_key(snap)
        if key is None:
            return self._plan_files_uncached(snap, None, spark)
        hit = _PLAN_CACHE.get(key)
        if hit is not None:
            return list(hit)
        tasks = self._plan_files_uncached(snap, None, spark)
        _PLAN_CACHE.put(key, tuple(tasks))
        return tasks

    def _plan_cache_key(self, snap):
        loc = getattr(self.table, "metadata_location", None)
        if loc is None:
            return None
        return (
            loc,
            snap.snapshot_id,
            repr(self.row_filter),
            self.case_sensitive,
            self.selected_fields,
        )

    def _plan_files_uncached(self, snap, report, spark=None) -> list[FileScanTask]:
        """The one collected planner.

        1. Manifest pruning (levels 1+2) runs once, on the driver.
        2. The surviving data manifests split by residency: a manifest
           is warm when its cached block holds the stats the filter
           reads (`is_resident(path, stats_ids)`).
        3. With `spark`, when the live entries of the cold survivors
           reach _EXECUTOR_PLAN_MIN_ENTRIES, those manifests alone go to
           one executor job (`plan_files_distributed`). Every other
           survivor is pruned on the driver (levels 3+4,
           `_surviving_entries`), resident manifests first
           (`map_manifests`; remote misses fetch concurrently, ref
           scanner.go:343-406 errgroup workers).

        Deletes are planned once on the driver (`_plan_deletes`, gated by
        the smallest surviving data sequence number) and matched per
        data file (`_scan_tasks`). Tasks keep manifest-list order
        whichever leg planned them. `report` gains the pruning counters
        (the entry counters cover the driver leg) and the route's
        inputs, `manifests_cold` and `entries_cold`."""
        cascade = self._pruning_evaluators(self._scan_schema())
        evals_for, _, stats_ids = cascade
        survivors, delete_manifests = self._pruned_manifests(snap, evals_for)
        resident = [is_resident(m.manifest_path, stats_ids) for m in survivors]
        cold = [m for m, r in zip(survivors, resident) if not r]
        entries_cold = _live_data_files(cold)
        remote = (
            spark is not None
            and bool(cold)
            and entries_cold >= _EXECUTOR_PLAN_MIN_ENTRIES
        )
        logger.debug(
            "scan plan route %s: %d cold entries to decode (executors from %d)",
            "executors" if remote else "driver",
            entries_cold,
            _EXECUTOR_PLAN_MIN_ENTRIES,
        )

        def entries_of(m: ManifestFile):
            counts = [0, 0, 0]  # live, partition-pruned, metrics-pruned
            out = _surviving_entries(
                m.manifest_path,
                m.partition_spec_id,
                m.sequence_number,
                m.first_row_id,
                cascade,
                counts,
            )
            return [(e.sequence_number, e.data_file) for e in out], counts

        on_driver = [r or not remote for r in resident]
        planned = iter(
            map_manifests(
                entries_of,
                [m for m, d in zip(survivors, on_driver) if d],
                self.concurrency,
            )
        )
        shipped = iter(plan_files_distributed(self, spark, cold) if remote else ())
        per_manifest = [
            next(planned) if d else (next(shipped), (0, 0, 0)) for d in on_driver
        ]
        data_rows = [row for rows, _ in per_manifest for row in rows]
        entry_counts = [sum(c[i] for _, c in per_manifest) for i in range(3)]

        delete_rows = []
        if delete_manifests and data_rows:
            min_data_seq = min(seq or 0 for seq, _ in data_rows)
            delete_rows = _plan_deletes(delete_manifests, min_data_seq, self.concurrency)
        tasks = _scan_tasks(data_rows, delete_rows)
        if report is not None:
            n_data = sum(m.content == ManifestContent.DATA for m in snap.manifests())
            report.update(
                manifests_data=n_data,
                manifests_delete=len(delete_manifests),
                manifests_pruned=n_data - len(survivors),
                manifests_scanned=len(survivors),
                manifests_cold=len(cold),
                entries_cold=entries_cold,
                entries_total=entry_counts[0],
                entries_pruned_partition=entry_counts[1],
                entries_pruned_metrics=entry_counts[2],
                files_planned=len(tasks),
                delete_files_matched=sum(len(t.delete_files) for t in tasks),
                bytes_planned=sum(t.file.file_size_in_bytes for t in tasks),
                records_planned=sum(t.file.record_count for t in tasks),
            )
        return tasks

    def filter_tasks(self, tasks: list[FileScanTask]) -> list[FileScanTask]:
        """Driver-side re-application of this scan's row-filter pruning
        to ALREADY-PLANNED tasks from an unfiltered scan of the SAME
        snapshot — one metadata planning pass (manifest reads, Avro
        decode) then serves both a full and a filtered DataFrame.
        MERGE's by-source clauses use it: the matched pipeline wants the
        key-pruned scan, the by-source pass the full one; planning the
        table twice doubled the metadata cost for zero new information.

        Tasks don't retain their manifest's partition_spec_id, so
        partition-tuple pruning (level 3) applies only when the table
        has a single partition spec — evaluating a tuple against the
        wrong spec's evaluator would be unsound. File-metrics pruning
        (level 4) is keyed by field id, spec-independent, and always
        applies. The result is therefore a (possibly slightly coarser,
        never smaller-than-sound) superset of what plan_files would
        return with the same filter: inclusive pruning semantics hold."""
        schema = self._scan_schema()
        evals_for, metrics_eval, _ = self._pruning_evaluators(schema)
        block = ManifestBlock.of_files([t.file for t in tasks])
        keep = metrics_eval(block)
        specs = self.table.metadata.partition_specs
        if len(specs) == 1:
            _, part_eval = evals_for(specs[0].spec_id)
            keep = keep & block.partition_mask(part_eval)
        return [t for t, k in zip(tasks, keep.tolist()) if k]

    def sample_files(self, spark, fraction: float, seed: int = 17):
        """File-level sample of the scan: a DataFrame over a
        deterministic ~`fraction` subset of the planned data FILES —
        the 100 TB profiling shape (inspect 1% of a table by reading 1%
        of its files, not by scanning everything and sampling rows).
        Selection hashes each file path with `seed`, so the same
        (table state, fraction, seed) always samples the same files and
        growing the fraction only ADDS files (nested samples). Pruning
        still applies first: a filtered scan samples the SURVIVING
        files. Rows from sampled files all appear (this is cluster
        sampling, not row sampling — combine with DataFrame.sample for
        row-level thinning). Tables with delete files refuse: a
        sampled file's deletes reference it exactly, but the statistics
        story of MOR sampling is murky enough that the caller should
        decide (compact first, or sample the MOR frame row-wise)."""
        import hashlib

        if not 0 < fraction <= 1:
            raise ValueError(f"fraction must be in (0, 1], got {fraction}")
        tasks = self.plan_files_auto(spark)
        if any(t.delete_files for t in tasks):
            raise ValueError(
                "file sampling over merge-on-read deletes is ambiguous; "
                "compact first or row-sample the full scan"
            )

        def keep(path: str) -> bool:
            h = hashlib.md5(f"{seed}:{path}".encode()).digest()
            return int.from_bytes(h[:8], "big") / float(1 << 64) < fraction

        sampled = [t for t in tasks if keep(t.file.file_path)]
        if not sampled and tasks:
            sampled = [min(tasks, key=lambda t: t.file.file_path)]
        return self.to_df(spark, tasks=sampled)

    def plan_report(self) -> dict:
        """Planning observability: run the four-level cascade once on the
        driver and return its pruning counters — how many manifests the
        partition summaries skipped (level 2), how many entries the
        partition tuples (level 3) and column metrics (level 4) skipped,
        and what survives (files / bytes / records to scan, matched
        delete files). The per-level numbers are what a table owner
        tunes layout against: level-2 zeros mean partition summaries
        don't cover the filter; level-4 zeros with a selective filter
        mean the layout needs clustering (see
        examples/layout_maintenance.py). `manifests_cold` and
        `entries_cold` are what `plan_files_auto` routes on, counted
        before this plan warmed the cache. Metadata-only; no Spark job."""
        report: dict = {}
        self.plan_files(report=report)
        return report

    # ----------------------------------------------------------- execution

    def _stream_plan_route(self, spark):
        """Streaming plan→read for scans of very wide snapshots: the
        pruned-descriptor frame from `_distributed_prune_frame` feeds
        the distributed Arrow reader directly — file descriptors NEVER
        collect to the driver. The 1M-file probe measured the collected
        plan at ~140 s and 2.9 GB driver RSS; this path keeps the driver
        at O(manifests).

        Filtered scans stream too, gated on the MATCHED file count from
        the prune job itself rather than on filter presence (the frame
        persists across the count and the read, so the gate costs one
        cheap count). Positional-delete / DV snapshots stream with the
        delete side planned on the driver — the delete-descriptor set is
        O(small) next to a 100 TB data set, and positional deletes name
        exact data-file paths, so the shared global (_fp, _pos)
        anti-join applies. Equality deletes take the collected plan
        (their matching is sequence-grouped per data file).

        Returns ``(df, tasks)``: a DataFrame when the scan streams
        (raw — the caller applies filter/select/limit); a task list
        when the prune job already ran but collecting is the better
        plan (small matched set, or equality deletes) — reused, never
        re-planned; ``(None, None)`` when ineligible."""
        from pyspark.sql import functions as F

        if not self._stream_plan_eligible():
            return None, None
        frame, delete_rows = _distributed_prune_frame(self, spark)
        if frame is None:
            # nothing survives manifest pruning: an empty, final plan
            return None, []

        def stream(**kw):
            paths = frame.select(
                F.get_json_object("descriptor", "$.file_path").alias("data_file")
            )
            return self._read_files_arrow_distributed(
                spark, None, self._read_schema(), files_df=paths, **kw
            )

        if not delete_rows and isinstance(self.row_filter, AlwaysTrue):
            # full scan of a delete-free snapshot: matched == snapshot
            # file count, already known > max-listed-files by
            # eligibility — stream in a single pass, no count job
            return stream(), None
        # the gate needs the matched count and the read needs the same
        # frame — persist so the prune job runs once, not twice
        frame = _keep_persisted(frame)
        from .manifest import DataFileContent

        has_eq = any(
            d.content == DataFileContent.EQUALITY_DELETES for _, d in delete_rows
        )
        if has_eq or frame.count() <= self._max_listed_files():
            # small matched set (the JVM routes with Catalyst pushdown
            # win there) or eq deletes: collect the already-pruned
            # frame into tasks — O(matched) rows, the plan work reuses
            return None, _scan_tasks(
                [(seq, f) for _, seq, f in _descriptor_rows(frame)], delete_rows
            )
        if not delete_rows:
            return stream(), None
        # wide MOR (positional deletes / DVs only): stream the data
        # paths; the reader emits (_fp, _pos) in-task, and the shared
        # delete-side anti-join drops deleted rows
        df = stream(with_fp=True, with_pos=True)
        df = self._anti_join_pos_deletes(spark, df, [d for _, d in delete_rows])
        return df.drop("_fp", "_pos"), None

    def _max_listed_files(self) -> int:
        return _prop_int(
            self.table.metadata.properties,
            "read.spark.max-listed-files",
            _DEFAULT_MAX_LISTED_FILES,
        )

    def _stream_plan_eligible(self) -> bool:
        if type(self) is not Scan:
            # subclasses (IncrementalAppendScan) plan their own file
            # sets; the snapshot-wide prune frame would over-read
            return False
        if self.include_row_lineage or self.snapshot() is None:
            return False
        # read.spark.max-listed-files <= 0 turns streaming off
        max_listed = self._max_listed_files()
        return 0 < max_listed < _live_data_files(self.snapshot().manifests())

    def to_df(self, spark, tasks=None):
        """Data-plane execution — SURVEY §3.1 step 7. The driver/executor
        boundary is exactly here: everything above was metadata-only.
        Pass pre-planned `tasks` to skip re-planning (count() does).

        A very wide snapshot may stream its plan straight into the Arrow
        reader (`_stream_plan_route`). Every other non-empty plan is one
        `_read_with_deletes` call, with or without delete files — a scan
        with none is a merge-on-read with no deletes — followed by the
        row-lineage columns, the residual filter, the projection and the
        limit. That call reuses the frame an earlier read of the same
        snapshot built in this session, so a repeated query adds only
        those last steps to a relation Spark has already built (reads of
        at most `_FRAME_MEMO_MAX_FILES` files and
        `_FRAME_MEMO_MAX_DELETE_ROWS` delete rows; larger ones are built
        each time).

        Known limit: a filter the caller applies to the returned frame
        on a double or float column (`where("d = -0.0D")`, an IN list)
        can miss rows holding the other signed zero, because Spark's
        parquet dictionary filter compares the bits. The scan's own
        predicate is safe: its compilers read such a column as
        `c + 0.0`; a caller can write `d + 0.0 = 0.0` the same way."""
        from pyspark.sql import functions as F

        df = None
        if tasks is None:
            # a streamed frame is never a lineage read (eligibility)
            df, tasks = self._stream_plan_route(spark)
            if df is None and tasks is None:
                tasks = self.plan_files_auto(spark)
        schema = self._scan_schema()
        if df is None:
            if self.include_row_lineage and self.table.metadata.format_version < 3:
                raise ValueError("_row_id requires a format-version 3 table")
            if not tasks:
                ddl = schema_to_spark_ddl(self.projection())
                if self.include_row_lineage:
                    # an empty lineage scan must still carry the lineage
                    # columns — changelog_scan joins/selects `_row_id` on
                    # both sides, and one side planning zero files is a
                    # legitimate state (e.g. every file deleted)
                    ddl += ", _row_id bigint, _last_updated_sequence_number bigint"
                return _rows_frame(spark, [], ddl)
            # v3 row lineage: _row_id = data file's first_row_id (assigned by
            # the manifest-list writer, inherited per file at plan time) +
            # the row's physical position, joined from a broadcast
            # (file → first_row_id) map
            lineage = (
                lineage_map_frame(spark, tasks) if self.include_row_lineage else None
            )
            # read projection ∪ filter fields, plus every equality-delete key
            # column (the eq anti-join matches on them; _anti_join_eq_keys
            # keeps the dropped-key check)
            read_schema = self._read_schema()
            from .manifest import DataFileContent

            eq_ids = {
                i
                for t in tasks
                for d in t.delete_files
                if d.content == DataFileContent.EQUALITY_DELETES
                for i in (d.equality_ids or [])
            }
            if eq_ids:
                keep = {f.field_id for f in read_schema.fields} | eq_ids
                read_schema = Schema(
                    schema.schema_id,
                    tuple(f for f in schema.fields if f.field_id in keep),
                )
            df = self._read_with_deletes(
                spark, tasks, read_schema, lineage=lineage is not None, memo=True
            )
            if lineage is not None:
                df = attach_lineage(df, lineage)
        if not isinstance(self.row_filter, AlwaysTrue):
            # the Arrow reader pushes the residual per file when it can;
            # this outer filter is the correctness layer
            from .expressions import bind_expr, rewrite_not

            bound = bind_expr(
                rewrite_not(self.row_filter), schema, self.case_sensitive
            )
            df = df.where(to_spark_column(bound))
        if self.selected_fields != ("*",):
            cols = [F.col(f.name) for f in self.projection().fields]
            if self.include_row_lineage:
                # the lineage surface is the same whether or not fields
                # were selected: both reserved columns survive projection
                cols += [F.col("_row_id"), F.col("_last_updated_sequence_number")]
            df = df.select(*cols)
        if self.limit is not None:
            df = df.limit(self.limit)
        return df

    def to_arrow(self, spark):
        """Materialize the scan as a pyarrow Table —
        ref table/scanner.go:514-531 (ToArrowTable)."""
        return self.to_df(spark).toArrow()

    def to_pandas(self, spark):
        return self.to_df(spark).toPandas()

    def count(self, spark) -> int:
        """Row count; filter-free scans of delete-free snapshots are
        answered from manifest record counts alone — a pure metadata
        operation, zero executor work at any table size. Any filter,
        delete file, or limit falls back to the executed plan."""
        if isinstance(self.row_filter, AlwaysTrue) and self.limit is None:
            if self._stream_plan_eligible():
                # million-file snapshots: sum record counts inside the
                # prune job itself — descriptors never collect (the 1M
                # probe measured the collected plan at ~140 s / 2.9 GB)
                from pyspark.sql import functions as F

                frame, delete_rows = _distributed_prune_frame(self, spark)
                if frame is None:
                    return 0
                if delete_rows:
                    # deleted rows are invisible to record counts — the
                    # streamed MOR read (anti-join) must execute
                    return self.to_df(spark).count()
                row = frame.agg(
                    F.sum(
                        F.get_json_object("descriptor", "$.record_count").cast(
                            "long"
                        )
                    )
                ).first()
                return int(row[0] or 0)
            tasks = self.plan_files_auto(spark)
            if not any(t.delete_files for t in tasks):
                return sum(t.file.record_count for t in tasks)
            # deletes present: reuse the plan instead of planning twice
            return self.to_df(spark, tasks=tasks).count()
        return self.to_df(spark).count()

    def min_max(self, spark, *cols: str) -> dict:
        """Metadata-only MIN/MAX per column, folded from manifest bounds:
        O(manifests) driver work, zero executor reads — the aggregate
        pushdown a 100 TB `SELECT MIN(x), MAX(x)` wants. Returns
        {col: (min, max)} with values decoded from the bound bytes
        (timestamps as micros since epoch, dates as days).

        Sound only under conditions this method CHECKS and otherwise
        refuses (ValueError — callers fall back to the executed plan
        deliberately, never silently):
          - filter-free scan (file bounds cover unfiltered rows);
          - no delete files (a deleted row could hold the extremum);
          - numeric/date/timestamp/boolean columns (string and binary
            bounds are TRUNCATED by the metrics writer);
          - no NaNs recorded for the column (NaN ordering poisons
            min/max) and bounds present on every file that has non-null
            values (all-null files legitimately contribute nothing)."""
        from .conversions import from_bytes
        from .expressions import AlwaysTrue as _AT
        from .types import StringType as _Str, BinaryType as _Bin, FixedType as _Fix, UUIDType as _UUID

        if not isinstance(self.row_filter, _AT) or self.limit is not None:
            raise ValueError(
                "metadata min/max needs a filter-free, limit-free scan"
            )
        schema = self._scan_schema()
        fields = {}
        for c in cols:
            f = schema.find_field(c)
            if f is None:
                raise ValueError(f"unknown column {c!r}")
            if isinstance(f.field_type, (_Str, _Bin, _Fix, _UUID)):
                raise ValueError(
                    f"column {c!r}: string/binary bounds are truncated; "
                    "metadata min/max would be unsound"
                )
            fields[c] = f
        tasks = self.plan_files_auto(spark)
        if any(t.delete_files for t in tasks):
            raise ValueError(
                "table has delete files; a deleted row could hold the "
                "extremum — run the full aggregate instead"
            )
        out = {}
        for c, f in fields.items():
            lo = hi = None
            for t in tasks:
                d = t.file
                nans = (d.nan_value_counts or {}).get(f.field_id, 0)
                if nans:
                    raise ValueError(
                        f"column {c!r}: file {d.file_path} records NaNs; "
                        "metadata min/max would be unsound"
                    )
                lb = (d.lower_bounds or {}).get(f.field_id)
                ub = (d.upper_bounds or {}).get(f.field_id)
                if lb is None or ub is None:
                    vc = (d.value_counts or {}).get(f.field_id)
                    nc = (d.null_value_counts or {}).get(f.field_id)
                    if vc is not None and nc is not None and vc == nc:
                        continue  # all-null file: contributes nothing
                    raise ValueError(
                        f"column {c!r}: file {d.file_path} has no bounds "
                        "(metrics mode none/counts?) — cannot prove the "
                        "extremum from metadata"
                    )
                flo = from_bytes(f.field_type, lb)
                fhi = from_bytes(f.field_type, ub)
                lo = flo if lo is None or flo < lo else lo
                hi = fhi if hi is None or fhi > hi else hi
            out[c] = (lo, hi)
        return out

    def _read_with_deletes(
        self, spark, tasks, schema: Schema, lineage=False, with_pos=False, memo=False
    ):
        """Read every planned file in one pass and apply its deletes, as
        the reference's arrow_scanner does; a scan with no delete files
        is a merge-on-read with no deletes. The reader is chosen here,
        from the file count, the table's name mapping and the read
        schema's defaults:

          * the wide Arrow reader (`_read_files_arrow_distributed`) when
            there are more than `read.spark.max-listed-files` files, when
            the table has `schema.name-mapping.default`, or when a read
            field has an initial default. It streams the paths to
            executors, and `reader.resolve` / `reader.project` resolve
            mapped names and fill defaults in-task, per file;
          * else the JVM frame build (`_read_jvm`): one bare
            `parquet(*files)` with columns by field id.

        `_fp` (raw file path) and `_pos` (file position) are read only
        when used: `_pos` by positional deletes, DVs and lineage, `_fp`
        by those and by the equality gates. A delete-free, non-lineage
        JVM read is a bare scan, and the Arrow reader keeps per-file
        filter pushdown unless `_pos` is read. Positional deletes and
        DVs drop through one `(_fp, _pos)` anti-join: they name exact
        file paths, never a file of a later snapshot, so one global
        anti-join keeps the per-file matching computed at plan time.
        Each set of equality key columns drops through one gated
        anti-join (`_anti_join_eq_keys`).

        If the JVM frame build raises on paths that are not all local
        (a scheme this Spark has no connector for), the scan reroutes to
        the Arrow reader, which drops positional deletes in-task unless
        `_pos` is kept. On local paths the error is real and propagates.

        `lineage` marks a row-lineage read: its schema gains the reserved
        lineage columns (`_lineage_ext_schema`, null where absent) and it
        keeps `_fp`/`_pos`, which `_row_id` derives from. `with_pos`
        keeps `_fp`/`_pos` for callers that key on file positions.

        `memo` (set by `to_df` only) builds the frame once per session
        and snapshot: a later read of the same tasks, schema and flags
        reuses it from `_FRAME_MEMO` (`_frame_key`), so the JVM relation
        over the same immutable files is not rebuilt. DML, compaction
        and eq→DV conversion read once per operation and then commit, so
        an entry of theirs could never hit again. Each call logs one
        DEBUG line: the reader, why it was chosen, and the memo's
        outcome."""
        key = self._frame_key(spark, tasks, schema, lineage, with_pos) if memo else None
        built = None if key is None else _FRAME_MEMO.get(key)
        outcome = "off" if key is None else "miss" if built is None else "hit"
        if built is None:
            built = self._build_read(spark, tasks, schema, lineage, with_pos)
            if key is not None:
                _FRAME_MEMO.put(key, built)
        df, reader, reason = built
        logger.debug(
            "scan read: %s reader (%s), frame memo %s", reader, reason, outcome
        )
        return df

    def _frame_key(self, spark, tasks, schema: Schema, lineage, with_pos):
        """`_FRAME_MEMO` key of a `_read_with_deletes` call, or None for a
        table with no metadata location or a read above the memo's file
        or delete-row bound (`_FRAME_MEMO_MAX_FILES`,
        `_FRAME_MEMO_MAX_DELETE_ROWS`). The metadata location fixes the
        table's schema, name mapping and every `read.*` property, so a
        commit misses; data and delete files are immutable. The
        properties are keyed as well, since `Table.properties` hands out
        the metadata's own dict and an edit in place commits nothing. The
        session is keyed by identity (the held frame keeps it alive, so
        its id is not reused while the entry lives) and by application
        id. The row filter is keyed because the Arrow reader pushes it
        into each file read."""
        loc = getattr(self.table, "metadata_location", None)
        if loc is None:
            return None
        deletes = {
            (d.file_path, d.content_offset): d.record_count
            for t in tasks
            for d in t.delete_files
        }
        if (
            len(tasks) + len(deletes) > _FRAME_MEMO_MAX_FILES
            or sum(deletes.values()) > _FRAME_MEMO_MAX_DELETE_ROWS
        ):
            return None
        snap = self.snapshot()
        return (
            id(spark),
            spark.sparkContext.applicationId,
            loc,
            snap and snap.snapshot_id,
            tuple(
                (
                    t.file.file_path,
                    tuple((d.file_path, d.content_offset) for d in t.delete_files),
                )
                for t in tasks
            ),
            repr(schema),
            lineage,
            with_pos,
            repr(self.row_filter),
            self.case_sensitive,
            tuple(sorted(self.table.metadata.properties.items())),
        )

    def _build_read(self, spark, tasks, schema: Schema, lineage, with_pos):
        """The `_read_with_deletes` frame, built, with the reader that
        serves it ("JVM" or "Arrow") and the reason for that reader."""
        from pyspark.sql import functions as F

        from . import fileio
        from .manifest import DataFileContent
        from .reader import delete_entry

        files = [t.file.file_path for t in tasks]
        task_pos = [
            [d for d in t.delete_files if d.content == DataFileContent.POSITION_DELETES]
            for t in tasks
        ]
        pos_deletes = [d for ds in task_pos for d in ds]
        has_eq = any(
            d.content == DataFileContent.EQUALITY_DELETES
            for t in tasks
            for d in t.delete_files
        )
        if lineage:
            schema = _lineage_ext_schema(schema)
        with_pos = with_pos or lineage
        need_pos = with_pos or bool(pos_deletes)
        if 0 < self._max_listed_files() < len(files):
            reason = "wide"
        elif "schema.name-mapping.default" in self.table.metadata.properties:
            reason = "name-mapped"
        elif any(f.initial_default is not None for f in schema.fields):
            reason = "initial defaults"
        else:
            reason = None
        arrow = reason is not None
        in_task = None
        if not arrow:
            meta = []
            if need_pos or has_eq:
                meta.append(file_path_col().alias("_fp"))
            if need_pos:
                meta.append(F.col("_metadata.row_index").alias("_pos"))
            try:
                df = self._read_jvm(spark, files, schema, meta)
            except Exception:
                if all(fileio.is_local(f) for f in files):
                    raise
                logger.warning(
                    "JVM parquet reader cannot open %s; using the "
                    "distributed Arrow reader",
                    files[0].split("://", 1)[0] + "://",
                    exc_info=True,
                )
                arrow, reason = True, "non-local reroute"
                if pos_deletes and not with_pos:
                    # dropping rows in-task renumbers positions, so only
                    # a read that returns no `_pos` drops them there
                    in_task = [[delete_entry(d) for d in ds] for ds in task_pos]
                    pos_deletes = []
                    need_pos = False
        if arrow:
            df = self._read_files_arrow_distributed(
                spark,
                files,
                schema,
                with_fp=need_pos or has_eq,
                with_pos=need_pos,
                deletes=in_task,
            )
        df = self._anti_join_pos_deletes(spark, df, pos_deletes)
        df = self._anti_join_eq_keys(spark, df, tasks, schema)
        return (
            df if with_pos else df.drop("_fp", "_pos"),
            "Arrow" if arrow else "JVM",
            reason or "listed files",
        )

    def _anti_join_eq_keys(self, spark, df, tasks, schema: Schema):
        """Drop equality-deleted rows from a `_fp`-carrying frame, with
        Iceberg eq-delete semantics (null-safe key match: NULL matches
        NULL). The equality files keyed on the same field ids form one
        key frame and one left-anti join over the whole scan, so a row
        probes the keys once however many files hold them. Key files
        read by field id, so key-column renames stay safe. The key side
        is not deduplicated: a left-anti join gives the same rows
        whatever the duplicate keys on its right.

        A file that applies to only some planned files (per
        `task.delete_files`) is gated by `_fp_gate`'s `_fp IN (...)`.
        When the files of a key frame differ in coverage, each key row
        carries its file (`_efp`) and one `CASE _efp` in the join
        condition picks that file's gate; it is evaluated only on key
        matches."""
        from pyspark.sql import functions as F

        from .manifest import DataFileContent
        from .reader import eq_key_fields

        planned: set = set()
        eq_files: dict[str, DataFile] = {}
        covers: dict[str, set] = {}
        for t in tasks:
            fp = strip_scheme(t.file.file_path)
            planned.add(fp)
            for d in t.delete_files:
                if d.content == DataFileContent.EQUALITY_DELETES:
                    eq_files[d.file_path] = d
                    covers.setdefault(d.file_path, set()).add(fp)
        by_id = {f.field_id: f for f in schema.fields}
        by_key: dict[tuple, list[str]] = {}
        for path in sorted(covers):
            ids = tuple(eq_files[path].equality_ids or ())
            eq_key_fields(by_id, path, ids)
            if ids:
                by_key.setdefault(ids, []).append(path)
        for ids, paths in by_key.items():
            fields = [by_id[i] for i in ids]
            gates = {p: _fp_gate(covers[p], planned) for p in paths}
            # files of one coverage share one gate, and need no _efp
            tagged = len(set(gates.values())) > 1
            keys = self._eq_key_frame(spark, paths, Schema(0, tuple(fields)), tagged)
            cond = None
            for f in fields:
                c = df[f.name].eqNullSafe(keys[f.name])
                cond = c if cond is None else (cond & c)
            if tagged:
                # ungated files fall through to ELSE
                cond = cond & F.expr(
                    "CASE _efp "
                    + " ".join(
                        f"WHEN {_sql_str(strip_scheme(p))} THEN {g}"
                        for p, g in gates.items()
                        if g is not None
                    )
                    + " ELSE true END"
                )
            elif gates[paths[0]] is not None:
                cond = cond & F.expr(gates[paths[0]])
            df = df.join(keys, on=cond, how="left_anti")
        return df

    @staticmethod
    def _eq_key_frame(spark, paths, eq_schema: Schema, tagged: bool):
        """The keys of equality files `paths`, columns by `eq_schema`
        (read by field id), plus `_efp` (the raw, scheme-stripped key
        file path) when `tagged`."""
        from pyspark.sql import functions as F

        from . import fileio

        names = [f.name for f in eq_schema.fields]
        if all(fileio.is_local(p) for p in paths):
            keys = read_parquet_by_schema(spark, eq_schema, paths)
            return keys.select(*names, file_path_col().alias("_efp")) if tagged else keys
        # key files are small (distinct delete keys) — a driver arrow
        # read by field id (reader.resolve) avoids needing a JVM
        # FileSystem for the scheme. STATIC broadcast hint: the frame
        # carries no size estimate Catalyst trusts, so without it
        # Catalyst plans sort-merge and AQE shuffles the whole SCAN
        # before converting the join (same trap the merge plan probe
        # caught, write.py merge broadcast note / SCALE.md r10) — the
        # driver just materialized these keys, so they are small by
        # construction. The local branch needs no hint: parquet
        # file-size stats auto-broadcast under the threshold, and a
        # genuinely big key file SHOULD sort-merge.
        from .reader import read_fields, read_file

        fields = read_fields(eq_schema)
        rows: list = []
        for p in paths:
            cols = read_file(p, fields, {}).columns
            part = zip(*(c.to_pylist() for c in cols))
            rows += [r + (strip_scheme(p),) for r in part] if tagged else part
        ddl = schema_to_spark_ddl(eq_schema) + (", _efp string" if tagged else "")
        return F.broadcast(_rows_frame(spark, rows, ddl))

    def _read_jvm(self, spark, files, schema: Schema, meta):
        """The JVM frame over `files` with the `meta` columns (`_fp`,
        `_pos`) appended: one `parquet(*files)` resolving columns by
        field id, so renames and evolution are safe and Catalyst prunes
        columns and pushes the residual filter into the parquet scan."""
        df = read_parquet_by_schema(spark, schema, files)
        return df.select("*", *meta) if meta else df

    def _anti_join_pos_deletes(self, spark, df, delete_files):
        """Drop positionally-deleted rows from a (_fp, _pos)-carrying
        frame: the delete side (parquet positional files + v3 DVs)
        becomes one (_fp, _pos) frame, left-anti joined. Shared by the
        task-planned one-pass MOR read and the streaming plan→read, which
        plans the delete side driver-side — it is O(small) next to the
        data it deletes from. No dedup of the delete side (a shuffle;
        duplicate right keys leave a left-anti join's rows unchanged).

        The delete side's cardinality is KNOWN at plan time (manifest
        record_count = positions per delete file / DV cardinality), but
        Spark can't estimate it — the frame comes out of a mapInArrow
        decode — so on its own it would plan a sort-merge join and
        shuffle EVERY data row (all columns) just to drop the deleted
        ones. Below the threshold: (a) decode DVs on the DRIVER (pure
        Python puffin reads — skips a whole Spark job + Python-worker
        round-trip that costs more than the decode at small delete
        debt) and (b) broadcast the anti-join side, keeping the scan
        shuffle-free end-to-end. Above it (delete-heavy table at
        100 TB): executor-side decode and a shuffle anti-join — the
        only shapes that survive billions of positions. Tunable per
        table via read.mor.broadcast-deletes-max-positions (rows; 0
        disables both small-side paths)."""
        from pyspark.sql import functions as F

        # dedup: one v2 delete file can match many tasks
        uniq = {(d.file_path, d.content_offset): d for d in delete_files}
        if not uniq:
            return df
        strip = strip_scheme_col
        pos_files = sorted(p for (p, off) in uniq if off is None)
        # v3 deletion vectors: (target data file, puffin path, offset, size)
        dv_descriptors = sorted(
            (
                d.referenced_data_file,
                d.file_path,
                d.content_offset,
                d.content_size_in_bytes,
            )
            for d in uniq.values()
            if d.content_offset is not None
        )
        max_small = _prop_int(
            self.table.metadata.properties,
            "read.mor.broadcast-deletes-max-positions",
            2_000_000,
        )
        n_del_positions = sum(d.record_count for d in uniq.values())
        small_deletes = 0 < n_del_positions <= max_small
        dels = None
        if pos_files:
            # declared schema: inferring it would run a Spark job
            dels = read_listed_parquet(
                spark, spark.read.schema("file_path string, pos long"), pos_files
            ).select(
                strip(F.col("file_path")).alias("_fp"),
                F.col("pos").alias("_pos"),
            )
        if dv_descriptors:
            # Driver decode has its OWN (much smaller) bound than the
            # broadcast gate, _DRIVER_DECODE_MAX_POSITIONS: past it the
            # executor decode (parallel, Arrow-batched) wins even though
            # the frame still broadcasts afterwards.
            dv_df = self._deletion_vector_positions(
                spark,
                dv_descriptors,
                # driver decode bounded twice: total positions (rows
                # materialized) and descriptor count (sequential blob
                # reads the driver performs)
                # max_small == 0 disables BOTH small-side paths (the
                # documented escape hatch), so it gates driver decode too
                on_driver=max_small > 0
                and 0 < n_del_positions <= _DRIVER_DECODE_MAX_POSITIONS
                and len(dv_descriptors) <= 1024,
            )
            dels = dv_df if dels is None else dels.unionByName(dv_df)
        if dels is not None:
            # above the bound, shuffle whatever size Spark estimates: the
            # executor DV decode's descriptor frame is a small local
            # table, and its estimate would auto-broadcast every decoded
            # position
            dels = F.broadcast(dels) if small_deletes else dels.hint("merge")
            df = df.join(dels, ["_fp", "_pos"], "left_anti")
        return df

    @staticmethod
    def _deletion_vector_positions(spark, descriptors, on_driver=False):
        """Decode v3 deletion vectors into a (_fp, _pos) frame for the
        MOR anti-join. Decode runs executor-side (one task per vector
        via mapInArrow), so a delete-heavy table with thousands of DVs
        never funnels bitmap bytes through the driver; each task seeks
        straight to its blob (content_offset/size from the manifest).

        `on_driver=True` (caller-gated: small total cardinality AND few
        descriptors) decodes the blobs in-process instead — at small
        delete debt the Spark job + Python-worker round-trip costs more
        than the decode itself, and the resulting frame was going to be
        broadcast anyway."""
        import re as _re

        import pyarrow as pa

        if on_driver:
            import numpy as np

            from . import puffin as _puffin

            fps, poss = [], []
            for target, dv_path, offset, size in descriptors:
                positions = _puffin.read_deletion_vector(
                    dv_path, int(offset), int(size)
                )
                fps.append(
                    pa.array(
                        [_re.sub(SCHEME_RE, "", target)] * len(positions)
                    )
                )
                poss.append(pa.array(positions.astype("int64")))
            tbl = pa.table(
                {
                    "_fp": pa.concat_arrays(fps) if fps else pa.array([], pa.string()),
                    "_pos": pa.concat_arrays(poss) if poss else pa.array([], pa.int64()),
                }
            )
            return spark.createDataFrame(tbl, "_fp string, _pos long")

        def decode(batches):
            import re

            from . import puffin

            for batch in batches:
                for row in batch.to_pylist():
                    positions = puffin.read_deletion_vector(
                        row["dv_path"], row["offset"], row["size"]
                    )
                    # strip the scheme exactly as the data side's
                    # strip_scheme_col does
                    target = re.sub(SCHEME_RE, "", row["target"])
                    yield pa.record_batch(
                        {
                            "_fp": pa.array([target] * len(positions)),
                            "_pos": pa.array(positions.astype("int64")),
                        }
                    )

        return _map_rows(
            spark,
            [(t, p, int(o), int(s)) for t, p, o, s in descriptors],
            "target string, dv_path string, offset long, size long",
            decode,
            "_fp string, _pos long",
        )

    def _read_files_arrow_distributed(
        self,
        spark,
        files: Optional[list],
        schema: Schema,
        with_fp: bool = False,
        files_df=None,
        with_pos: bool = False,
        deletes: Optional[list] = None,
    ):
        """DataFrame-fed scan execution: very wide file sets (VERDICT r12
        task 1, the last unproven 100× leg), every read of a name-mapped
        table or of a schema with initial defaults, and the per-file
        Arrow fallback for URIs the JVM has no FileSystem for.

        `spark.read.parquet(*paths)` ships an O(files) argument list
        through py4j and builds a driver-side InMemoryFileIndex over it:
        measured 72 s at 100k matched files on local[32] BEFORE the
        first row moves (SCALE.md r13), i.e. >10 min at 1M files. The
        reference streams per-file tasks to workers instead
        (table/arrow_scanner.go:557-607). This path does the Spark
        equivalent: the matched paths become a DataFrame (one Arrow
        batch, no py4j list) and executors read their partition's files
        with reader.read_file via mapInArrow — plan-to-first-row is O(1)
        on the driver in file count.

        Semantics match the JVM field-id read, and are the package's
        only column resolver (reader.py):
          * columns resolve BY FIELD ID (rename-safe); files with no
            ids resolve through the table's name mapping when one is
            declared (add_files imports — any mapped pre-rename name
            counts, per-file), else by current name (`reader.resolve`);
          * physically missing columns fill with the field's
            initial-default (v3) or null, in-task where file identity is
            free; a file that has the column keeps its stored values,
            explicit nulls included (`reader.project`);
          * physical types promote by casting to the table type
            (int32→long etc., the same promotions the evolution rules
            allow);
          * the residual row filter is pushed into each pyarrow read
            (row-group stats pruning) whenever every referenced column
            resolves to its current name in that file; the outer
            to_df() `.where` still applies, so pushdown is purely an
            optimization and can never change results.
        `with_fp` appends the scheme-stripped file path; `with_pos`
        appends the FILE-ORDER row position (and disables filter
        pushdown, which would renumber rows) — together they give MOR
        callers the (_fp, _pos) identity the positional anti-join
        keys on. `deletes` (parallel to `files`: per-file lists of
        reader.delete_entry descriptors) drops DV / positional-delete
        rows in-task instead — merge-on-read without the anti-join."""
        import json

        from .reader import mapped_names as _mapped_names
        from .reader import read_fields
        from .types import schema_to_spark_struct

        if files_df is None:
            # one Arrow batch to the JVM — never a py4j argument list
            if deletes is None:
                work, ddl = [(f,) for f in files], "data_file string"
            else:
                work = [(f, json.dumps(d)) for f, d in zip(files, deletes)]
                ddl = "data_file string, deletes string"
        else:
            # pre-built paths frame (the streaming plan→read route): the
            # repartition shuffles PATH STRINGS only, never data
            work, ddl = files_df, None

        fields = read_fields(schema)
        mapped_names = _mapped_names(self.table.metadata.properties)
        # schema_to_spark_struct, not DDL: the listed path's frames carry
        # parquet.field.id field metadata, and downstream schema equality
        # must hold whichever route served the scan. All-nullable for the
        # same reason — Spark file scans are always nullable.
        from pyspark.sql import types as _st

        out_struct = _st.StructType(
            [
                _st.StructField(f.name, f.dataType, True, f.metadata)
                for f in schema_to_spark_struct(schema).fields
            ]
            + ([_st.StructField("_fp", _st.StringType(), True)] if with_fp else [])
            + ([_st.StructField("_pos", _st.LongType(), True)] if with_pos else [])
        )
        bound_filter = None
        if not isinstance(self.row_filter, AlwaysTrue):
            from .expressions import bind_expr, rewrite_not

            bound_filter = bind_expr(
                rewrite_not(self.row_filter), schema, self.case_sensitive
            )

        def read_task(batches):
            import numpy as np
            import pyarrow as pa

            from .expressions import extract_field_names, to_arrow_expression
            from .reader import delete_positions, read_file

            arrow_filter = (
                to_arrow_expression(bound_filter)
                if bound_filter is not None
                else None
            )
            filter_names = (
                extract_field_names(bound_filter)
                if bound_filter is not None
                else set()
            )
            # Small-file coalescing: every yielded batch crosses the
            # Python→JVM Arrow boundary with fixed per-batch cost, so a
            # million-small-file scan emitting one batch PER FILE pays
            # that cost a million times (measured: the 30k-file widescan
            # bench spends most of its wall in per-batch overhead).
            # Buffer per-file tables and emit combined ~64k-row batches;
            # large files bypass the buffer untouched.
            buf: list = []
            buf_rows = 0
            buf_bytes = 0
            FLUSH_ROWS = 1 << 16
            FLUSH_BYTES = 32 << 20

            def flush():
                nonlocal buf, buf_rows, buf_bytes
                if not buf:
                    return
                tbl = pa.concat_tables(buf) if len(buf) > 1 else buf[0]
                buf, buf_rows, buf_bytes = [], 0, 0
                yield from tbl.combine_chunks().to_batches(
                    max_chunksize=FLUSH_ROWS
                )

            for batch in batches:
                paths = batch.column("data_file").to_pylist()
                dels_json = (
                    batch.column("deletes").to_pylist()
                    if "deletes" in batch.schema.names
                    else [None] * len(paths)
                )
                for path, file_dels in zip(paths, dels_json):
                    file_dels = json.loads(file_dels) if file_dels else []
                    out = read_file(
                        path,
                        fields,
                        mapped_names,
                        arrow_filter,
                        filter_names,
                        with_pos=with_pos,
                        drop=(
                            delete_positions(path, file_dels) if file_dels else None
                        ),
                    )
                    n = out.num_rows
                    if with_fp:
                        out = out.append_column(
                            "_fp", pa.repeat(pa.scalar(strip_scheme(path)), n)
                        )
                    if with_pos:
                        out = out.append_column(
                            "_pos", pa.array(np.arange(n, dtype="int64"))
                        )
                    if out.num_rows >= FLUSH_ROWS or out.nbytes >= FLUSH_BYTES:
                        # big file: drain the buffer first (preserves
                        # file order for _pos consumers), then stream it
                        yield from flush()
                        yield from out.to_batches(max_chunksize=FLUSH_ROWS)
                        continue
                    buf.append(out)
                    buf_rows += out.num_rows
                    buf_bytes += out.nbytes
                    if buf_rows >= FLUSH_ROWS or buf_bytes >= FLUSH_BYTES:
                        yield from flush()
            yield from flush()

        # one task per core: a no-op on the driver's rows; the streaming
        # route's paths come in prune slices, one per manifest at worst
        par = spark.sparkContext.defaultParallelism
        return _map_rows(spark, work, ddl, read_task, out_struct, tasks=par)


@dataclass(frozen=True)
class IncrementalAppendScan(Scan):
    """Rows appended between two snapshots (from exclusive → to
    inclusive) — the changelog-consumer surface a training-data
    pipeline polls ("give me everything new since checkpoint X").

    Semantics follow Iceberg's IncrementalAppendScan: only `append`
    snapshots contribute; `replace` (compaction) snapshots are skipped —
    their added files are rewrites of rows already delivered; an
    `overwrite`/`delete` snapshot in the range raises, because its
    effect cannot be expressed as appended rows. Beyond the reference,
    which has no incremental reads (its table.go append-stream is a
    write feature).

    Reuses the scan pruning cascade (levels 1-4), so a filtered
    incremental read prunes manifests/files exactly like a full scan,
    and reads run through the same JVM parquet path. At 100 TB the cost
    is O(manifests added in the range), not O(table).
    """

    from_snapshot_id: Optional[int] = None

    def plan_files(self) -> list[FileScanTask]:
        md = self.table.metadata
        to_snap = self.snapshot()
        if to_snap is None:
            return []
        # ancestry walk: to → ... → from (exclusive)
        chain: list[Snapshot] = []
        cur: Optional[Snapshot] = to_snap
        while cur is not None and cur.snapshot_id != self.from_snapshot_id:
            chain.append(cur)
            cur = (
                md.snapshot_by_id(cur.parent_snapshot_id)
                if cur.parent_snapshot_id is not None
                else None
            )
        if self.from_snapshot_id is not None and cur is None:
            raise ValueError(
                f"snapshot {self.from_snapshot_id} is not an ancestor of "
                f"{to_snap.snapshot_id}"
            )
        chain.reverse()

        schema = self._scan_schema()
        evals_for, metrics_eval, _ = self._pruning_evaluators(schema)

        # the manifests each append in the range added, in walk order
        added: list[ManifestFile] = []
        for snap in chain:
            op = snap.summary.operation
            if op == "replace":
                continue  # compaction: rewritten rows were already delivered
            if op != "append":
                raise ValueError(
                    f"cannot read incremental appends across a {op!r} "
                    f"snapshot ({snap.snapshot_id}); rows changed in place"
                )
            for m in snap.manifests():
                if (
                    m.content == ManifestContent.DATA
                    and m.added_snapshot_id == snap.snapshot_id
                    and evals_for(m.partition_spec_id)[0](m)
                ):
                    added.append(m)

        def tasks_of(m: ManifestFile) -> list[FileScanTask]:
            _, part_eval = evals_for(m.partition_spec_id)
            entries = read_manifest(
                m.manifest_path,
                inherit_sequence_number=m.sequence_number,
                inherit_first_row_id=m.first_row_id,
            )
            block = ManifestBlock.of_entries(entries)
            keep = block.partition_mask(part_eval) & metrics_eval(block)
            return [
                FileScanTask(
                    file=e.data_file, data_sequence_number=e.sequence_number
                )
                for e, k in zip(entries, keep.tolist())
                if k
                and e.status == ManifestEntryStatus.ADDED
                and e.snapshot_id in (None, m.added_snapshot_id)
            ]

        return [
            t
            for ts in map_manifests(tasks_of, added, self.concurrency)
            for t in ts
        ]

    def plan_files_auto(self, spark) -> list[FileScanTask]:
        """Incremental planning is already O(appended manifests) — the
        distributed FULL-SNAPSHOT planner would ignore the range and
        the append-only walk, silently returning the whole table."""
        return self.plan_files()


class StaticTable:
    """Base for Table: metadata accessors shared with staged tables."""

    metadata: TableMetadata

    def schema(self) -> Schema:
        return self.metadata.current_schema()

    def spec(self) -> PartitionSpec:
        return self.metadata.default_spec()

    @property
    def properties(self) -> dict[str, str]:
        return self.metadata.properties

    @property
    def location(self) -> str:
        return self.metadata.location


class Table(StaticTable):
    """ref table/table.go:381-448."""

    def __init__(self, identifier, metadata: TableMetadata, metadata_location: str, catalog):
        self.identifier = identifier
        self.metadata = metadata
        self.metadata_location = metadata_location
        self.catalog = catalog

    def __repr__(self) -> str:
        return f"Table({self.identifier}, location={self.location!r})"

    def refresh(self) -> "Table":
        t = self.catalog.load_table(self.identifier)
        self.metadata, self.metadata_location = t.metadata, t.metadata_location
        return self

    def scan(self, row_filter: Expression | None = None, **kwargs) -> Scan:
        return Scan(table=self, row_filter=row_filter or AlwaysTrue(), **kwargs)

    def incremental_append_scan(
        self,
        from_snapshot_id: Optional[int] = None,
        to_snapshot_id: Optional[int] = None,
        row_filter: Expression | None = None,
        **kwargs,
    ) -> "IncrementalAppendScan":
        """Rows appended after `from_snapshot_id` (exclusive) up to
        `to_snapshot_id` (inclusive; default: current snapshot)."""
        return IncrementalAppendScan(
            table=self,
            row_filter=row_filter or AlwaysTrue(),
            snapshot_id=to_snapshot_id,
            from_snapshot_id=from_snapshot_id,
            **kwargs,
        )

    def current_snapshot(self) -> Optional[Snapshot]:
        return self.metadata.current_snapshot()

    def snapshot_as_of(self, timestamp_ms: int) -> Optional[Snapshot]:
        return self.metadata.snapshot_as_of(timestamp_ms)

    def history(self) -> list:
        return list(self.metadata.snapshot_log)

    def refs(self) -> dict:
        return dict(self.metadata.refs)

    # ------------------------------------------------------------- write

    def transaction(self) -> "Transaction":
        from .transaction import Transaction

        return Transaction(self)

    def append(
        self,
        df,
        snapshot_properties: Optional[dict] = None,
        branch: str = MAIN_BRANCH,
        merge_schema: bool = False,
    ) -> None:
        """Append a Spark DataFrame via the distributed-snapshot protocol
        (SURVEY §3.3: driver=coordinator, executors=workers). `branch`
        targets a non-main branch for write-audit-publish workflows; a
        branch that doesn't exist yet is created implicitly with empty
        ancestry (create it from a snapshot first via set_ref to branch
        off existing data).

        `merge_schema=True` unions the frame's schema into the table
        before writing (the mergeSchema convenience both Iceberg and
        Delta expose): new columns are added as optional, legally-wider
        incoming types (int→long, float→double, decimal precision)
        promote the table column, narrower incoming types cast the DATA
        up instead of touching metadata, missing columns null-fill, and
        truly incompatible types fail loudly before any schema commit."""
        from .write import append_distributed

        if merge_schema:
            df = self._merge_schema_for_write(df)
        else:
            # refuse unknown columns instead of silently dropping them —
            # an append that discards user data is silent data loss
            known = {f.name for f in self.metadata.current_schema().fields}
            extra = [c for c in df.columns if c not in known]
            if extra:
                raise ValueError(
                    f"DataFrame carries columns not in the table schema: "
                    f"{extra}; pass merge_schema=True to evolve the table, "
                    "or drop them explicitly"
                )
        append_distributed(
            self, df, snapshot_properties=snapshot_properties, branch=branch
        )

    def _merge_schema_for_write(self, df):
        """Evolve the table schema to accept `df` (add/promote), then
        align the frame to the evolved schema (column order, null-fill,
        upcasts). Validates EVERY column before committing any schema
        change, so a half-evolved table is impossible."""
        from pyspark.sql import functions as F

        from .types import promote_type, schema_from_spark, spark_type

        incoming = schema_from_spark(df.schema)
        cur = self.metadata.current_schema()
        by_name = {f.name: f for f in cur.fields}
        adds, promotes = [], []
        for f in incoming.fields:
            cf = by_name.get(f.name)
            if cf is None:
                adds.append(f)
            elif spark_type(cf.field_type) == spark_type(f.field_type):
                # structurally identical (field-id differences from the
                # fresh-id conversion don't make a struct a new type)
                continue
            elif cf.field_type != f.field_type:
                try:
                    promote_type(cf.field_type, f.field_type)
                    promotes.append(f)
                except ValueError:
                    # not a widening — legal only if the DATA can cast up
                    try:
                        promote_type(f.field_type, cf.field_type)
                    except ValueError:
                        raise ValueError(
                            f"column {f.name!r}: incoming type {f.field_type} "
                            f"is incompatible with table type {cf.field_type}"
                        ) from None
        if adds or promotes:
            us = self.update_schema()
            for f in adds:
                us.add_column(f.name, f.field_type, doc=f.doc)
            for f in promotes:
                us.update_column(f.name, field_type=f.field_type)
            us.commit()
            self.refresh()
        schema = self.metadata.current_schema()
        have = set(df.columns)
        return df.select(
            *[
                F.col(f.name).cast(spark_type(f.field_type)).alias(f.name)
                if f.name in have
                else F.lit(None).cast(spark_type(f.field_type)).alias(f.name)
                for f in schema.fields
            ]
        )

    def create_or_replace_view(self, spark, name: Optional[str] = None):
        """Register the table's current state as a Spark temp view so
        plain `spark.sql` works over it (the user-facing SQL front end;
        re-register after commits to see new snapshots)."""
        ident = (
            "_".join(self.identifier)
            if isinstance(self.identifier, tuple)
            else str(self.identifier)
        )
        view_name = name or ident.replace(".", "_")
        df = self.scan().to_df(spark)
        df.createOrReplaceTempView(view_name)
        return df

    def update_schema(self):
        """Schema evolution builder — ref table/update_schema.go:89-944."""
        from .evolution import UpdateSchema

        return UpdateSchema(self)

    def update_spec(self):
        """Partition-spec evolution — ref table/update_spec.go:35-411."""
        from .evolution import UpdateSpec

        return UpdateSpec(self)

    def delete_where(self, spark, expr) -> None:
        """Row-level delete: strict-matching files dropped whole, partial
        files get position deletes (merge-on-read; puffin deletion
        vectors on v3 tables)."""
        from .write import delete_where

        delete_where(self, spark, expr)

    def changelog_scan(
        self,
        spark,
        from_snapshot_id: Optional[int],
        to_snapshot_id: Optional[int] = None,
    ):
        """Row-level CDC between two snapshots of a v3 table, built on
        row lineage: `_row_id` is stable for a row's whole life, so the
        changed rows are exactly the anti-joins of the two lineage
        scans — `insert` = live at `to` but not `from`, `delete` = live
        at `from` but not `to`. Updates surface as delete+insert pairs
        (the upsert path assigns the replacement a fresh row id, as the
        spec prescribes). Both sides are full-column scans with all
        pruning intact; the anti-joins key on one bigint — the compact
        CDC shape (no row-value comparisons, no full-row shuffles
        beyond the join itself)."""
        from pyspark.sql import functions as F

        if self.metadata.format_version < 3:
            raise ValueError("changelog_scan requires a format-version 3 table")
        to_scan = (
            self.scan(snapshot_id=to_snapshot_id)
            if to_snapshot_id is not None
            else self.scan()
        )
        to_df = to_scan.with_row_lineage().to_df(spark)
        if from_snapshot_id is None:
            # from table creation: every live row is an insert — one
            # lineage scan, no chain walk, no joins
            return to_df.withColumn("_change_type", F.lit("insert"))
        # append-only fast path: when every snapshot in (from, to] is an
        # append, no row was ever removed — deletes = ∅ and inserts are
        # exactly the rows whose _row_id was assigned after `from`
        # (assignment is monotonic, so `_row_id >= min first_row_id over
        # the range` is a map-side FILTER on the `to` scan: one lineage
        # scan, zero joins, zero shuffles).
        md = self.metadata
        chain: list = []
        cur = to_scan.snapshot()
        while cur is not None and cur.snapshot_id != from_snapshot_id:
            chain.append(cur)
            cur = (
                md.snapshot_by_id(cur.parent_snapshot_id)
                if cur.parent_snapshot_id is not None
                else None
            )
        if cur is not None and chain and all(
            s.summary.operation == "append" and s.first_row_id is not None
            for s in chain
        ):
            threshold = min(s.first_row_id for s in chain)
            return to_df.where(F.col("_row_id") >= threshold).withColumn(
                "_change_type", F.lit("insert")
            )
        from_df = self.scan(snapshot_id=from_snapshot_id).with_row_lineage().to_df(
            spark
        )
        inserts = to_df.join(
            from_df.select("_row_id"), "_row_id", "left_anti"
        ).withColumn("_change_type", F.lit("insert"))
        deletes = from_df.join(
            to_df.select("_row_id"), "_row_id", "left_anti"
        ).withColumn("_change_type", F.lit("delete"))
        return inserts.unionByName(deletes)

    def upgrade_format_version(self, version: int) -> "Table":
        """Upgrade the table's format version (e.g. v2 → v3). Upgrading
        to v3 initializes the row-id space (next-row-id = 0); existing
        manifests are assigned first-row-id lazily at the next commit
        (spec v3 upgrade semantics; ref metadata.go:1789-1856)."""
        from .transaction import AssertTableUUID, UpgradeFormatVersion

        tx = self.transaction()
        tx.apply(
            [UpgradeFormatVersion(version)],
            [AssertTableUUID(self.metadata.table_uuid)],
        )
        tx.commit()
        return self

    def delete_by_keys(self, keys_df, key_columns: list) -> None:
        """Equality deletes: drop every row whose key tuple appears in
        keys_df (CDC/upsert delete shape, merge-on-read)."""
        from .write import delete_by_keys

        delete_by_keys(self, keys_df, key_columns)

    def overwrite_where(self, df, expr) -> None:
        """Copy-on-write replace of rows matching expr with df's rows."""
        from .write import overwrite_where

        overwrite_where(self, df, expr)

    def upsert(self, df, key_columns: list) -> None:
        """Single-snapshot MERGE: replace rows matching df's keys with
        df's rows (equality-delete + data manifests commit together)."""
        from .write import upsert

        upsert(self, df, key_columns)

    def merge(self, spark, source, on: list, **actions) -> bool:
        """Multi-action MERGE INTO (single snapshot, merge-on-read):
        matched_update ("*" or {col: sql_expr}), matched_update_condition,
        matched_delete_condition, not_matched_insert (True or
        {col: sql_expr}) — see write.merge.

        Known limit: a condition comparing a double or float column with
        a signed-zero literal can miss rows holding the other zero
        (0.0 vs -0.0) where Spark pushes it into the parquet read, whose
        dictionary filter compares bits. The package's own compilers
        avoid this by reading the column as `c + 0.0`; a condition can
        do the same."""
        from .write import merge

        return merge(self, spark, source, on, **actions)

    def cherry_pick(self, snapshot_id: int) -> bool:
        """Reapply a staged append snapshot onto the current main head
        (WAP publish after main moved) — metadata-only; see
        write.cherry_pick."""
        from .write import cherry_pick

        return cherry_pick(self, snapshot_id)

    def rollback_to(self, snapshot_id: int) -> None:
        """Move main back to an ANCESTOR snapshot (bad-commit recovery).
        The rolled-back snapshots stay in metadata (time travel still
        reads them) until snapshot expiry reclaims them; a non-ancestor
        target is refused — replaying a divergent snapshot is
        cherry_pick's job."""
        md = self.metadata
        if md.snapshot_by_id(snapshot_id) is None:
            raise ValueError(f"unknown snapshot {snapshot_id}")
        ref = md.refs.get("main")
        cur = ref.snapshot_id if ref else None
        by_id = {s.snapshot_id: s for s in md.snapshots}
        while cur is not None and cur != snapshot_id:
            s = by_id.get(cur)
            cur = s.parent_snapshot_id if s else None
        if cur != snapshot_id:
            raise ValueError(
                f"snapshot {snapshot_id} is not an ancestor of main's head; "
                "rollback only rewinds history"
            )
        self.transaction().set_ref("main", snapshot_id).commit()
        self.refresh()

    def rewrite_data_files(
        self, spark, target_file_size=None, strategy="binpack", sort_cols=None
    ) -> bool:
        """Data-file rewrite into a 'replace' snapshot: binpack
        (small-file compaction, default), sort (cluster every file on
        `sort_cols` so metrics pruning skips on the sort key), or zorder
        (cluster on the bit-interleaved z-value of 2-4 columns so
        pruning works on all of them at once)."""
        from .write import rewrite_data_files

        return rewrite_data_files(
            self, spark, target_file_size, strategy=strategy, sort_cols=sort_cols
        )

    def rewrite_position_deletes(self, spark, target_file_size=None) -> bool:
        """Consolidate scattered deletion-vector puffin files without
        rewriting data (see maintenance.rewrite_position_deletes)."""
        from .maintenance import rewrite_position_deletes

        return rewrite_position_deletes(self, spark, target_file_size)

    def convert_equality_deletes(self, spark) -> bool:
        """Materialize accumulated equality deletes into deletion vectors
        and drop the equality-delete files — reads get bitmap skips
        instead of per-file anti-joins; no data rewrite (see
        maintenance.convert_equality_deletes)."""
        from .maintenance import convert_equality_deletes

        return convert_equality_deletes(self, spark)

    def convert_position_deletes(self, spark) -> bool:
        """Upgrade legacy v2 positional-delete parquet files into v3
        deletion vectors (see maintenance.convert_position_deletes)."""
        from .maintenance import convert_position_deletes

        return convert_position_deletes(self, spark)

    def storage_partitioned_join(self, spark, other, on, **kwargs):
        """Zero-exchange join with another table sharing a partition
        transform on the join key (see spj.storage_partitioned_join)."""
        from .spj import storage_partitioned_join

        return storage_partitioned_join(spark, self, other, on, **kwargs)

    def storage_partitioned_agg(self, spark, on, aggs, **kwargs):
        """Exact no-exchange groupBy on a partition-transformed key
        (see spj.storage_partitioned_agg)."""
        from .spj import storage_partitioned_agg

        return storage_partitioned_agg(spark, self, on, aggs, **kwargs)

    def storage_partitioned_asof_join(self, spark, other, on, **kwargs):
        """Zero-exchange as-of join with a co-partitioned table
        (see spj.storage_partitioned_asof_join)."""
        from .spj import storage_partitioned_asof_join

        return storage_partitioned_asof_join(spark, self, other, on, **kwargs)

    def storage_partitioned_join_agg(self, spark, other, on, aggs, **kwargs):
        """Join a co-partitioned table and fold FINAL per-group
        aggregates in the same task pass — no post-join exchange
        (see spj.storage_partitioned_join_agg)."""
        from .spj import storage_partitioned_join_agg

        return storage_partitioned_join_agg(spark, self, other, on, aggs, **kwargs)

    def add_files(self, paths: list) -> None:
        """Register existing parquet files (stats from footers)."""
        from .write import add_files

        add_files(self, paths)

    def begin_distributed_snapshot(self, properties: Optional[dict] = None):
        from .write import begin_distributed_snapshot

        return begin_distributed_snapshot(self, properties)

    def commit_distributed_snapshot(self, ds, manifests, summary_props=None) -> None:
        from .write import commit_distributed_snapshot

        commit_distributed_snapshot(self, ds, manifests, summary_props)

    # ---------------------------------------------------- metadata tables

    def all_manifests(self) -> list[ManifestFile]:
        """ref table/table.go:132 (AllManifests)."""
        out, seen = [], set()
        for snap in self.metadata.snapshots:
            for m in snap.manifests():
                if m.manifest_path not in seen:
                    seen.add(m.manifest_path)
                    out.append(m)
        return out

    def inspect_snapshots(self, spark):
        rows = [
            (
                s.snapshot_id,
                s.parent_snapshot_id,
                s.sequence_number,
                s.timestamp_ms,
                s.manifest_list,
                s.summary.operation,
            )
            for s in self.metadata.snapshots
        ]
        return _rows_frame(
            spark,
            rows,
            "snapshot_id bigint, parent_id bigint, sequence_number bigint, "
            "committed_at_ms bigint, manifest_list string, operation string",
        )

    def inspect_manifests(self, spark):
        rows = [
            (
                m.manifest_path,
                m.manifest_length,
                m.partition_spec_id,
                int(m.content),
                m.added_snapshot_id,
                m.added_files_count,
                m.existing_files_count,
                m.deleted_files_count,
                m.added_rows_count,
            )
            for m in self._snapshot_manifests()
        ]
        return _rows_frame(
            spark,
            rows,
            "path string, length bigint, partition_spec_id int, content int, "
            "added_snapshot_id bigint, added_data_files_count int, "
            "existing_data_files_count int, deleted_data_files_count int, "
            "added_rows_count bigint",
        )

    # distribute per-entry metadata tables on the planner's rule — a
    # million-file snapshot's `files` table would otherwise decode every
    # manifest SEQUENTIALLY on the driver
    def _inspect_frame(self, spark, manifests, decode, out_ddl):
        """Metadata-table rows `decode(path, seq, spec_id)` makes from
        each of `manifests`: an executor fan-out (`_map_rows` over the
        manifests, like the distributed planner) when the live data-file
        entries of the non-resident ones reach
        _EXECUTOR_PLAN_MIN_ENTRIES, else decoded on the driver."""
        work = [(m.manifest_path, m.sequence_number, m.partition_spec_id) for m in manifests]
        cold = [m for m in manifests if not is_resident(m.manifest_path)]
        if _live_data_files(cold) < _EXECUTOR_PLAN_MIN_ENTRIES:
            return _rows_frame(spark, [r for w in work for r in decode(*w)], out_ddl)
        schema = _arrow_schema_of(out_ddl)

        def task(batches):
            for batch in batches:
                out = [
                    row
                    for w in batch.to_pylist()
                    for row in decode(w["path"], w["seq"], w["spec_id"])
                ]
                yield from _arrow_rows(out, schema).to_batches()

        return _map_rows(spark, work, "path string, seq bigint, spec_id int", task, out_ddl)

    def _snapshot_manifests(self):
        snap = self.current_snapshot()
        return snap.manifests() if snap is not None else []

    def inspect_files(self, spark):
        ddl = (
            "file_path string, file_format string, content int, "
            "record_count bigint, file_size_in_bytes bigint, partition string"
        )

        def decode(path, _seq, _spec):
            from .manifest import read_manifest as rm

            return [
                (
                    e.data_file.file_path,
                    e.data_file.file_format,
                    int(e.data_file.content),
                    e.data_file.record_count,
                    e.data_file.file_size_in_bytes,
                    str(e.data_file.partition),
                )
                for e in rm(path)
            ]

        return self._inspect_frame(spark, self._snapshot_manifests(), decode, ddl)

    def inspect_entries(self, spark):
        """Manifest entries of the current snapshot with their status
        and sequence numbers (the `entries` metadata table)."""
        ddl = (
            "status int, snapshot_id bigint, sequence_number bigint, "
            "file_sequence_number bigint, file_path string, content int, "
            "record_count bigint"
        )

        def decode(path, seq, _spec):
            from .manifest import read_manifest as rm

            return [
                (
                    int(e.status),
                    e.snapshot_id,
                    e.sequence_number,
                    e.file_sequence_number,
                    e.data_file.file_path,
                    int(e.data_file.content),
                    e.data_file.record_count,
                )
                for e in rm(path, discard_deleted=False, inherit_sequence_number=seq)
            ]

        return self._inspect_frame(spark, self._snapshot_manifests(), decode, ddl)

    def inspect_partitions(self, spark):
        """Per-partition rollup of the current snapshot (the
        `partitions` metadata table): live data-file count, record
        count, and bytes per distinct partition tuple. The per-file
        rows fan out across executors on wide snapshots; the rollup is
        a plain Spark aggregate either way."""
        ddl = (
            "partition string, spec_id int, record_count bigint, "
            "file_size_in_bytes bigint"
        )

        def decode(path, _seq, spec_id):
            from .manifest import read_manifest as rm

            out = []
            for e in rm(path):
                df_ = e.data_file
                key = (
                    str(dict(sorted(df_.partition.items())))
                    if df_.partition
                    else "{}"
                )
                out.append(
                    (key, spec_id, df_.record_count, df_.file_size_in_bytes)
                )
            return out

        from pyspark.sql import functions as F

        data_manifests = [
            m for m in self._snapshot_manifests() if m.content == ManifestContent.DATA
        ]
        base = self._inspect_frame(spark, data_manifests, decode, ddl)
        return base.groupBy("partition", "spec_id").agg(
            F.count("*").alias("file_count"),
            F.sum("record_count").alias("record_count"),
            F.sum("file_size_in_bytes").alias("total_size_bytes"),
        )

    def inspect_history(self, spark):
        rows = [(e.timestamp_ms, e.snapshot_id) for e in self.metadata.snapshot_log]
        return _rows_frame(spark, rows, "made_current_at_ms bigint, snapshot_id bigint")

    def inspect_refs(self, spark):
        rows = [
            (name, r.snapshot_ref_type, r.snapshot_id)
            for name, r in self.metadata.refs.items()
        ]
        return _rows_frame(spark, rows, "name string, type string, snapshot_id bigint")


def _prune_job(scan: Scan, spark, manifests):
    """The executor prune job: one `_map_rows` stage decodes the data
    `manifests` and prunes their entries (levels 3+4) with the driver's
    cascade (`_cascade_evaluators`, `_surviving_entries`). A lazy frame
    of (manifest, seq, descriptor) rows, `manifest` being the index into
    `manifests`. Only plain values ship: the schema, the specs, the
    filter and the case flag."""
    import pyarrow as pa

    md = scan.table.metadata
    schema = scan._scan_schema()
    specs = {m.partition_spec_id: md.spec_by_id(m.partition_spec_id) for m in manifests}
    row_filter, case_sensitive = scan.row_filter, scan.case_sensitive
    work = [
        (i, m.manifest_path, m.partition_spec_id, m.sequence_number, m.first_row_id)
        for i, m in enumerate(manifests)
    ]
    out_schema = pa.schema(
        [("manifest", pa.int32()), ("seq", pa.int64()), ("descriptor", pa.string())]
    )

    def prune(batches):
        from .write import _encode_descriptor

        cascade = _cascade_evaluators(schema, specs.__getitem__, row_filter, case_sensitive)
        rows = [
            (w["manifest"], e.sequence_number, _encode_descriptor(e.data_file))
            for batch in batches
            for w in batch.to_pylist()
            for e in _surviving_entries(
                w["path"], w["spec_id"], w["seq"], w["first_row_id"], cascade
            )
        ]
        yield from _arrow_rows(rows, out_schema).to_batches()

    return _map_rows(
        spark,
        work,
        "manifest int, path string, spec_id int, seq bigint, first_row_id bigint",
        prune,
        "manifest int, seq bigint, descriptor string",
    )


def _descriptor_rows(frame):
    """The collected prune frame as (manifest, seq, DataFile) rows."""
    from .write import _decode_descriptor

    return [
        (r["manifest"], r["seq"], _decode_descriptor(r["descriptor"]))
        for r in frame.toArrow().to_pylist()
    ]


def _distributed_prune_frame(scan: Scan, spark):
    """Distributed planning WITHOUT the driver collect, for the frame
    consumers (`Scan._stream_plan_route`, `Scan.count`,
    `spj._side_blobs`): manifest pruning on the driver, then every
    surviving data manifest pruned in the executor job (`_prune_job`),
    returned as its lazy frame. A full-table scan of a million files
    then never materializes a million descriptors on the driver (the
    1M-file probe measured the collect at ~140 s and 2.9 GB driver
    RSS). The deletes are planned on the driver (`_plan_deletes`),
    gated by the survivors' min_sequence_number, which the manifest
    list gives before the frame runs.

    Returns (frame, delete_rows) — None frame when the snapshot is empty
    or nothing survives manifest pruning."""
    snap = scan.snapshot()
    if snap is None:
        return None, []
    evals_for, _, _ = scan._pruning_evaluators(scan._scan_schema())
    survivors, delete_manifests = scan._pruned_manifests(snap, evals_for)
    if not survivors:
        return None, []
    min_data_seq = min(m.min_sequence_number or 0 for m in survivors)
    return (
        _prune_job(scan, spark, survivors),
        _plan_deletes(delete_manifests, min_data_seq, scan.concurrency),
    )


def plan_files_distributed(scan: Scan, spark, manifests) -> list:
    """The executor leg of `Scan._plan_files_uncached` — SURVEY P4: the
    cold surviving data `manifests` decoded and pruned (levels 3+4) in
    one executor job (`_prune_job`). The driver keeps manifest pruning
    (O(manifests)) and receives the surviving DataFile descriptors
    (O(matching files)). Returns one list of (sequence number,
    DataFile) rows per manifest, in `manifests` order.

    Pure-Python codec + evaluators ship to executors as pickled
    closures; no Avro package or JVM reader is needed. Full-table scans
    of very wide snapshots skip this collect entirely —
    `Scan._stream_plan_route` feeds the pruned frame straight into the
    distributed Arrow reader."""
    out: list = [[] for _ in manifests]
    for i, seq, f in _descriptor_rows(_prune_job(scan, spark, manifests)):
        out[i].append((seq, f))
    return out


# prune frames persisted across the streaming route's stats job and the
# read it feeds (the read may execute long after planning, so eager
# unpersist would just re-run the prune job) — a small FIFO bounds the
# executor storage to the few most recent scans
_PERSISTED_FRAMES: list = []
# 8: one SPJ MERGE holds up to two prune frames, two blob frames, and
# a task frame at once; a FIFO smaller than the working set would
# unpersist frames mid-operation and silently re-run their jobs
_PERSISTED_FRAMES_MAX = 8


def _keep_persisted(frame):
    frame = frame.persist()
    _PERSISTED_FRAMES.append(frame)
    while len(_PERSISTED_FRAMES) > _PERSISTED_FRAMES_MAX:
        old = _PERSISTED_FRAMES.pop(0)
        try:
            old.unpersist(False)
        except Exception:  # noqa: BLE001 — a stopped session is fine
            pass
    return frame


# Bounded prune-frame memo for the SPJ family: one MERGE through the
# storage-partitioned legs plans each side several times (pre-check,
# matched, insert-anti, by-source-anti, cardinality probe), and each
# `_side_blobs` call would otherwise re-run the manifest-decode prune
# job. Keyed like _PLAN_CACHE — metadata LOCATION + snapshot id makes
# commits invalidate by construction — plus the Spark applicationId
# (a persisted frame dies with its session). The memoized frame is
# persisted; if the FIFO above unpersists it early, reuse silently
# recomputes (correct, just unamortized).
_PRUNE_FRAME_MEMO = _LRU(4)


def _distributed_prune_frame_cached(scan: Scan, spark):
    snap = scan.snapshot()
    loc = getattr(scan.table, "metadata_location", None)
    if snap is None or loc is None:
        return _distributed_prune_frame(scan, spark)
    key = (
        spark.sparkContext.applicationId,
        loc,
        snap.snapshot_id,
        repr(scan.row_filter),
        scan.case_sensitive,
    )
    hit = _PRUNE_FRAME_MEMO.get(key)
    if hit is not None:
        return hit
    frame, delete_rows = _distributed_prune_frame(scan, spark)
    if frame is not None:
        frame = _keep_persisted(frame)
    _PRUNE_FRAME_MEMO.put(key, (frame, delete_rows))
    return frame, delete_rows
