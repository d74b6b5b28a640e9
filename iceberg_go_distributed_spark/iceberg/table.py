"""Table + Scan: the read path.

Scan planning is driver-side pure Python (O(manifests), not O(rows)) —
the four-level cascade of SURVEY §3.1 steps 4-6 — and execution is one
`spark.read.parquet(*pruned_files)` plus a residual `filter` Column
(step 7; Catalyst adds parquet row-group pruning on top). Mirrors
table/table.go:361-379 (Scan builder), table/scanner.go:410-460
(PlanFiles), scanner.go:177-210 (ref / time-travel resolution).
"""

from __future__ import annotations

import logging
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
    ManifestEntry,
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


def _lineage_read_struct(schema):
    """Read struct extended with the spec's reserved row-lineage columns
    (`_row_id` 2147483540, `_last_updated_sequence_number` 2147483539).
    Files written by row-copying writers (compaction) materialize them;
    files that never rewrote rows lack the ids and null-fill, so readers
    can `coalesce(materialized, inherited)` per spec."""
    from pyspark.sql import types as st

    from .manifest import LAST_UPDATED_SEQ_FIELD_ID, ROW_ID_FIELD_ID
    from .types import schema_to_spark_struct

    base = schema_to_spark_struct(schema)
    return st.StructType(
        list(base.fields)
        + [
            st.StructField(
                "_row_id",
                st.LongType(),
                True,
                metadata={"parquet.field.id": ROW_ID_FIELD_ID},
            ),
            st.StructField(
                "_last_updated_sequence_number",
                st.LongType(),
                True,
                metadata={"parquet.field.id": LAST_UPDATED_SEQ_FIELD_ID},
            ),
        ]
    )


def _lineage_ext_schema(schema):
    """Iceberg schema extended with the reserved row-lineage fields, for
    read paths that resolve columns by (mapped) NAME rather than field id
    (`_read_with_name_mapping`). Name mappings never map the reserved
    ids, so the probe falls back to the exact physical names — which is
    precisely how row-copying writers (compaction) materialize them;
    imported ID-less files lack the columns and read as null, leaving
    inheritance to supply the values."""
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
    import re as _re

    missing = [t for t in tasks if t.file.first_row_id is None]
    if missing:
        raise ValueError(
            f"{len(missing)} data files lack first_row_id; commit once "
            "post-upgrade so the manifest list assigns row ids"
        )
    return spark.createDataFrame(
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


def _ensure_field_id_reads(spark) -> None:
    """Field-id-based parquet column resolution, set once per session
    (sessions built by session.py already have it; this covers
    user-owned sessions without mutating conf on every scan)."""
    if getattr(spark, "_iceberg_field_id_reads", False):
        return
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark._iceberg_field_id_reads = True


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

# read.spark.max-listed-files: above this many matched files, plain scans
# stop passing a path list to spark.read.parquet (py4j + driver file
# index are O(files): 72 s at 100k files) and stream the paths to
# executors as a DataFrame instead (_read_files_arrow_distributed)
_DEFAULT_MAX_LISTED_FILES = 100_000


def strip_scheme(path: str) -> str:
    import re as _re

    return _re.sub(SCHEME_RE, "", path)


def strip_scheme_col(col):
    from pyspark.sql import functions as F

    return F.regexp_replace(col, SCHEME_RE, "")


# Bounded planning memo: (metadata_location, snapshot, filter
# fingerprint, case, projection) → planned FileScanTask tuple. Keyed on
# the metadata LOCATION so any commit invalidates by construction
# (plan inputs for a given metadata file are immutable); lock-guarded —
# the distributed planner and bench harness plan from worker threads
# (the same race that bit _OCF_CACHE, see test_manifest_io).
import threading as _threading

_PLAN_CACHE: dict = {}
_PLAN_CACHE_MAX = 32
_PLAN_CACHE_LOCK = _threading.Lock()


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
        """Per-spec manifest + partition evaluators and the file metrics
        evaluator for this scan's row filter (levels 1-4 of the cascade,
        ref scanner.go:238-243, :313-339). Returns (evals_for,
        metrics_eval, stats_ids) where evals_for(spec_id) -> (man_eval,
        part_eval), built lazily and cached per spec id, and stats_ids
        are the field ids whose stats metrics_eval reads."""
        md = self.table.metadata
        proj_by_spec: dict[int, Expression] = {}
        man_eval_by_spec: dict[int, Any] = {}
        part_eval_by_spec: dict[int, Any] = {}
        metrics_eval = inclusive_metrics_evaluator(
            schema, self.row_filter, self.case_sensitive
        )
        stats_ids = metrics_field_ids(schema, self.row_filter, self.case_sensitive)

        def evals_for(spec_id: int):
            if spec_id not in proj_by_spec:
                spec = md.spec_by_id(spec_id)
                proj = inclusive_projection(schema, spec, self.case_sensitive)(
                    self.row_filter
                )
                proj_by_spec[spec_id] = proj
                man_eval_by_spec[spec_id] = manifest_evaluator(
                    spec, schema, proj, self.case_sensitive
                )
                part_schema = Schema(0, spec.partition_type(schema).fields)
                part_eval_by_spec[spec_id] = expression_evaluator(
                    part_schema, proj, self.case_sensitive
                )
            return man_eval_by_spec[spec_id], part_eval_by_spec[spec_id]

        return evals_for, metrics_eval, stats_ids

    def plan_files(self, report: Optional[dict] = None) -> list[FileScanTask]:
        """Four-level pruning — ref table/scanner.go:410-460. Pass a
        `report` dict (or use `plan_report()`) to collect per-level
        pruning counters while planning.

        Results memoize per (metadata location, snapshot, filter
        fingerprint) in a bounded LRU (`read.plan-cache.enabled`,
        default on): a repeated-scan workload pays the manifest reads
        and evaluator passes once per table version instead of once per
        scan. Keying on the METADATA location (not just the snapshot
        id) makes staleness impossible — any commit writes a new
        metadata file, so post-commit scans miss and re-plan; the
        cached snapshot's plan inputs (manifest list, specs, schema)
        are immutable. Mirrors the reference's manifest cache intent
        (internal/cache, eviction race fixed in its c999242) one level
        up: that cache saves Avro decode, this one the evaluator pass."""
        snap = self.snapshot()
        if snap is None:
            if report is not None:
                report.clear()
            return []
        if report is not None:
            return self._plan_files_uncached(snap, report)
        return self._memoized(snap, lambda: self._plan_files_uncached(snap, None))

    def _memoized(self, snap, plan) -> list[FileScanTask]:
        """`plan()` through the bounded planning memo, when enabled."""
        key = self._plan_cache_key(snap) if self._plan_cache_on() else None
        if key is None:
            return plan()
        with _PLAN_CACHE_LOCK:
            hit = _PLAN_CACHE.pop(key, None)
            if hit is not None:
                _PLAN_CACHE[key] = hit  # LRU refresh
                return list(hit)
        tasks = plan()
        with _PLAN_CACHE_LOCK:
            while len(_PLAN_CACHE) >= _PLAN_CACHE_MAX:
                _PLAN_CACHE.pop(next(iter(_PLAN_CACHE)), None)
            _PLAN_CACHE[key] = tuple(tasks)
        return tasks

    def _plan_cache_on(self) -> bool:
        try:
            return str(
                self.table.metadata.properties.get(
                    "read.plan-cache.enabled", "true"
                )
            ).lower() in ("1", "true", "yes")
        except Exception:
            return False

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

    def _plan_files_uncached(self, snap, report) -> list[FileScanTask]:
        schema = self._scan_schema()

        all_manifests = snap.manifests()
        manifests = [m for m in all_manifests if m.content == ManifestContent.DATA]
        delete_manifests = [
            m for m in all_manifests if m.content == ManifestContent.DELETES
        ]

        # level 1+2: partition projection + manifest pruning, per spec id
        evals_for, metrics_eval, stats_ids = self._pruning_evaluators(schema)

        pruned_manifests = []
        for m in manifests:
            man_eval, _ = evals_for(m.partition_spec_id)
            if man_eval(m):
                pruned_manifests.append(m)

        # level 3+4: partition-tuple + metrics pruning, one manifest
        # block per evaluator call, cache-resident manifests first
        # (map_manifests; remote misses fetch concurrently, ref
        # scanner.go:343-406 errgroup workers)
        def entries_of(m: ManifestFile):
            # evaluate on the cached column block and build entries for
            # the survivors only (scan_manifest): a selective plan
            # discards ~everything. The evaluators only READ partition
            # tuples / stats — neither depends on the inherited sequence
            # numbers applied to the survivors afterwards.
            _, part_eval = evals_for(m.partition_spec_id)
            counts = [0, 0, 0]  # total, partition-pruned, metrics-pruned

            def keep(block):
                in_part = block.partition_mask(part_eval)
                might = metrics_eval(block)
                if report is not None:
                    live = block.live
                    counts[0] += int(live.sum())
                    counts[1] += int((live & ~in_part).sum())
                    counts[2] += int((live & in_part & ~might).sum())
                return in_part & might

            out = scan_manifest(
                m.manifest_path,
                keep,
                inherit_sequence_number=m.sequence_number,
                inherit_first_row_id=m.first_row_id,
                stats_ids=stats_ids,
            )
            return out, counts[0], counts[1], counts[2]

        data_entries: list[ManifestEntry] = []
        entries_total = pruned_partition = pruned_metrics = 0
        for entry_list, n_total, n_part, n_metrics in map_manifests(
            entries_of, pruned_manifests, self.concurrency
        ):
            data_entries.extend(entry_list)
            entries_total += n_total
            pruned_partition += n_part
            pruned_metrics += n_metrics

        # delete matching — ref scanner.go:268-309: gate delete manifests
        # by min data sequence number, then per data file keep deletes
        # with seq >= data seq whose file_path bounds cover the path.
        delete_entries: list[ManifestEntry] = []
        if delete_manifests and data_entries:
            min_data_seq = min(e.sequence_number or 0 for e in data_entries)
            for entry_list in map_manifests(
                lambda m: read_manifest(
                    m.manifest_path, inherit_sequence_number=m.sequence_number
                ),
                [m for m in delete_manifests if m.sequence_number >= min_data_seq],
                self.concurrency,
            ):
                delete_entries.extend(entry_list)
            # stable: equal sequence numbers keep manifest-list order
            delete_entries.sort(key=lambda e: e.sequence_number or 0)

        delete_rows = [
            (d.sequence_number or 0, d.data_file) for d in delete_entries
        ]
        match = build_delete_matcher(delete_rows)
        tasks: list[FileScanTask] = []
        for e in data_entries:
            tasks.append(
                FileScanTask(
                    file=e.data_file,
                    delete_files=match(
                        e.sequence_number or 0, e.data_file.file_path
                    ),
                    data_sequence_number=e.sequence_number,
                )
            )
        if report is not None:
            report.update(
                manifests_data=len(manifests),
                manifests_delete=len(delete_manifests),
                manifests_pruned=len(manifests) - len(pruned_manifests),
                manifests_scanned=len(pruned_manifests),
                entries_total=entries_total,
                entries_pruned_partition=pruned_partition,
                entries_pruned_metrics=pruned_metrics,
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
        examples/layout_maintenance.py). Metadata-only; no Spark job."""
        report: dict = {}
        self.plan_files(report=report)
        return report

    # ----------------------------------------------------------- execution

    def plan_files_auto(self, spark) -> list[FileScanTask]:
        """Route planning by metadata size: small snapshots plan on the
        driver (no job overhead); larger ones fan the per-manifest entry
        reads out across executors (plan_files_distributed), bounding
        driver work at O(manifests + matching files) instead of O(all
        entries). Two triggers, either routes distributed:

          * manifest count >= `read.distributed-planning.min-manifests`
            (default 64) — many small manifests;
          * total live file count >= `read.distributed-planning.
            min-files` (default 50000, the measured local/distributed
            crossover on 32 cores — see SCALE.md) — few-but-FAT
            manifests, the shape merge-append produces. Counted from
            the manifest-list rows already in memory (added+existing
            counts), so the check itself is O(manifests).

        Set a threshold to 0 to disable that trigger."""
        snap = self.snapshot()
        if snap is not None and spark is not None:
            props = self.table.metadata.properties

            def prop_int(key, default):
                try:
                    return int(props.get(key, default))
                except (TypeError, ValueError):
                    return int(default)

            min_manifests = prop_int(
                "read.distributed-planning.min-manifests", "64"
            )
            min_files = prop_int("read.distributed-planning.min-files", "50000")
            manifests = snap.manifests()
            n_files = sum(
                m.added_files_count + m.existing_files_count for m in manifests
            )
            if (0 < min_manifests <= len(manifests)) or (
                0 < min_files <= n_files
            ):
                # re-plan of a cache-warm snapshot (e.g. a NEW filter on
                # a just-scanned table: plan-memo miss, manifest-cache
                # hit): the local planner re-evaluates cached manifest
                # blocks, much faster than the
                # distributed job's fixed launch cost (bench planning
                # block, warm attempts) and without spending cluster
                # resources on planning. Width is no longer the right
                # routing signal when the decode is already paid.
                if str(
                    props.get("read.distributed-planning.skip-when-cached", "true")
                ).lower() in ("1", "true", "yes"):
                    cached = sum(is_resident(m.manifest_path) for m in manifests)
                    if cached >= 0.9 * len(manifests):
                        return self.plan_files()
                # same memo as the local planner (the two return the
                # identical file set — bench-asserted), so a repeated
                # scan skips the Spark planning job too
                return self._memoized(
                    snap, lambda: plan_files_distributed(self, spark)
                )
        return self.plan_files()

    def _stream_plan_route(self, spark):
        """Streaming plan→read for scans of very wide snapshots (r13,
        widened r14): the pruned-descriptor frame from
        `_distributed_prune_frame` feeds the distributed Arrow reader
        directly — file descriptors NEVER collect to the driver. The
        1M-file probe measured the collected plan at ~140 s and 2.9 GB
        driver RSS; this path keeps the driver at O(manifests).

        r14 extensions (VERDICT r13 tasks 3+6): FILTERED scans stream
        too, gated on the MATCHED file count from the prune job itself
        rather than on filter presence (the frame persists across the
        stats job and the read, so the gate costs one cheap count); and
        positional-delete / DV snapshots stream with the delete side
        planned driver-side — the delete-descriptor set is O(small)
        next to a 100 TB data set, and positional deletes name exact
        data-file paths, so the shared global (_fp, _pos) anti-join
        applies. Equality deletes still take the collected plan (their
        matching is sequence-grouped per data file).

        Returns ``(df, tasks)``: a DataFrame when the scan streams
        (raw — the caller applies filter/select/limit); a task list
        when the prune job already ran but collecting is the better
        plan (small matched set, or equality deletes) — reused, never
        re-planned; ``(None, None)`` when ineligible."""
        from pyspark.sql import functions as F

        if not self._stream_plan_eligible():
            return None, None
        frame, n_del_manifests = _distributed_prune_frame(self, spark)
        if frame is None:
            # nothing survives manifest pruning: an empty, final plan
            return None, []

        def paths_of(fr):
            return fr.where(F.col("kind") == 0).select(
                F.get_json_object("descriptor", "$.file_path").alias(
                    "data_file"
                )
            )

        read_schema = self._read_schema()
        if n_del_manifests == 0 and isinstance(self.row_filter, AlwaysTrue):
            # full scan of a delete-free snapshot: matched == snapshot
            # file count, already known > max-listed-files by
            # eligibility — stream in a single pass, no stats job
            return (
                self._read_files_arrow_distributed(
                    spark, None, read_schema, files_df=paths_of(frame)
                ),
                None,
            )
        # the gate needs the matched count and the read needs the same
        # frame — persist so the prune job runs once, not twice
        frame = _keep_persisted(frame)
        n_matched = frame.where(F.col("kind") == 0).count()
        delete_rows = []
        if n_del_manifests:
            from .write import _decode_descriptor

            delete_rows = [
                _decode_descriptor(r.descriptor)
                for r in frame.where(F.col("kind") == 1).collect()
            ]
        from .manifest import DataFileContent

        has_eq = any(
            d.content == DataFileContent.EQUALITY_DELETES for d in delete_rows
        )
        try:
            max_listed = int(
                self.table.metadata.properties.get(
                    "read.spark.max-listed-files", _DEFAULT_MAX_LISTED_FILES
                )
            )
        except (TypeError, ValueError):
            max_listed = _DEFAULT_MAX_LISTED_FILES
        if n_matched <= max_listed or has_eq:
            # small matched set (the JVM routes with Catalyst pushdown
            # win there) or eq deletes: collect the already-pruned
            # frame into tasks — O(matched) rows, the plan work reuses
            return None, _descriptor_rows_to_tasks(frame.collect())
        if not delete_rows:
            return (
                self._read_files_arrow_distributed(
                    spark, None, read_schema, files_df=paths_of(frame)
                ),
                None,
            )
        # wide MOR (positional deletes / DVs only): stream the data
        # paths; the reader emits (_fp, _pos) in-task, and the shared
        # delete-side anti-join drops deleted rows
        df = self._read_files_arrow_distributed(
            spark,
            None,
            read_schema,
            with_fp=True,
            with_pos=True,
            files_df=paths_of(frame),
        )
        df = self._anti_join_pos_deletes(spark, df, delete_rows)
        return df.drop("_fp", "_pos"), None

    def _stream_plan_eligible(self) -> bool:
        if type(self) is not Scan:
            # subclasses (IncrementalAppendScan) plan their own file
            # sets; the snapshot-wide prune frame would over-read
            return False
        if self.include_row_lineage or self.snapshot() is None:
            return False
        props = self.table.metadata.properties

        def prop_int(key, default):
            try:
                return int(props.get(key, default))
            except (TypeError, ValueError):
                return int(default)

        max_listed = prop_int(
            "read.spark.max-listed-files", _DEFAULT_MAX_LISTED_FILES
        )
        if max_listed <= 0:
            return False
        manifests = [
            m
            for m in self.snapshot().manifests()
            if m.content == ManifestContent.DATA
        ]
        n_files = sum(
            m.added_files_count + m.existing_files_count for m in manifests
        )
        # streaming rides the distributed prune machinery, so the same
        # knobs that disable distributed planning (both minima set to 0,
        # the codebase's convention) disable it; a snapshot past the
        # wide-read threshold but under the minima still streams — the
        # prune job just degrades to a few tasks
        min_manifests = prop_int("read.distributed-planning.min-manifests", "64")
        min_files = prop_int("read.distributed-planning.min-files", "50000")
        if min_manifests <= 0 and min_files <= 0:
            return False
        return n_files > max_listed

    def to_df(self, spark, tasks=None):
        """Data-plane execution — SURVEY §3.1 step 7. The driver/executor
        boundary is exactly here: everything above was metadata-only.
        Pass pre-planned `tasks` to skip re-planning (count() does)."""
        from pyspark.sql import functions as F

        if tasks is None:
            sdf, pre_tasks = self._stream_plan_route(spark)
            if sdf is not None:
                if not isinstance(self.row_filter, AlwaysTrue):
                    # the reader pushes the residual per file when it
                    # can; this outer filter is the correctness layer
                    from .expressions import bind_expr, rewrite_not

                    bound = bind_expr(
                        rewrite_not(self.row_filter),
                        self._scan_schema(),
                        self.case_sensitive,
                    )
                    sdf = sdf.where(to_spark_column(bound))
                if self.selected_fields != ("*",):
                    sdf = sdf.select(
                        *[F.col(f.name) for f in self.projection().fields]
                    )
                if self.limit is not None:
                    sdf = sdf.limit(self.limit)
                return sdf
            tasks = (
                pre_tasks
                if pre_tasks is not None
                else self.plan_files_auto(spark)
            )
        proj = self.projection()
        schema = self._scan_schema()

        if not tasks:
            ddl = schema_to_spark_ddl(proj)
            if self.include_row_lineage:
                if self.table.metadata.format_version < 3:
                    raise ValueError("_row_id requires a format-version 3 table")
                # an empty lineage scan must still carry the lineage
                # columns — changelog_scan joins/selects `_row_id` on
                # both sides, and one side planning zero files is a
                # legitimate state (e.g. every file deleted)
                ddl += ", _row_id bigint, _last_updated_sequence_number bigint"
            return spark.createDataFrame([], ddl)

        from .manifest import DataFileContent

        files = [t.file.file_path for t in tasks]
        has_pos = any(
            d.content == DataFileContent.POSITION_DELETES
            for t in tasks
            for d in t.delete_files
        )
        eq_files: dict[str, DataFile] = {
            d.file_path: d
            for t in tasks
            for d in t.delete_files
            if d.content == DataFileContent.EQUALITY_DELETES
        }
        lineage = None
        if self.include_row_lineage:
            # v3 row lineage: _row_id = data file's first_row_id (assigned
            # by the manifest-list writer, inherited per file at plan
            # time) + the row's physical position. Computed JVM-side from
            # _metadata.row_index + a broadcast (file → first_row_id) map.
            md = self.table.metadata
            if md.format_version < 3:
                raise ValueError("_row_id requires a format-version 3 table")
            lineage = lineage_map_frame(spark, tasks)
        if has_pos or eq_files:
            # prune the MOR read too: projection ∪ filter fields, plus
            # every equality-delete key column (the eq anti-join matches
            # on them; _anti_join_eq_keys keeps the dropped-key check)
            read_schema = self._read_schema()
            if eq_files:
                keep = {f.field_id for f in read_schema.fields} | {
                    i
                    for d in eq_files.values()
                    for i in (d.equality_ids or [])
                }
                read_schema = Schema(
                    schema.schema_id,
                    tuple(f for f in schema.fields if f.field_id in keep),
                )
            df = self._read_with_deletes(
                spark, tasks, read_schema, eq_files, keep_pos=lineage is not None
            )
        elif lineage is not None:
            if "schema.name-mapping.default" in self.table.metadata.properties:
                # ID-less (add_files-imported) files resolve columns by
                # mapped name; the lineage columns resolve by their exact
                # reserved names (compacted files) or null-fill (imports)
                df = self._read_with_name_mapping(
                    spark, files, _lineage_ext_schema(schema), with_pos=True
                )
            else:
                _ensure_field_id_reads(spark)
                df = (
                    spark.read.schema(_lineage_read_struct(schema))
                    .parquet(*files)
                    .withColumn(
                        "_fp",
                        strip_scheme_col(F.col("_metadata.file_path")),
                    )
                    .withColumn("_pos", F.col("_metadata.row_index"))
                )
            df = self._apply_initial_defaults(spark, df, files, schema, F.col("_fp"))
        else:
            # field-id-based read: columns resolve by the parquet field
            # ids our writer stamps, so renames/evolution are safe;
            # Catalyst prunes columns + pushes the residual filter into
            # the parquet row-group scan. Tables carrying a name mapping
            # contain add_files-registered files WITHOUT field ids —
            # those resolve by (mapped) name instead.
            has_defaults = any(f.initial_default is not None for f in schema.fields)
            try:
                max_listed = int(
                    self.table.metadata.properties.get(
                        "read.spark.max-listed-files", _DEFAULT_MAX_LISTED_FILES
                    )
                )
            except (TypeError, ValueError):
                max_listed = _DEFAULT_MAX_LISTED_FILES
            if 0 < max_listed < len(files):
                # wide scan: a path-list read would ship O(files) strings
                # through py4j and build a driver file index (72 s at
                # 100k files, SCALE.md r13) — stream the paths to
                # executors as a DataFrame instead. Defaults are filled
                # in-task (file identity is free there), so the outer
                # defaults pass is skipped; name-mapped (add_files)
                # columns resolve per file inside the reader. The read
                # schema is PRUNED to projection ∪ filter fields —
                # Catalyst cannot push a projection through mapInArrow
                df = self._read_files_arrow_distributed(
                    spark, files, self._read_schema()
                )
            elif "schema.name-mapping.default" in self.table.metadata.properties:
                # No Arrow fallback here: failures (including transient
                # object-store errors) propagate.
                if has_defaults:
                    # defaults need per-row file identity: carry _fp
                    # through the grouped union (no _metadata there)
                    df = self._read_with_name_mapping(
                        spark, files, schema, with_pos=True
                    )
                    df = self._apply_initial_defaults(
                        spark, df, files, schema, F.col("_fp")
                    ).drop("_fp", "_pos")
                else:
                    df = self._read_with_name_mapping(spark, files, schema)
            else:
                from .types import schema_to_spark_struct

                _ensure_field_id_reads(spark)
                try:
                    # narrow try: only the JVM path-resolution / scheme
                    # lookup — defaults application stays outside so its
                    # own bugs propagate instead of rerouting
                    df = spark.read.schema(schema_to_spark_struct(schema)).parquet(
                        *files
                    )
                except Exception:  # noqa: BLE001 — reroute to the Arrow reader
                    from . import fileio

                    if all(fileio.is_local(f) for f in files):
                        # local files: a real error, not a missing scheme
                        raise
                    # object-store table but no Hadoop connector for the
                    # scheme in this Spark: distributed per-file Arrow read
                    # (real clusters ship s3a:// and never take this branch)
                    logger.warning(
                        "JVM parquet reader cannot open %s; using the "
                        "distributed Arrow reader",
                        files[0].split("://", 1)[0] + "://",
                    )
                    df = self._read_files_arrow_distributed(spark, files, schema)
                else:
                    df = self._apply_initial_defaults(
                        spark,
                        df,
                        files,
                        schema,
                        strip_scheme_col(F.col("_metadata.file_path")),
                    )
        if lineage is not None:
            df = attach_lineage(df, lineage)
        if not isinstance(self.row_filter, AlwaysTrue):
            from .expressions import bind_expr, rewrite_not

            bound = bind_expr(
                rewrite_not(self.row_filter), schema, self.case_sensitive
            )
            df = df.where(to_spark_column(bound))
        if self.selected_fields != ("*",):
            cols = [F.col(f.name) for f in proj.fields]
            if lineage is not None:
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

                frame, _n_del = _distributed_prune_frame(self, spark)
                if frame is None:
                    return 0
                if _n_del:
                    # deleted rows are invisible to record counts — the
                    # streamed MOR read (anti-join) must execute
                    return self.to_df(spark).count()
                row = (
                    frame.where(F.col("kind") == 0)
                    .agg(
                        F.sum(
                            F.get_json_object(
                                "descriptor", "$.record_count"
                            ).cast("long")
                        )
                    )
                    .first()
                )
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
        self, spark, tasks, schema: Schema, eq_files=None, keep_pos=False
    ):
        """Merge-on-read dispatch: prefer the JVM-native path
        (`_metadata.row_index` anti-join — keeps parquet pushdown and
        split planning), fall back to the per-file Arrow path (the
        reference's arrow_scanner shape) if the hidden metadata column
        is unavailable. `keep_pos` keeps the `_fp`/`_pos` columns in the
        output (row-lineage reads derive `_row_id` from them)."""
        groups = self._eq_delete_groups(tasks) if eq_files else None
        if groups and len(groups) > 1:
            # several distinct eq-delete sets: read per group (a single
            # upfront read would be discarded anyway)
            parts = []
            for key, group_tasks in groups.items():
                sub = self._read_pos_only(spark, group_tasks, schema, keep_pos)
                sub = self._anti_join_eq_keys(spark, sub, key, eq_files, schema)
                parts.append(sub)
            df = parts[0]
            for p_ in parts[1:]:
                df = df.unionByName(p_)
            return df
        df = self._read_pos_only(spark, tasks, schema, keep_pos)
        if groups:
            (only_key,) = groups
            df = self._anti_join_eq_keys(spark, df, only_key, eq_files, schema)
        return df

    def _read_pos_only(self, spark, tasks, schema: Schema, keep_pos=False):
        try:
            return self._read_with_pos_deletes_jvm(spark, tasks, schema, keep_pos)
        except Exception:
            if keep_pos:
                # the Arrow fallback has no _metadata.row_index; silently
                # rerouting would break _row_id derivation
                raise
            logger.warning(
                "JVM merge-on-read path failed; falling back to the per-file "
                "Arrow reader (no parquet pushdown for this scan)",
                exc_info=True,
            )
            from .manifest import DataFileContent
            from .reader import delete_entry

            return self._read_files_arrow_distributed(
                spark,
                [t.file.file_path for t in tasks],
                schema,
                deletes=[
                    [
                        delete_entry(d)
                        for d in t.delete_files
                        if d.content == DataFileContent.POSITION_DELETES
                    ]
                    for t in tasks
                ],
            )

    @staticmethod
    def _eq_delete_groups(tasks):
        from .manifest import DataFileContent

        groups: dict[frozenset, list] = {}
        for t in tasks:
            key = frozenset(
                d.file_path
                for d in t.delete_files
                if d.content == DataFileContent.EQUALITY_DELETES
            )
            groups.setdefault(key, []).append(t)
        return groups

    def _anti_join_eq_keys(self, spark, df, key, eq_files, schema: Schema):
        """Null-safe anti-join per equality-delete file (Iceberg eq-delete
        semantics: NULL key values match NULL), with key files read by
        field id so key-column renames stay safe."""
        from pyspark.sql import functions as F

        from .types import schema_to_spark_struct

        by_id = {f.field_id: f for f in schema.fields}
        for path in key:
            eqf = eq_files[path]
            missing = [i for i in (eqf.equality_ids or []) if i not in by_id]
            if missing:
                # an equality key column was dropped from the schema: the
                # delete can no longer be evaluated. Matching on the
                # remaining subset would OVER-delete live rows, and
                # skipping the file would resurrect deleted ones — both
                # are silent corruption, so fail loudly instead.
                raise ValueError(
                    f"equality-delete file {path} keys on dropped field "
                    f"ids {missing}; the delete cannot be applied against "
                    "the current schema (compact the table before "
                    "dropping equality-key columns)"
                )
            fields = [by_id[i] for i in (eqf.equality_ids or [])]
            if not fields:
                continue
            eq_schema = Schema(0, tuple(fields))
            from . import fileio

            if fileio.is_local(path):
                keys = (
                    spark.read.schema(schema_to_spark_struct(eq_schema))
                    .parquet(path)
                    .dropDuplicates()
                )
            else:
                # key files are small (distinct delete keys) — a driver
                # arrow read avoids needing a JVM FileSystem for the
                # scheme. STATIC broadcast hint: a createDataFrame has
                # no size stats, so without it Catalyst plans sort-merge
                # and AQE shuffles the whole SCAN before converting the
                # join (same trap the merge plan probe caught,
                # write.py merge broadcast note / SCALE.md r10) — the
                # driver just materialized these keys, so they are small
                # by construction. The local branch needs no hint:
                # parquet file-size stats auto-broadcast under the
                # threshold, and a genuinely big key file SHOULD
                # sort-merge.
                keys = F.broadcast(
                    spark.createDataFrame(
                        fileio.read_parquet_table(
                            path, columns=[f.name for f in fields]
                        ).to_pandas(),
                        schema=schema_to_spark_ddl(eq_schema),
                    ).dropDuplicates()
                )
            cond = None
            for f in fields:
                c = df[f.name].eqNullSafe(keys[f.name])
                cond = c if cond is None else (cond & c)
            df = df.join(keys, on=cond, how="left_anti")
        return df

    def _read_with_pos_deletes_jvm(self, spark, tasks, schema: Schema, keep_pos=False):
        """JVM-side MOR: read all planned files with the parquet
        `_metadata` struct and left-anti join (file_path, row_index)
        against the matched positional-delete files. Positional deletes
        name exact file paths, and a delete can never name a file from a
        later snapshot, so the global anti-join preserves the per-file
        sequence-gated matching computed at plan time."""
        from pyspark.sql import functions as F

        from .manifest import DataFileContent
        from .types import schema_to_spark_struct

        delete_files = [
            d
            for t in tasks
            for d in t.delete_files
            if d.content == DataFileContent.POSITION_DELETES
        ]
        files = [t.file.file_path for t in tasks]
        strip = strip_scheme_col
        try:
            max_listed = int(
                self.table.metadata.properties.get(
                    "read.spark.max-listed-files", _DEFAULT_MAX_LISTED_FILES
                )
            )
        except (TypeError, ValueError):
            max_listed = _DEFAULT_MAX_LISTED_FILES
        if 0 < max_listed < len(files) and not keep_pos:
            # wide MOR scan: the same O(files) path-list cost as the
            # plain read (SCALE.md r13) — stream the paths instead;
            # the reader emits (_fp, _pos) in-task, file-order exact,
            # and resolves name-mapped columns per file (lineage reads
            # keep the JVM path: they need the reserved materialized
            # lineage columns)
            df = self._read_files_arrow_distributed(
                spark, files, schema, with_fp=True, with_pos=True
            )
        elif "schema.name-mapping.default" in self.table.metadata.properties:
            # grouped multi-name read: ID-less files may carry any
            # mapped (pre-rename) column name; _fp/_pos selected inside
            # each group before the union. keep_pos ⇒ a row-lineage read:
            # extend with the reserved lineage columns (resolved by their
            # exact names in compacted files, null elsewhere)
            nm_schema = _lineage_ext_schema(schema) if keep_pos else schema
            df = self._read_with_name_mapping(spark, files, nm_schema, with_pos=True)
        else:
            _ensure_field_id_reads(spark)
            # keep_pos ⇒ a row-lineage read: also request the reserved
            # materialized lineage columns (null-filled where absent)
            struct = (
                _lineage_read_struct(schema)
                if keep_pos
                else schema_to_spark_struct(schema)
            )
            reader = spark.read.schema(struct)
            df = (
                reader.parquet(*files)
                .withColumn("_fp", strip(F.col("_metadata.file_path")))
                .withColumn("_pos", F.col("_metadata.row_index"))
            )
        df = self._anti_join_pos_deletes(spark, df, delete_files)
        df = self._apply_initial_defaults(spark, df, files, schema, F.col("_fp"))
        return df if keep_pos else df.drop("_fp", "_pos")

    def _anti_join_pos_deletes(self, spark, df, delete_files):
        """Drop positionally-deleted rows from a (_fp, _pos)-carrying
        frame: the delete side (parquet positional files + v3 DVs)
        becomes one (_fp, _pos) frame, left-anti joined. Shared by the
        task-planned JVM MOR read and the streaming plan→read, which
        plans the delete side driver-side — it is O(small) next to the
        data it deletes from.

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
        try:
            max_small = int(
                self.table.metadata.properties.get(
                    "read.mor.broadcast-deletes-max-positions", "2000000"
                )
            )
        except (TypeError, ValueError):
            max_small = 2_000_000
        n_del_positions = sum(d.record_count for d in uniq.values())
        small_deletes = 0 < n_del_positions <= max_small
        dels = None
        if pos_files:
            dels = (
                spark.read.parquet(*pos_files)
                .select(
                    strip(F.col("file_path")).alias("_fp"),
                    F.col("pos").alias("_pos"),
                )
                .dropDuplicates()
            )
        if dv_descriptors:
            # Driver decode has its OWN (much smaller) bound than the
            # broadcast gate: materializing (path, pos) rows through the
            # driver costs ~µs/row in Python→JVM conversion, so at ~1M+
            # positions the executor decode (parallel, Arrow-batched)
            # wins even though the frame still broadcasts afterwards —
            # measured 4.9 s → 2.9 s on a 9.6M-row/1.37M-delete scan.
            try:
                driver_max = int(
                    self.table.metadata.properties.get(
                        "read.mor.driver-decode-max-positions", "100000"
                    )
                )
            except (TypeError, ValueError):
                driver_max = 100_000
            dv_df = self._deletion_vector_positions(
                spark,
                dv_descriptors,
                # driver decode bounded twice: total positions (rows
                # materialized) and descriptor count (sequential blob
                # reads the driver performs)
                # max_small == 0 disables BOTH small-side paths (the
                # documented escape hatch), so it gates driver decode too
                on_driver=max_small > 0
                and 0 < n_del_positions <= driver_max
                and len(dv_descriptors) <= 1024,
            )
            dels = dv_df if dels is None else dels.unionByName(dv_df)
        if dels is not None:
            if small_deletes:
                dels = F.broadcast(dels)
            df = df.join(dels, ["_fp", "_pos"], "left_anti")
        return df

    def _read_with_name_mapping(self, spark, files, schema: Schema, with_pos=False):
        """Read for tables carrying `schema.name-mapping.default`
        (ID-less files registered via add_files): each schema field may
        live under ANY of its mapped names in a given file (renames
        keep old physical names — ref name_mapping.go:144). Files are
        probed for their column names executor-side, grouped by the
        resulting field→file-column assignment (group count is bounded
        by schema versions, not files), and each group reads with its
        own physical schema then aliases to current names. Columns
        absent from a file read as null, matching ID-based resolution."""
        import pandas as pd
        from pyspark.sql import functions as F

        from . import fileio as _fileio
        from .sanitize import name_mapping_from_json
        from .types import spark_type

        import json as _json

        mapping = name_mapping_from_json(
            self.table.metadata.properties["schema.name-mapping.default"]
        )
        names_by_id = {m.field_id: list(m.names) for m in mapping}
        cfg = _fileio.env_config()
        uniq = sorted(set(files))
        files_df = spark.createDataFrame(
            [(p,) for p in uniq], "path string"
        ).repartition(min(len(uniq), 64))
        # the field→file-column assignment is computed executor-side so
        # only (path, small assignment key) crosses to the driver — the
        # driver already holds the O(files) path list from planning, but
        # never the per-file column inventories
        field_keys = [(f.field_id, f.name) for f in schema.fields]

        def probe(batches):
            import pyarrow.parquet as pq

            from . import fileio

            fileio.apply_config(cfg)
            for pdf in batches:
                rows = []
                for p in pdf["path"]:
                    with fileio.open_input(p) as f:
                        have = set(pq.read_schema(f).names)
                    out = []
                    for fid, name in field_keys:
                        if name in have:
                            out.append(name)
                        else:
                            out.append(
                                next(
                                    (n for n in names_by_id.get(fid, []) if n in have),
                                    None,  # column absent, read as null
                                )
                            )
                    rows.append({"path": p, "assign": _json.dumps(out)})
                yield pd.DataFrame(rows)

        groups: dict[tuple, list[str]] = {}
        for r in files_df.mapInPandas(probe, "path string, assign string").collect():
            groups.setdefault(tuple(_json.loads(r.assign)), []).append(r.path)

        parts = []
        for assign, paths in groups.items():
            ddl = ", ".join(
                f"`{src}` {spark_type(f.field_type)}"
                for src, f in zip(assign, schema.fields)
                if src is not None
            )
            g = spark.read.schema(ddl).parquet(*paths)
            cols = [
                (
                    F.col(f"`{src}`").alias(f.name)
                    if src is not None
                    else F.lit(None).cast(spark_type(f.field_type)).alias(f.name)
                )
                for src, f in zip(assign, schema.fields)
            ]
            if with_pos:
                # positional-MOR callers need (file, row) before the union
                cols += [
                    strip_scheme_col(F.col("_metadata.file_path")).alias("_fp"),
                    F.col("_metadata.row_index").alias("_pos"),
                ]
            parts.append(g.select(*cols))
        df = parts[0]
        for p_ in parts[1:]:
            df = df.unionByName(p_)
        return df

    def _apply_initial_defaults(self, spark, df, files, schema: Schema, fp_expr):
        """v3 field default values (initial-default): rows read from
        files that physically LACK a defaulted column take the default;
        files that contain the column keep their stored values,
        including explicit nulls (so this is when(missing, default),
        never coalesce). Which files lack which columns is probed from
        parquet footers executor-side — one footer read per file, only
        when the schema actually carries defaults — and joined back on
        file path, so no O(files) driver loop and no lit-list that
        would blow up at a million files."""
        defaults = [f for f in schema.fields if f.initial_default is not None]
        if not defaults:
            return df
        from pyspark.sql import functions as F

        from . import fileio as _fileio
        from .types import spark_type

        cfg = _fileio.env_config()
        # ID-less files may store a defaulted column under ANY of its
        # mapped (pre-rename) names — flagging by current name alone
        # would overwrite real stored values with the default
        from .reader import mapped_names

        alt_names = mapped_names(self.table.metadata.properties)
        want = [
            (f.field_id, f.name, sorted({f.name, *alt_names.get(f.field_id, [])}))
            for f in defaults
        ]
        uniq = sorted(set(files))
        files_df = spark.createDataFrame(
            [(p,) for p in uniq], "path string"
        ).repartition(min(len(uniq), 64))

        def probe(batches):
            import pandas as pd
            import pyarrow.parquet as pq

            from . import fileio
            from .reader import field_ids

            fileio.apply_config(cfg)
            for pdf in batches:
                rows = []
                for p in pdf["path"]:
                    with fileio.open_input(p) as f:
                        arrow_schema = pq.read_schema(f)
                    ids, names = field_ids(arrow_schema), set(arrow_schema.names)
                    row = {"path": p}
                    for fid, name, aliases in want:
                        present = (
                            fid in ids
                            if ids
                            else any(a in names for a in aliases)
                        )
                        row[f"_missing_{name}"] = not present
                    rows.append(row)
                yield pd.DataFrame(rows)

        flag_ddl = ", ".join(
            ["path string"] + [f"`_missing_{n}` boolean" for _, n, _a in want]
        )
        flags = files_df.mapInPandas(probe, flag_ddl).withColumn(
            "_dflt_fp",
            strip_scheme_col(F.col("path")),
        ).drop("path")
        df = df.join(flags, fp_expr == F.col("_dflt_fp"), "left")
        for f in defaults:
            df = df.withColumn(
                f.name,
                F.when(
                    F.col(f"_missing_{f.name}"),
                    F.lit(f.initial_default).cast(spark_type(f.field_type)),
                ).otherwise(F.col(f.name)),
            )
        return df.drop("_dflt_fp", *[f"_missing_{n}" for _, n, _a in want])

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

        from . import fileio as _fileio

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
            return spark.createDataFrame(tbl.to_pandas(), "_fp string, _pos long")

        fileio_cfg = _fileio.env_config()
        desc_df = spark.createDataFrame(
            [(t, p, int(o), int(s)) for t, p, o, s in descriptors],
            "target string, dv_path string, offset long, size long",
        ).repartition(min(len(descriptors), 64))

        def decode(batches):
            import re

            from . import fileio, puffin

            fileio.apply_config(fileio_cfg)
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

        return desc_df.mapInArrow(decode, "_fp string, _pos long")

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
        """DataFrame-fed scan execution for very wide file sets —
        VERDICT r12 task 1 (the last unproven 100× leg) — and the
        per-file Arrow fallback for URIs the JVM has no FileSystem for.

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

        Semantics match the JVM field-id read (reader.py):
          * columns resolve BY FIELD ID (rename-safe); files with no
            ids resolve through the table's name mapping when one is
            declared (add_files imports — any mapped pre-rename name
            counts, per-file, the same rule _read_with_name_mapping
            applies group-wise), else by current name;
          * physically missing columns fill with the field's
            initial-default (v3) or null — the same when(missing,
            default) rule `_apply_initial_defaults` applies, evaluated
            in-task where file identity is free;
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

        import pandas as pd

        from . import fileio as _fileio
        from .reader import mapped_names as _mapped_names
        from .reader import read_fields
        from .types import schema_to_spark_struct

        fileio_cfg = _fileio.env_config()
        par = spark.sparkContext.defaultParallelism
        if files_df is None:
            # one Arrow batch to the JVM — never a py4j argument list
            cols = {"data_file": files}
            ddl = "data_file string"
            if deletes is not None:
                cols["deletes"] = [json.dumps(d) for d in deletes]
                ddl += ", deletes string"
            files_df = spark.createDataFrame(pd.DataFrame(cols), ddl)
            files_df = files_df.repartition(min(len(files), max(64, par * 4)))
        else:
            # pre-built paths frame (the streaming plan→read route):
            # this repartition shuffles PATH STRINGS only, never data
            files_df = files_df.repartition(max(64, par * 4))

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

            from . import fileio
            from .expressions import extract_field_names, to_arrow_expression
            from .reader import delete_positions, read_file

            fileio.apply_config(fileio_cfg)
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

        return files_df.mapInArrow(read_task, out_struct)


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
        {col: sql_expr}) — see write.merge."""
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
        return spark.createDataFrame(
            rows,
            "snapshot_id bigint, parent_id bigint, sequence_number bigint, "
            "committed_at_ms bigint, manifest_list string, operation string",
        )

    def inspect_manifests(self, spark):
        snap = self.current_snapshot()
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
            for m in (snap.manifests() if snap else [])
        ]
        return spark.createDataFrame(
            rows,
            "path string, length bigint, partition_spec_id int, content int, "
            "added_snapshot_id bigint, added_data_files_count int, "
            "existing_data_files_count int, deleted_data_files_count int, "
            "added_rows_count bigint",
        )

    # distribute per-entry metadata tables at the same manifest count
    # the planner fans out at — a million-file snapshot's `files` table
    # would otherwise decode every manifest SEQUENTIALLY on the driver
    def _inspect_fanout(self, spark, work_rows, decode, out_ddl):
        """Decode manifest entries into metadata-table rows: executor
        fan-out (mapInPandas over manifests, like the distributed
        planner) when the snapshot has >= read.distributed-planning.
        min-manifests manifests; otherwise None (caller decodes on the
        driver)."""
        try:
            min_manifests = int(
                self.metadata.properties.get(
                    "read.distributed-planning.min-manifests", "64"
                )
            )
        except (TypeError, ValueError):
            min_manifests = 64
        if min_manifests <= 0 or len(work_rows) < min_manifests:
            return None
        from . import fileio as _fileio

        cfg = _fileio.env_config()
        work = spark.createDataFrame(
            work_rows, "path string, seq bigint, spec_id int"
        ).repartition(min(len(work_rows), 64))

        def task(batches):
            import pandas as pd

            from . import fileio

            fileio.apply_config(cfg)
            for pdf in batches:
                out = []
                for _, row in pdf.iterrows():
                    out.extend(decode(row.path, int(row.seq), int(row.spec_id)))
                yield pd.DataFrame(
                    out,
                    columns=[c.split()[0] for c in out_ddl.split(", ")],
                )

        return work.mapInPandas(task, out_ddl)

    def inspect_files(self, spark):
        snap = self.current_snapshot()
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

        if snap is not None:
            manifests = snap.manifests()
            fanned = self._inspect_fanout(
                spark,
                [(m.manifest_path, m.sequence_number, m.partition_spec_id) for m in manifests],
                decode,
                ddl,
            )
            if fanned is not None:
                return fanned
        rows = []
        if snap is not None:
            for m in snap.manifests():
                rows.extend(decode(m.manifest_path, 0, 0))
        return spark.createDataFrame(rows, ddl)

    def inspect_entries(self, spark):
        """Manifest entries of the current snapshot with their status
        and sequence numbers (the `entries` metadata table)."""
        snap = self.current_snapshot()
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

        if snap is not None:
            manifests = snap.manifests()
            fanned = self._inspect_fanout(
                spark,
                [(m.manifest_path, m.sequence_number, m.partition_spec_id) for m in manifests],
                decode,
                ddl,
            )
            if fanned is not None:
                return fanned
        rows = []
        if snap is not None:
            for m in snap.manifests():
                rows.extend(decode(m.manifest_path, m.sequence_number, 0))
        return spark.createDataFrame(rows, ddl)

    def inspect_partitions(self, spark):
        """Per-partition rollup of the current snapshot (the
        `partitions` metadata table): live data-file count, record
        count, and bytes per distinct partition tuple. The per-file
        rows fan out across executors on wide snapshots; the rollup is
        a plain Spark aggregate either way."""
        snap = self.current_snapshot()
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

        base = None
        if snap is not None:
            data_manifests = [
                m for m in snap.manifests() if m.content == ManifestContent.DATA
            ]
            base = self._inspect_fanout(
                spark,
                [
                    (m.manifest_path, m.sequence_number, m.partition_spec_id)
                    for m in data_manifests
                ],
                decode,
                ddl,
            )
            if base is None:
                rows = []
                for m in data_manifests:
                    rows.extend(
                        decode(m.manifest_path, 0, m.partition_spec_id)
                    )
                base = spark.createDataFrame(rows, ddl)
        else:
            base = spark.createDataFrame([], ddl)
        from pyspark.sql import functions as F

        return base.groupBy("partition", "spec_id").agg(
            F.count("*").alias("file_count"),
            F.sum("record_count").alias("record_count"),
            F.sum("file_size_in_bytes").alias("total_size_bytes"),
        )

    def inspect_history(self, spark):
        rows = [(e.timestamp_ms, e.snapshot_id) for e in self.metadata.snapshot_log]
        return spark.createDataFrame(rows, "made_current_at_ms bigint, snapshot_id bigint")

    def inspect_refs(self, spark):
        rows = [
            (name, r.snapshot_ref_type, r.snapshot_id)
            for name, r in self.metadata.refs.items()
        ]
        return spark.createDataFrame(rows, "name string, type string, snapshot_id bigint")


def _distributed_prune_frame(scan: Scan, spark):
    """The executor side of distributed planning WITHOUT the driver
    collect: manifest-level pruning (level 2) on the driver, then one
    mapInPandas job entry-decodes + prunes (levels 3+4) and returns a
    DataFrame of surviving descriptors — (kind, seq, descriptor JSON).
    `plan_files_distributed` collects it into FileScanTasks; the
    STREAMING read path (Scan._stream_plan_route) instead feeds the
    frame's file paths straight into the distributed Arrow reader, so
    a full-table scan of a million files never materializes a
    million descriptors on the driver (r13; the 1M-file probe measured
    the collect at ~140 s and 2.9 GB driver RSS).

    Returns (frame, n_delete_manifests) — None frame when the snapshot
    is empty or nothing survives manifest pruning."""
    import pandas as pd

    from .evaluators import (
        expression_evaluator,
        inclusive_metrics_evaluator,
        inclusive_projection,
        manifest_evaluator,
        metrics_field_ids,
    )
    from .write import _encode_descriptor

    md = scan.table.metadata
    snap = scan.snapshot()
    if snap is None:
        return None, 0
    schema = scan._scan_schema()
    all_manifests = snap.manifests()
    manifests = [m for m in all_manifests if m.content == ManifestContent.DATA]
    delete_manifests = [
        m for m in all_manifests if m.content == ManifestContent.DELETES
    ]

    # driver side: manifest-level pruning only (evaluators per spec id)
    spec_by_id = {m.partition_spec_id: md.spec_by_id(m.partition_spec_id) for m in manifests}
    man_eval_by_spec = {}
    for spec_id, spec in spec_by_id.items():
        proj = inclusive_projection(schema, spec, scan.case_sensitive)(scan.row_filter)
        man_eval_by_spec[spec_id] = manifest_evaluator(
            spec, schema, proj, scan.case_sensitive
        )
    survivors = [m for m in manifests if man_eval_by_spec[m.partition_spec_id](m)]
    if not survivors:
        return None, 0

    # delete manifests gated by the lower bound on any surviving data
    # entry's sequence number (manifest min_sequence_number): a delete
    # older than every data entry can never apply — ref scanner.go:268-281
    min_data_seq = min(m.min_sequence_number or 0 for m in survivors)
    live_delete_manifests = [
        m for m in delete_manifests if m.sequence_number >= min_data_seq
    ]

    row_filter = scan.row_filter
    case_sensitive = scan.case_sensitive
    schema_p = schema
    spec_by_id_p = spec_by_id

    # one executor job reads BOTH kinds: data manifests get entry-level
    # pruning (levels 3+4); delete manifests just decode their entries.
    # The driver then runs the same sequence-gated matching the local
    # planner uses, but over O(matching + delete files) descriptors, not
    # O(all entries) — the manifest reads themselves were distributed.
    work = spark.createDataFrame(
        [
            (m.manifest_path, m.partition_spec_id, m.sequence_number, 0, m.first_row_id)
            for m in survivors
        ]
        + [
            (m.manifest_path, m.partition_spec_id, m.sequence_number, 1, None)
            for m in live_delete_manifests
        ],
        "path string, spec_id int, seq bigint, is_delete int, first_row_id bigint",
    ).repartition(min(len(survivors) + len(live_delete_manifests), 64))

    from . import fileio as _fileio

    fileio_cfg = _fileio.env_config()

    def prune(batches):
        from . import fileio
        from .manifest import read_manifest, scan_manifest

        fileio.apply_config(fileio_cfg)
        metrics_eval = inclusive_metrics_evaluator(schema_p, row_filter, case_sensitive)
        stats_ids = metrics_field_ids(schema_p, row_filter, case_sensitive)
        part_evals = {}
        kinds, seqs, out = [], [], []
        for pdf in batches:
            for _, row in pdf.iterrows():
                if row.is_delete:
                    for e in read_manifest(
                        row.path, inherit_sequence_number=int(row.seq)
                    ):
                        kinds.append(1)
                        seqs.append(e.sequence_number or 0)
                        out.append(_encode_descriptor(e.data_file))
                    continue
                spec = spec_by_id_p[row.spec_id]
                if row.spec_id not in part_evals:
                    proj = inclusive_projection(schema_p, spec, case_sensitive)(row_filter)
                    part_schema = Schema(0, spec.partition_type(schema_p).fields)
                    part_evals[row.spec_id] = expression_evaluator(
                        part_schema, proj, case_sensitive
                    )
                part_eval = part_evals[row.spec_id]
                frid = None if pd.isna(row.first_row_id) else int(row.first_row_id)
                # evaluate on the worker's cached column block, build
                # survivors only (same filtered-read shape as the local
                # planner's entries_of)
                for e in scan_manifest(
                    row.path,
                    lambda b: b.partition_mask(part_eval) & metrics_eval(b),
                    inherit_sequence_number=int(row.seq),
                    inherit_first_row_id=frid,
                    stats_ids=stats_ids,
                ):
                    kinds.append(0)
                    seqs.append(e.sequence_number or 0)
                    out.append(_encode_descriptor(e.data_file))
        yield pd.DataFrame({"kind": kinds, "seq": seqs, "descriptor": out})

    frame = work.mapInPandas(prune, "kind int, seq bigint, descriptor string")
    return frame, len(live_delete_manifests)


def plan_files_distributed(scan: Scan, spark) -> list[FileScanTask]:
    """Distributed scan planning — SURVEY P4: when a snapshot's manifest
    set exceeds driver memory, entry-level pruning (levels 3+4) runs in
    executors via mapInPandas over manifest paths; the driver keeps only
    manifest-level pruning (level 2, O(manifests)) and receives the
    surviving DataFile descriptors (O(matching files)).

    Pure-Python codec + evaluators ship to executors as pickled
    closures; no Avro package or JVM reader is needed. Returns the same
    tasks as Scan.plan_files (asserted by tests), so callers can switch
    on snapshot size. Full-table scans of very wide snapshots can skip
    this collect entirely — Scan._stream_plan_route feeds the pruned
    frame straight into the distributed Arrow reader."""
    frame, _n_del = _distributed_prune_frame(scan, spark)
    if frame is None:
        return []
    return _descriptor_rows_to_tasks(frame.collect())


def _descriptor_rows_to_tasks(rows) -> list[FileScanTask]:
    """Collected (kind, seq, descriptor) prune-frame rows →
    FileScanTasks with sequence-gated delete matching — shared by
    `plan_files_distributed` and the streaming route's collected
    fallback (which reuses its persisted frame instead of re-planning)."""
    from .write import _decode_descriptor

    data_rows = [(r.seq, _decode_descriptor(r.descriptor)) for r in rows if r.kind == 0]
    delete_rows = sorted(
        ((r.seq, _decode_descriptor(r.descriptor)) for r in rows if r.kind == 1),
        key=lambda t: t[0],
    )

    match = build_delete_matcher(delete_rows)
    tasks: list[FileScanTask] = []
    for e_seq, dfile in data_rows:
        tasks.append(
            FileScanTask(
                file=dfile,
                delete_files=match(e_seq, dfile.file_path),
                data_sequence_number=e_seq,
            )
        )
    return tasks


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
_PRUNE_FRAME_MEMO: dict = {}
_PRUNE_FRAME_MEMO_MAX = 4


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
    frame, n_del = _distributed_prune_frame(scan, spark)
    if frame is not None:
        frame = _keep_persisted(frame)
    _PRUNE_FRAME_MEMO[key] = (frame, n_del)
    while len(_PRUNE_FRAME_MEMO) > _PRUNE_FRAME_MEMO_MAX:
        _PRUNE_FRAME_MEMO.pop(next(iter(_PRUNE_FRAME_MEMO)))
    return frame, n_del
