"""Table maintenance: orphan-file cleanup, manifest merging, metadata
housekeeping, location providers.

  - delete_orphan_files   — ref table/orphan_cleanup.go:164-456
  - merge_manifests       — ref table/snapshot_producers.go:245-418
                            (merge-append bin-packing: 8MB target,
                            min-count 100 — commit.manifest.* props)
  - location providers    — ref table/locations.go:38-171 (simple vs
                            object-store hashed paths)
"""

from __future__ import annotations

import os
import time
import urllib.parse
from concurrent.futures import ThreadPoolExecutor
from typing import Optional

from .manifest import (
    ManifestContent,
    ManifestEntry,
    ManifestEntryStatus,
    read_manifest,
    write_manifest,
)

MANIFEST_MERGE_ENABLED = "commit.manifest-merge.enabled"
MANIFEST_TARGET_SIZE = "commit.manifest.target-size-bytes"  # default 8MB
MANIFEST_MIN_MERGE_COUNT = "commit.manifest.min-count-to-merge"  # default 100
OBJECT_STORE_ENABLED = "write.object-storage.enabled"


# ------------------------------------------------------------------ orphans

def _statistics_paths(md) -> set[str]:
    """Paths of table-statistics puffins and partition-statistics files
    tracked in metadata (spec: `statistics-path` on both entry kinds)."""
    out: set[str] = set()
    for entry in list(md.statistics) + list(md.partition_statistics):
        p = entry.get("statistics-path") if isinstance(entry, dict) else None
        if p:
            out.add(p)
    return out


def referenced_files(table) -> set[str]:
    """Every file any snapshot can reach — ref orphan_cleanup.go:229
    (getReferencedFiles): data files, manifests, manifest lists,
    metadata JSONs (current + log), statistics files."""
    refs: set[str] = {table.metadata_location}
    refs |= _statistics_paths(table.metadata)
    for entry in table.metadata.metadata_log:
        refs.add(entry.metadata_file)
    for snap in table.metadata.snapshots:
        refs.add(snap.manifest_list)
        for m in snap.manifests():
            refs.add(m.manifest_path)
            for e in read_manifest(m.manifest_path, discard_deleted=False):
                refs.add(e.data_file.file_path)
    return refs


def _normalize(p: str) -> str:
    """Scheme/authority-insensitive comparison — ref orphan_cleanup.go
    URI normalization (file:///a == /a)."""
    u = urllib.parse.urlparse(p)
    return u.path if u.scheme in ("", "file") else p


_PROTECTED_SUFFIXES = (".lock", ".flock")


def _is_protected(filename: str) -> bool:
    # never touch catalog control files: the version hint and lock
    # files (unlinking a held .flock would let two racing commits lock
    # DIFFERENT inodes, voiding the CAS)
    return filename == "version-hint.text" or filename.endswith(_PROTECTED_SUFFIXES)


def delete_orphan_files(
    table,
    older_than_ms: Optional[int] = None,
    dry_run: bool = False,
    concurrency: int = 8,
    spark=None,
) -> list[str]:
    """List the table location, diff against referenced files, delete
    unreferenced files older than the cutoff (default 3 days, matching
    the reference's safety default). Returns the orphan list.

    Two execution shapes:
      * `spark=None` — driver-side os.walk + set diff. LOCAL locations
        only (an object-store URI would silently list nothing and
        report zero orphans, so it raises instead); fine at test scale.
      * `spark=...` — the 100 TB shape: executors LIST the location
        (one recursive pyarrow-FS listing task per second-level prefix,
        so a million-file data/ dir fans out across the cluster) and
        READ every manifest for its referenced paths; the diff is a
        Spark left-anti join, and only the O(orphans) result returns to
        the driver. Works on any fileio-supported location (local, S3,
        GCS, Azure)."""
    cutoff = older_than_ms if older_than_ms is not None else int(time.time() * 1000) - 3 * 86400_000
    location = table.location
    if spark is not None:
        return _delete_orphans_distributed(
            table, spark, cutoff, dry_run, concurrency
        )
    from . import fileio

    if not fileio.is_local(location):
        raise ValueError(
            f"driver-side orphan listing cannot walk {location!r}; pass "
            "spark= for the distributed listing (os.walk on an object-"
            "store URI would silently report zero orphans)"
        )
    refs = {_normalize(p) for p in referenced_files(table)}
    orphans: list[str] = []
    for root, _dirs, files in os.walk(location):
        for fn in files:
            if _is_protected(fn):
                continue
            p = os.path.join(root, fn)
            if _normalize(p) in refs:
                continue
            try:
                mtime_ms = int(os.path.getmtime(p) * 1000)
            except OSError:
                continue
            if mtime_ms < cutoff:
                orphans.append(p)
    if not dry_run and orphans:
        with ThreadPoolExecutor(max_workers=concurrency) as pool:
            list(pool.map(lambda p: os.path.exists(p) and os.unlink(p), orphans))
    return sorted(orphans)


def _location_fs(location: str):
    """(pyarrow FileSystem, fs-native root path, scheme_prefix) for any
    supported location. scheme_prefix restores a user-facing URI from an
    fs-native path (empty for local)."""
    from pyarrow import fs as pafs

    from . import fileio

    if fileio.is_local(location):
        return pafs.LocalFileSystem(), fileio.local_path(location), ""
    fs, root = fileio.resolve(location)
    scheme = location.split("://", 1)[0] + "://"
    return fs, root, scheme


def _delete_orphans_distributed(table, spark, cutoff, dry_run, concurrency):
    """Executor-side listing + manifest reads, Spark anti-join diff."""
    from pyarrow import fs as pafs

    from . import fileio
    from .table import _map_rows, _rows_frame, strip_scheme

    location = table.location
    fs, root, scheme = _location_fs(location)
    is_local = scheme == ""

    # partition the listing work: second-level prefixes (data/<dir>,
    # metadata/<dir>, ...) discovered with two shallow driver LISTs —
    # O(dirs), not O(files) — so executors each walk one subtree
    prefixes: list[str] = []
    shallow_files: list[tuple[str, int]] = []

    def shallow(dirpath, collect_dirs):
        try:
            infos = fs.get_file_info(pafs.FileSelector(dirpath, recursive=False))
        except (OSError, FileNotFoundError):
            return
        for fi in infos:
            if fi.type == pafs.FileType.Directory:
                collect_dirs.append(fi.path)
            elif fi.type == pafs.FileType.File:
                shallow_files.append(
                    (fi.path, _mtime_ms(fi))
                )

    level1: list[str] = []
    shallow(root, level1)
    for d in level1:
        shallow(d, prefixes)

    if not prefixes and not shallow_files:
        return []
    listing = _rows_frame(spark, shallow_files, "path string, mtime_ms long")
    if prefixes:

        def list_prefix(batches):
            import pyarrow as pa
            from pyarrow import fs as pafs2

            from . import fileio as fio

            if is_local:
                lfs = pafs2.LocalFileSystem()
            else:
                lfs, _ = fio.resolve(location)
            for batch in batches:
                paths, mtimes = [], []
                for prefix in batch.column("prefix").to_pylist():
                    try:
                        infos = lfs.get_file_info(
                            pafs2.FileSelector(prefix, recursive=True)
                        )
                    except (OSError, FileNotFoundError):
                        continue
                    for fi in infos:
                        if fi.type == pafs2.FileType.File:
                            paths.append(fi.path)
                            mtimes.append(_mtime_ms(fi))
                yield pa.record_batch(
                    {"path": pa.array(paths, pa.string()),
                     "mtime_ms": pa.array(mtimes, pa.int64())}
                )

        listing = listing.unionByName(
            _map_rows(
                spark, [(p,) for p in sorted(prefixes)], "prefix string",
                list_prefix, "path string, mtime_ms long",
            )
        )

    # referenced paths: driver knows the metadata-plane files (O(snapshots
    # + manifests)); executors read each manifest once for its data/delete
    # file paths — the O(entries) work never touches the driver
    meta_refs = {strip_scheme(table.metadata_location)}
    meta_refs |= {strip_scheme(p) for p in _statistics_paths(table.metadata)}
    for entry in table.metadata.metadata_log:
        meta_refs.add(strip_scheme(entry.metadata_file))
    manifest_paths: set[str] = set()
    for snap in table.metadata.snapshots:
        meta_refs.add(strip_scheme(snap.manifest_list))
        for m in snap.manifests():
            meta_refs.add(strip_scheme(m.manifest_path))
            manifest_paths.add(m.manifest_path)

    refs = _rows_frame(spark, [(p,) for p in sorted(meta_refs)], "ref string")
    if manifest_paths:

        def read_refs(batches):
            import pyarrow as pa

            from .manifest import read_manifest as rm
            from .table import strip_scheme as strip

            for batch in batches:
                out = [
                    strip(e.data_file.file_path)
                    for mp in batch.column("path").to_pylist()
                    for e in rm(mp, discard_deleted=False)
                ]
                yield pa.record_batch({"ref": pa.array(out, pa.string())})

        refs = refs.unionByName(
            _map_rows(
                spark, [(p,) for p in sorted(manifest_paths)], "path string",
                read_refs, "ref string",
            )
        )

    from pyspark.sql import functions as F

    protected = F.col("_name") == "version-hint.text"
    for suf in _PROTECTED_SUFFIXES:
        protected = protected | F.col("_name").endswith(suf)
    candidates = (
        listing.withColumn(
            "_name", F.element_at(F.split(F.col("path"), "/"), -1)
        )
        .where(~protected)
        .where(F.col("mtime_ms") < F.lit(cutoff))
        .drop("_name")
    )
    # pafs listing paths are scheme-less already; refs were stripped
    orphan_rows = candidates.join(
        refs, candidates["path"] == refs["ref"], "left_anti"
    ).collect()
    orphans = sorted(scheme + r.path if scheme else r.path for r in orphan_rows)
    if not dry_run and orphans:
        with ThreadPoolExecutor(max_workers=concurrency) as pool:

            def rm_one(p):
                try:
                    fileio.remove(p)
                except (OSError, FileNotFoundError):
                    pass

            list(pool.map(rm_one, orphans))
    return orphans


def _mtime_ms(fi) -> int:
    """FileInfo mtime in epoch ms; unknown mtimes report as NOW so the
    age cutoff never deletes a file whose age cannot be established."""
    mt = getattr(fi, "mtime", None)
    if mt is None:
        return int(time.time() * 1000)
    return int(mt.timestamp() * 1000)


# ----------------------------------------------------------- manifest merge

def merge_manifests(table, target_size_bytes: Optional[int] = None, min_count: Optional[int] = None) -> bool:
    """Bin-pack small data manifests of the current snapshot into merged
    manifests — ref snapshot_producers.go:245-373 (mergeManager). A new
    snapshot ('replace') referencing the merged manifests is committed.
    Returns True if a merge happened."""
    from .write import _commit_manifests, begin_distributed_snapshot

    md = table.metadata
    props = md.properties
    target = target_size_bytes or int(props.get(MANIFEST_TARGET_SIZE, str(8 * 1024 * 1024)))
    minc = min_count if min_count is not None else int(props.get(MANIFEST_MIN_MERGE_COUNT, "100"))
    snap = md.current_snapshot()
    if snap is None:
        return False
    manifests = snap.manifests()
    data_m = [m for m in manifests if m.content == ManifestContent.DATA]
    other_m = [m for m in manifests if m.content != ManifestContent.DATA]
    small = [m for m in data_m if m.manifest_length < target]
    if len(small) < minc:
        return False

    # Bin-pack small manifests into ≥target groups (greedy by size), but
    # never mix partition specs in one bin: a merged manifest is written
    # under a single spec, and re-keying a foreign-spec entry's partition
    # tuple by that spec's field names would silently null its partition
    # values (and then wrongly prune the file at scan time). The reference
    # groups per spec before merging — ref snapshot_producers.go:255-257.
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
    # single-manifest bins gain nothing from a rewrite — keep them as-is
    singletons = [b[0] for b in bins if len(b) == 1]
    bins = [b for b in bins if len(b) > 1]
    if not bins:
        return False

    ds = begin_distributed_snapshot(table)
    merged = []
    schema = md.current_schema()
    for i, group in enumerate(bins):
        entries: list[ManifestEntry] = []
        spec_id = group[0].partition_spec_id
        for m in group:
            # v3: materialize each file's inherited first_row_id into the
            # merged manifest — without this the merged manifest (null
            # first_row_id) would be assigned a FRESH range at the next
            # manifest-list write, silently renumbering every row's
            # _row_id. The merged ManifestFile itself stays null, so the
            # list writer allocates a covering (unused) range — burned
            # ids are safe, reused ids are not.
            for e in read_manifest(
                m.manifest_path,
                inherit_sequence_number=m.sequence_number,
                inherit_first_row_id=m.first_row_id,
            ):
                e.status = ManifestEntryStatus.EXISTING
                entries.append(e)
        path = os.path.join(md.location, "metadata", f"{ds.commit_uuid}-merged-m{i}.avro")
        mf = write_manifest(path, md.spec_by_id(spec_id), schema, ds.snapshot_id, entries)
        mf.sequence_number = min(m.sequence_number for m in group)
        mf.min_sequence_number = min(m.min_sequence_number for m in group)
        merged.append(mf)

    keep = [m for m in data_m if m.manifest_length >= target] + singletons + other_m
    n_merged = sum(len(b) for b in bins)
    _commit_manifests(
        table,
        [],
        merged + keep,
        operation="replace",
        extra_summary={"manifests-merged": str(n_merged)},
        snapshot_id=ds.snapshot_id,
        commit_uuid=ds.commit_uuid,
        parent_snapshot_id=ds.parent_snapshot_id,
    )
    return True


# ------------------------------------------------- deletion-vector compaction

def rewrite_position_deletes(
    table,
    spark,
    target_file_size: Optional[int] = None,
    min_input_files: int = 2,
) -> bool:
    """Consolidate deletion-vector puffin files — the DV analogue of the
    reference's delete maintenance (Spark's rewrite_position_deletes
    procedure; ref table/properties.go delete-file sizing intent).

    A steady delete stream writes one small puffin file per delete_where
    per touched task, so live DVs end up scattered over many tiny files
    even though the spec keeps at most one DV *blob* per data file.
    This pass repacks every live DV blob into at most
    n = ceil(total bytes / target) puffin files and replaces the delete
    manifests with ONE consolidated manifest — no data files are
    rewritten and no delete is re-derived. The blobs' work rows run as
    n tasks (at most one per blob), one puffin each, not sized by bytes.

    Correctness-critical: each blob keeps its ORIGINAL data sequence
    number and snapshot id (entry-level, explicit in the new manifest)
    — the scan's `delete.seq >= data.seq` gate must keep producing
    exactly the same matches, so a consolidated DV never leaks onto a
    data file compacted/added after the delete. Executor work is
    decode+re-encode of roaring bitmaps (O(deleted positions) per task);
    the driver only ever sees O(files) descriptors.

    Also sweeps DANGLING deletion vectors — DVs whose referenced data
    file is no longer live (compaction rewrote it): they can never match
    again, but they inflate total-position-deletes and every scan's
    delete-manifest read until removed (the remove-dangling-deletes half
    of Spark's rewrite_position_deletes procedure). The liveness check
    rides `scan().plan_files()`, so it auto-routes through distributed
    planning on large snapshots.

    Returns True if a consolidation snapshot was committed."""
    import json as _json
    import math

    from .manifest import (
        ManifestContent,
        ManifestEntry,
        ManifestEntryStatus,
        read_manifest,
        write_manifest,
    )
    from .write import (
        _commit_manifests,
        _encode_partition,
        begin_distributed_snapshot,
    )

    md = table.metadata
    snap = md.current_snapshot()
    if snap is None:
        return False
    target = target_file_size or int(
        md.properties.get("write.delete.target-file-size-bytes", str(64 * 1024 * 1024))
    )
    delete_m = [m for m in snap.manifests() if m.content == ManifestContent.DELETES]
    keep = [m for m in snap.manifests() if m.content != ManifestContent.DELETES]
    if not delete_m:
        return False

    dv_rows = []  # one row per live DV blob
    mixed_rewrites = []  # (manifest, non-DV entries) needing a rewrite
    for m in delete_m:
        entries = read_manifest(m.manifest_path, inherit_sequence_number=m.sequence_number)
        dvs = [e for e in entries if e.data_file.content_offset is not None]
        others = [e for e in entries if e.data_file.content_offset is None]
        for e in dvs:
            d = e.data_file
            dv_rows.append(
                (
                    d.referenced_data_file,
                    d.file_path,
                    int(d.content_offset),
                    int(d.content_size_in_bytes),
                    int(d.record_count),
                    int(e.sequence_number or 0),
                    int(e.file_sequence_number or e.sequence_number or 0),
                    int(e.snapshot_id or snap.snapshot_id),
                    # spec-required: a position-delete entry carries the
                    # referenced data file's partition tuple; preserve it
                    # (and its spec id) verbatim through the repack
                    _json.dumps(_encode_partition(d.partition or {})),
                    int(m.partition_spec_id),
                )
            )
        if dvs and others:
            mixed_rewrites.append((m, others))
        elif others:
            keep.append(m)  # no DVs — carry untouched
        # all-DV manifests are dropped (replaced by the consolidated one)

    if not dv_rows:
        return False
    # dangling sweep: a DV whose referenced data file is gone can never
    # match again — drop it instead of repacking it (plan_files_auto
    # routes the manifest reads through executors on large snapshots)
    live_paths = {t.file.file_path for t in table.scan().plan_files_auto(spark)}
    dangling = [r for r in dv_rows if r[0] not in live_paths]
    live_rows = [r for r in dv_rows if r[0] in live_paths]

    src_puffins = {r[1] for r in dv_rows}
    total_bytes = sum(r[3] for r in live_rows)
    n_out = max(1, math.ceil(total_bytes / target))
    if not dangling and len(src_puffins) < max(min_input_files, n_out + 1):
        return False  # already as consolidated as the target allows

    ds = begin_distributed_snapshot(table)
    location = md.location
    commit_uuid = ds.commit_uuid

    def task(batches):
        import pyarrow as pa

        from .puffin import write_dv_file
        from .write import _dv_pointer

        recs = [r for batch in batches for r in batch.to_pylist()]
        written = write_dv_file(
            location, commit_uuid, "dv-rewrite",
            [(r["data_file"], (), _dv_pointer(r), r["part"]) for r in recs],
        )
        out = [(r["row"], w[0]) for r, w in zip(recs, written) if w]
        if out:
            yield pa.record_batch(
                {
                    "row": pa.array([o[0] for o in out], pa.int32()),
                    "descriptor": pa.array([o[1] for o in out], pa.string()),
                }
            )

    from .table import _map_rows
    from .write import _DV_WORK_DDL, _decode_descriptor

    schema = md.current_schema()
    new_entries = []
    carried = list(keep)
    if live_rows:
        # one puffin per task
        collected = _map_rows(
            spark,
            [(r[0], r[1], r[2], r[3], r[8], i) for i, r in enumerate(live_rows)],
            _DV_WORK_DDL + ", row int",
            task,
            "row int, descriptor string",
            tasks=n_out,
        ).toArrow()
        by_spec: dict = {}
        for i, desc in zip(
            collected.column("row").to_pylist(),
            collected.column("descriptor").to_pylist(),
        ):
            r = live_rows[i]
            e = ManifestEntry(
                status=ManifestEntryStatus.EXISTING,
                snapshot_id=r[7],
                sequence_number=r[5],
                file_sequence_number=r[6],
                data_file=_decode_descriptor(desc),
            )
            new_entries.append(e)
            by_spec.setdefault(r[9], []).append(e)
        assert len(new_entries) == len(live_rows), "a DV blob went missing in repack"

        # one consolidated manifest PER SPEC ID: entries keep their
        # original partition tuples, and a manifest never mixes specs
        for i, (spec_id, entries) in enumerate(sorted(by_spec.items())):
            path = os.path.join(
                md.location, "metadata", f"{commit_uuid}-dv-consolidated-m{i}.avro"
            )
            mf = write_manifest(
                path, md.spec_by_id(spec_id), schema, snap.snapshot_id, entries,
                content=ManifestContent.DELETES,
            )
            # entry-level sequence numbers are explicit (EXISTING);
            # manifest-level bounds must still gate correctly
            mf.sequence_number = max(e.sequence_number for e in entries)
            mf.min_sequence_number = min(e.sequence_number for e in entries)
            carried.append(mf)
    for m, others in mixed_rewrites:
        for e in others:
            e.status = ManifestEntryStatus.EXISTING
        p = os.path.join(
            md.location, "metadata", f"{commit_uuid}-dvkeep-{len(carried)}.avro"
        )
        spec = md.spec_by_id(m.partition_spec_id)
        kept_mf = write_manifest(
            p, spec, schema, snap.snapshot_id, others, content=ManifestContent.DELETES
        )
        kept_mf.sequence_number = m.sequence_number
        kept_mf.min_sequence_number = m.min_sequence_number
        carried.append(kept_mf)

    n_new_puffins = len({e.data_file.file_path for e in new_entries})
    # added/removed pairs feed update_snapshot_totals: the live blobs
    # net to zero, the dangling ones leave total-position-deletes /
    # total-delete-files for good
    _commit_manifests(
        table,
        [],
        carried,
        operation="replace",
        extra_summary={
            "rewritten-delete-files": str(len(src_puffins)),
            "consolidated-puffin-files": str(n_new_puffins),
            "removed-dangling-deletes": str(len(dangling)),
            "added-delete-files": str(len(new_entries)),
            "removed-delete-files": str(len(dv_rows)),
            "added-position-deletes": str(
                sum(e.data_file.record_count for e in new_entries)
            ),
            "removed-position-deletes": str(sum(r[4] for r in dv_rows)),
            "added-files-size": str(
                sum(e.data_file.content_size_in_bytes for e in new_entries)
            ),
            "removed-files-size": str(sum(r[3] for r in dv_rows)),
        },
        snapshot_id=ds.snapshot_id,
        commit_uuid=ds.commit_uuid,
        parent_snapshot_id=ds.parent_snapshot_id,
    )
    return True


# ------------------------------------------------------- location providers

def simple_location(table_location: str, partition_path: str, filename: str) -> str:
    """<loc>/data/<partition>/<file> — ref locations.go:38-76."""
    parts = [table_location, "data"]
    if partition_path:
        parts.append(partition_path)
    parts.append(filename)
    return os.path.join(*parts)


def object_store_location(table_location: str, partition_path: str, filename: str) -> str:
    """Base2 entropy dirs spread object-store prefixes —
    ref locations.go:114-160 (objectStoreLocationProvider). The hash is
    over the data-file name, rendered as 4 x 4-bit binary dirs."""
    from .transforms import murmur3_32

    h = murmur3_32(filename.encode("utf-8"))
    dirs = "/".join(format((h >> (28 - 4 * i)) & 0xF, "04b") for i in range(4))
    parts = [table_location, "data", dirs]
    if partition_path:
        parts.append(partition_path)
    parts.append(filename)
    return os.path.join(*parts)


# --------------------------------------------------- partition statistics

def compute_partition_statistics(table) -> dict:
    """Compute the spec's partition-statistics file for the current
    snapshot and commit a SetPartitionStatistics entry — ref
    table/statistics.go:79-87 (PartitionStatisticsFile).

    One parquet file of per-partition rollups (partition struct,
    spec_id, data file/record/byte counts, delete-file counts,
    last-updated snapshot), sorted by partition for reader-side binary
    search. Driver cost is O(live files) descriptor iteration — the
    same order as scan planning — and no row data is touched.
    """
    import pyarrow as pa

    from . import fileio
    from .manifest import DataFileContent, ManifestContent, read_manifest
    from .transaction import AssertTableUUID, SetPartitionStatistics

    md = table.metadata
    snap = md.current_snapshot()
    if snap is None:
        raise ValueError("table has no snapshot to analyze")

    # unified partition tuple: union of field names across specs
    all_names: list[str] = []
    for spec in md.partition_specs:
        for f in spec.fields:
            if f.name not in all_names:
                all_names.append(f.name)
    if not all_names:
        # Java PartitionStatsHandler refuses unpartitioned tables; an
        # empty partition struct is also unwritable as parquet.
        raise ValueError("partition statistics require a partitioned table")

    agg: dict[tuple, dict] = {}
    for m in snap.manifests():
        for e in read_manifest(m.manifest_path, inherit_sequence_number=m.sequence_number):
            df = e.data_file
            key = tuple(df.partition.get(n) for n in all_names)
            row = agg.setdefault(
                key,
                {
                    "spec_id": m.partition_spec_id,
                    "data_record_count": 0,
                    "data_file_count": 0,
                    "total_data_file_size_in_bytes": 0,
                    "position_delete_record_count": 0,
                    "position_delete_file_count": 0,
                    "equality_delete_record_count": 0,
                    "equality_delete_file_count": 0,
                    "last_updated_snapshot_id": e.snapshot_id or snap.snapshot_id,
                    "_last_seq": e.sequence_number or 0,
                },
            )
            # "last updated" = the HIGHEST-sequence snapshot touching the
            # partition, not whichever manifest happened to come first
            seq = e.sequence_number or 0
            if seq > row["_last_seq"]:
                row["_last_seq"] = seq
                row["last_updated_snapshot_id"] = e.snapshot_id or snap.snapshot_id
            if m.content == ManifestContent.DATA:
                row["data_record_count"] += df.record_count
                row["data_file_count"] += 1
                row["total_data_file_size_in_bytes"] += df.file_size_in_bytes
            elif df.content == DataFileContent.POSITION_DELETES:
                row["position_delete_record_count"] += df.record_count
                row["position_delete_file_count"] += 1
            elif df.content == DataFileContent.EQUALITY_DELETES:
                row["equality_delete_record_count"] += df.record_count
                row["equality_delete_file_count"] += 1

    keys = sorted(agg.keys(), key=lambda k: tuple(str(v) for v in k))
    cols: dict[str, list] = {
        "partition": [
            {n: k[i] for i, n in enumerate(all_names)} if all_names else {}
            for k in keys
        ],
        "spec_id": [agg[k]["spec_id"] for k in keys],
    }
    for stat in (
        "data_record_count",
        "data_file_count",
        "total_data_file_size_in_bytes",
        "position_delete_record_count",
        "position_delete_file_count",
        "equality_delete_record_count",
        "equality_delete_file_count",
        "last_updated_snapshot_id",
    ):
        cols[stat] = [agg[k][stat] for k in keys]

    # pyarrow infers the partition struct type from the dicts
    tbl = pa.table(cols)

    path = os.path.join(
        md.location, "metadata", f"partition-stats-{snap.snapshot_id}.parquet"
    )
    fileio.makedirs(os.path.dirname(path))
    with fileio.parquet_writer(path, tbl.schema) as w:
        w.write_table(tbl)

    entry = {
        "snapshot-id": snap.snapshot_id,
        "statistics-path": path,
        "file-size-in-bytes": fileio.size(path),
    }
    tx = table.transaction()
    tx.apply([SetPartitionStatistics(entry)], [AssertTableUUID(md.table_uuid)])
    tx.commit()
    return entry


# Key-row bound of the eq→DV conversion fast path, which loads a data
# file's applicable key files into each task's memory: right for typical
# CDC commits, an OOM for a bulk-MERGE key file. Above it the file routes
# to `_eq_convert_join_rows`, whose keys stay distributed. Manifest
# record_count gives the exact key-row count driver-side for free.
_EQ_CONVERT_KEYS_MAX_ROWS = 2_000_000


def _dv_entries(collected, snapshot_id):
    """(ADDED manifest entries, referenced data files whose DV they
    replace, positions newly deleted) from `_DV_OUT_DDL` Arrow tables.
    Entries inherit the committing snapshot's sequence number."""
    from .manifest import ManifestEntry, ManifestEntryStatus
    from .write import _decode_descriptor

    entries, replaced, newly = [], set(), 0
    for tbl in collected:
        for r in tbl.to_pylist():
            df = _decode_descriptor(r["descriptor"])
            entries.append(
                ManifestEntry(
                    status=ManifestEntryStatus.ADDED,
                    snapshot_id=snapshot_id,
                    sequence_number=None,
                    file_sequence_number=None,
                    data_file=df,
                )
            )
            newly += r["newly"]
            if r["had_dv"]:
                replaced.add(df.referenced_data_file)
    return entries, replaced, newly


def _dv_added_summary(entries, newly) -> dict:
    """Snapshot-summary counters of a conversion's added DVs."""
    return {
        "added-delete-files": str(len(entries)),
        "added-position-delete-files": str(len(entries)),
        "added-dvs": str(len(entries)),
        "added-position-deletes": str(newly),
        "added-files-size": str(
            sum(e.data_file.content_size_in_bytes or 0 for e in entries)
        ),
    }


def convert_equality_deletes(table, spark) -> bool:
    """Materialize every applicable equality delete into deletion vectors
    and drop the equality-delete files — WITHOUT rewriting any data file.

    Upsert/MERGE streams add one equality-delete file per commit, and
    every subsequent read pays a keyed anti-join per delete file. This
    pass computes, per affected data file, the positions its applicable
    (sequence-gated, exactly as the scan matched them) equality keys
    name, unions them with the file's existing deletion vector, writes
    fresh puffin DVs executor-side, and commits ONE 'replace' snapshot
    that adds the DVs and drops every equality-delete entry. The visible
    row set is unchanged — reads just get cheaper (bitmap skips instead
    of anti-joins), which is the point at 100 TB where eq-delete debt
    compounds. Streams skip the snapshot as a rewrite, like compaction.

    Equality-delete files whose keys match no live rows are dropped
    outright. v3 only (DVs); on v2 run binpack compaction instead, which
    materializes deletes by rewriting the data. Returns True when a
    conversion snapshot was committed."""
    import json as _json

    from .manifest import (
        DataFileContent,
        ManifestContent,
        read_manifest,
        write_manifest,
    )
    from .reader import eq_key_fields, mapped_names, read_fields
    from .table import _map_rows
    from .write import (
        _DV_OUT_DDL,
        _DV_WORK_DDL,
        _commit_manifests,
        _dv_pointer,
        _dv_work_row,
        _rewrite_parent_manifests,
        _write_dv_batches,
        begin_distributed_snapshot,
    )

    md = table.metadata
    if md.format_version < 3:
        raise ValueError(
            "equality-delete conversion writes deletion vectors (format "
            "v3); on v2 run rewrite_data_files (binpack) to materialize "
            "deletes by rewriting the data"
        )
    snap = md.current_snapshot()
    if snap is None:
        return False
    has_eq = False
    for m in snap.manifests():
        if m.content != ManifestContent.DELETES:
            continue
        for e in read_manifest(m.manifest_path, inherit_sequence_number=m.sequence_number):
            if e.data_file.content == DataFileContent.EQUALITY_DELETES:
                has_eq = True
                break
        if has_eq:
            break
    if not has_eq:
        return False

    schema = md.current_schema()
    tasks = table.scan().plan_files_auto(spark)
    key_fields = {f[0]: f for f in read_fields(schema)}
    mapped = mapped_names(md.properties)
    rows = []
    big_tasks = []
    for t in tasks:
        eqs = [
            d for d in t.delete_files
            if d.content == DataFileContent.EQUALITY_DELETES
        ]
        if not eqs:
            continue
        for d in eqs:
            eq_key_fields(key_fields, d.file_path, d.equality_ids or [])
        if sum(int(d.record_count or 0) for d in eqs) > _EQ_CONVERT_KEYS_MAX_ROWS:
            big_tasks.append(t)
            continue
        rows.append(
            _dv_work_row(t)
            + (_json.dumps([[d.file_path, list(d.equality_ids or [])] for d in eqs]),)
        )

    ds = begin_distributed_snapshot(table)
    location = md.location
    commit_uuid = ds.commit_uuid

    def task(batches):
        from . import fileio
        from .reader import eq_deleted_positions

        def new_positions(r):
            eq_files = [
                (path, eq_key_fields(key_fields, path, ids))
                for path, ids in _json.loads(r["eq_json"])
            ]
            with fileio.parquet_file(r["data_file"]) as pf:
                return eq_deleted_positions(pf, eq_files, mapped)

        yield from _write_dv_batches(
            location, commit_uuid, "eqconv",
            [
                (r["data_file"], new_positions(r), _dv_pointer(r), r["part"])
                for batch in batches
                for r in batch.to_pylist()
            ],
        )

    collected = (
        [
            _map_rows(
                spark, rows, _DV_WORK_DDL + ", eq_json string", task, _DV_OUT_DDL
            ).toArrow()
        ]
        if rows
        else []
    )
    if big_tasks:
        collected.append(
            _eq_convert_join_rows(table, spark, big_tasks, location, commit_uuid)
        )
    new_entries, replaced_dv_refs, newly_total = _dv_entries(
        collected, ds.snapshot_id
    )

    new_manifests = []
    if new_entries:
        p = os.path.join(
            md.location, "metadata", f"{commit_uuid}-eqconv-m0.avro"
        )
        new_manifests.append(
            write_manifest(
                p, md.default_spec(), schema, ds.snapshot_id, new_entries,
                content=ManifestContent.DELETES,
            )
        )
    carried, rm = _rewrite_parent_manifests(
        md, set(), commit_uuid, "eqconv",
        replaced_dv_refs=replaced_dv_refs or None,
        drop_equality_deletes=True,
    )
    summary = {
        "converted-equality-delete-files": str(rm["removed-delete-files"]),
        "removed-delete-files": str(rm["removed-delete-files"]),
        "removed-equality-deletes": str(rm["removed-equality-deletes"]),
        "removed-files-size": str(rm["removed-files-size"]),
        "removed-position-deletes": str(rm["removed-position-deletes"]),
    }
    if new_entries:
        summary.update(_dv_added_summary(new_entries, newly_total))
    _commit_manifests(
        table,
        new_manifests,
        carried,
        operation="replace",
        extra_summary=summary,
        snapshot_id=ds.snapshot_id,
        commit_uuid=ds.commit_uuid,
        parent_snapshot_id=ds.parent_snapshot_id,
    )
    return True


def _eq_keys_df_arrow(spark, path: str, fields):
    """Distributed DataFrame over one equality-delete key file for URIs
    the JVM has no FileSystem for — ROW-GROUP-parallel executor-side
    arrow read. The join path exists precisely because the key file
    exceeded `_EQ_CONVERT_KEYS_MAX_ROWS`, so a whole-file
    driver read here (the old `read_parquet_table(...).to_pandas()`
    fallback) would re-introduce the unbounded materialization the
    routing bound was built to prevent. Each task reads its row groups
    one at a time (peak memory = one row group, writer-bounded), columns
    resolved by parquet FIELD ID so renamed key columns still resolve —
    same contract as the JVM branch; the driver only reads the footer.
    Arrow end to end: a pandas bridge would turn a nullable long key
    column into float64 and merge distinct keys above 2**53."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from . import fileio as _fileio
    from .table import _map_rows
    from .types import Schema, schema_to_spark_struct

    want_ids = [f.field_id for f in fields]
    struct = schema_to_spark_struct(Schema(0, tuple(fields)))
    target = to_arrow_schema(struct)
    n_rg = max(_fileio.read_parquet_metadata(path).num_row_groups, 1)

    def read_rg(batches):
        from . import fileio
        from .reader import field_ids

        for batch in batches:
            for row in batch.to_pylist():
                with fileio.parquet_file(row["path"]) as kf:
                    by_fid = field_ids(kf.schema_arrow)
                    cols = [by_fid[i] for i in want_ids]
                    tbl = kf.read_row_group(row["rg"], columns=cols)
                yield from tbl.rename_columns(target.names).cast(target).to_batches()

    return _map_rows(
        spark, [(path, i) for i in range(n_rg)], "path string, rg int", read_rg, struct
    )


def _eq_convert_join_rows(table, spark, tasks, location, commit_uuid):
    """Distributed join-based DV computation for data files whose
    applicable equality-delete key files exceed
    `_EQ_CONVERT_KEYS_MAX_ROWS` (2M key rows).

    The fast path loads each key file as ONE Arrow table per executor
    task (`reader.eq_deleted_positions`) — right for typical CDC commits, an
    OOM for a bulk-MERGE commit whose key file carries 100M+ rows. This
    path is the scan's distributed eq anti-join (`Scan._anti_join_eq_keys`) turned
    LEFT SEMI: read the affected data files with `_metadata.row_index`
    positions (JVM scan, key columns only — pushdown and split planning
    intact), semi-join per eq-delete file (null-safe: NULL keys match
    NULL, the eq-delete contract), union matches across eq files, and
    write one DV per data file from a groupBy().applyInPandas whose peak
    memory is ONE file's matched positions (bounded by file row count).
    Keys and data both stay distributed; nothing unbounded ever
    materializes per task — degrade, don't OOM, the reference's
    bounded-memory standard (table/arrow_scanner.go batch pipelines).
    Layout note: this path writes one puffin per affected data file
    (the fast path batches blobs per task) — after a huge conversion,
    `rewrite_position_deletes` repacks the small DVs, the existing
    consolidation tier.

    Returns an Arrow table shaped like the fast path's output
    (`_DV_OUT_DDL`)."""
    from dataclasses import replace as _replace

    from . import fileio as _fileio
    from .manifest import DataFileContent
    from .table import strip_scheme
    from .types import Schema
    from .write import _DV_OUT_DDL, _dv_work_row

    md = table.metadata
    schema = md.current_schema()
    by_id = {f.field_id: f for f in schema.fields}

    # group data files by their applicable eq-file set (plan_files already
    # sequence-gated the per-file sets); files sharing a set share one
    # positional read and one join pipeline
    groups: dict[tuple, list] = {}
    for t in tasks:
        key = tuple(sorted(
            (d.file_path, tuple(d.equality_ids or []))
            for d in t.delete_files
            if d.content == DataFileContent.EQUALITY_DELETES
        ))
        groups.setdefault(key, []).append(t)

    # key frames are not deduplicated: a left-semi join returns each
    # data row at most once, whatever duplicate keys its right side holds
    def keys_df(path, fields):
        if _fileio.is_local(path):
            # distributed read — the key file is big by construction
            # here. Field-id resolution (schema struct carries
            # parquet.field.id metadata) so renamed key columns still
            # resolve, same contract as the fast path's by-id read.
            from .table import read_parquet_by_schema

            return read_parquet_by_schema(spark, Schema(0, tuple(fields)), [path])
        return _eq_keys_df_arrow(spark, path, fields)

    matched = None
    for key, gtasks in groups.items():
        need_ids = sorted({i for _, ids in key for i in ids})
        key_schema = Schema(0, tuple(by_id[i] for i in need_ids))
        stripped = [_replace(t, delete_files=()) for t in gtasks]
        df = table.scan()._read_with_deletes(
            spark, stripped, key_schema, with_pos=True
        )
        for path, ids in key:
            fields = [by_id[i] for i in ids]
            kdf = keys_df(path, fields)
            cond = None
            for f in fields:
                c = df[f.name].eqNullSafe(kdf[f.name])
                cond = c if cond is None else (cond & c)
            hit = df.join(kdf, on=cond, how="left_semi").select("_fp", "_pos")
            matched = hit if matched is None else matched.unionByName(hit)
    matched = matched.dropDuplicates(["_fp", "_pos"])

    # per-file work rows the DV writer needs, O(files), broadcast
    meta = {strip_scheme(t.file.file_path): _dv_work_row(t) for t in tasks}
    meta_b = spark.sparkContext.broadcast(meta)

    def write_dv(pdf):
        import pandas as pd

        from .puffin import write_dv_file

        data_file, dv_path, offset, size, part_json = meta_b.value[pdf["_fp"].iloc[0]]
        dv = (dv_path, offset, size) if dv_path is not None else None
        written = write_dv_file(
            location, commit_uuid, "eqconvj",
            [(data_file, pdf["_pos"].to_numpy(), dv, part_json)],
        )
        return pd.DataFrame(
            [w for w in written if w], columns=["descriptor", "newly", "had_dv"]
        )

    return (
        matched.groupBy("_fp")
        .applyInPandas(_fileio.shipped(write_dv), _DV_OUT_DDL)
        .toArrow()
    )


def convert_position_deletes(table, spark) -> bool:
    """Upgrade legacy v2 positional-delete PARQUET files into v3 deletion
    vectors — the spec's upgrade expectation for v3 tables, and the one
    delete shape `rewrite_position_deletes` (DV repack) never touches.

    Per referenced data file, the positions named by every applicable
    (sequence-gated, exactly as the scan matched them) v2 delete file are
    decoded executor-side, unioned with the file's existing DV, and
    written as fresh puffin blobs; ONE 'replace' snapshot adds the DVs
    and drops every v2 positional entry. Row set unchanged; reads stop
    re-filtering (file_path, pos) parquet per scan. v3 only. Returns
    True when a conversion snapshot was committed."""
    import json as _json

    from .manifest import (
        DataFileContent,
        ManifestContent,
        read_manifest,
        write_manifest,
    )
    from .reader import delete_entry
    from .table import _map_rows
    from .write import (
        _DV_OUT_DDL,
        _DV_WORK_DDL,
        _commit_manifests,
        _dv_pointer,
        _dv_work_row,
        _rewrite_parent_manifests,
        _write_dv_batches,
        begin_distributed_snapshot,
    )

    md = table.metadata
    if md.format_version < 3:
        raise ValueError(
            "positional-delete conversion writes deletion vectors "
            "(format v3); upgrade_format_version(3) first"
        )
    snap = md.current_snapshot()
    if snap is None:
        return False

    def is_v2_pos(d):
        return (
            d.content == DataFileContent.POSITION_DELETES
            and d.content_offset is None
        )

    has_pos = False
    for m in snap.manifests():
        if m.content != ManifestContent.DELETES:
            continue
        for e in read_manifest(m.manifest_path, inherit_sequence_number=m.sequence_number):
            if is_v2_pos(e.data_file):
                has_pos = True
                break
        if has_pos:
            break
    if not has_pos:
        return False

    schema = md.current_schema()
    tasks = table.scan().plan_files_auto(spark)
    rows = []
    for t in tasks:
        pos_files = [delete_entry(d) for d in t.delete_files if is_v2_pos(d)]
        if pos_files:
            rows.append(_dv_work_row(t) + (_json.dumps(pos_files),))

    ds = begin_distributed_snapshot(table)
    location = md.location
    commit_uuid = ds.commit_uuid

    def task(batches):
        from .reader import delete_positions

        # one read of each v2 file per task: a v2 file lists the
        # positions of many data files
        tables: dict = {}
        yield from _write_dv_batches(
            location, commit_uuid, "posconv",
            [
                (
                    r["data_file"],
                    delete_positions(r["data_file"], _json.loads(r["dels"]), tables),
                    _dv_pointer(r),
                    r["part"],
                )
                for batch in batches
                for r in batch.to_pylist()
            ],
        )

    collected = (
        [
            _map_rows(
                spark, rows, _DV_WORK_DDL + ", dels string", task, _DV_OUT_DDL
            ).toArrow()
        ]
        if rows
        else []
    )
    new_entries, replaced_dv_refs, newly_total = _dv_entries(
        collected, ds.snapshot_id
    )

    new_manifests = []
    if new_entries:
        p = os.path.join(md.location, "metadata", f"{commit_uuid}-posconv-m0.avro")
        new_manifests.append(
            write_manifest(
                p, md.default_spec(), schema, ds.snapshot_id, new_entries,
                content=ManifestContent.DELETES,
            )
        )
    carried, rm = _rewrite_parent_manifests(
        md, set(), commit_uuid, "posconv",
        replaced_dv_refs=replaced_dv_refs or None,
        drop_position_files=True,
    )
    summary = {
        "converted-position-delete-files": str(rm["removed-delete-files"]),
        "removed-delete-files": str(rm["removed-delete-files"]),
        "removed-position-deletes": str(rm["removed-position-deletes"]),
        "removed-files-size": str(rm["removed-files-size"]),
    }
    if new_entries:
        summary.update(_dv_added_summary(new_entries, newly_total))
    _commit_manifests(
        table,
        new_manifests,
        carried,
        operation="replace",
        extra_summary=summary,
        snapshot_id=ds.snapshot_id,
        commit_uuid=ds.commit_uuid,
        parent_snapshot_id=ds.parent_snapshot_id,
    )
    return True
