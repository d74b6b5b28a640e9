"""Synthetic wide-metadata snapshots for scan-PLANNING benchmarks.

Driver-side metadata planning is the one credible 100 TB bottleneck that
data-plane benchmarks never exercise: a production snapshot carries
hundreds of manifests and tens of thousands of data files, and the
planner must prune them in bounded time. This module fabricates exactly
that shape with metadata only — the data files are fictitious paths
(plan_files never opens a data file; it reads manifests and applies the
four-level pruning cascade), so a 200-manifest / 6,000-file snapshot
builds in a couple of seconds and benches pure planning cost.

The shape mirrors the reference's concurrent manifest fetch benchmark
surface (ref table/scanner.go:343-406 errgroup workers): partition
summaries cover only the partition column `k`, so a filter on the DATA
column `v` survives manifest-level pruning (level 2) everywhere and
forces entry-level decode + metrics pruning (levels 3-4) of every
manifest — the exact load `plan_files_distributed` exists to spread.
"""

from __future__ import annotations

from .manifest import DataFile, ManifestEntry, ManifestEntryStatus, write_manifest
from .types import LongType, NestedField, Schema

ROWS_PER_FILE = 1000
V_STRIDE = 100  # each file covers v in [gid*100, gid*100+99]


def build_wide_metadata_table(
    warehouse: str,
    n_manifests: int = 200,
    files_per_manifest: int = 30,
    name: str = "db.plan_wide",
):
    """Create a table whose single snapshot has `n_manifests` manifests x
    `files_per_manifest` fictitious data files, committed through the
    distributed-snapshot protocol (the same path real writes take, so
    sequence-number / first-row-id inheritance is exercised, not faked).

    Layout: partition column `k` = manifest index (identity spec), data
    column `v` strided per file: file gid covers [gid*100, gid*100+99].
    A filter `v in [a, b)` therefore matches ceil((b-a)/100) files while
    every manifest survives level-2 pruning (summaries only cover `k`).
    """
    from .catalog import FileSystemCatalog
    from .conversions import to_bytes
    from .partitioning import spec_from
    from .write import begin_distributed_snapshot, commit_distributed_snapshot

    cat = FileSystemCatalog(warehouse)
    schema = Schema(
        0,
        [
            NestedField(1, "k", LongType(), required=False),
            NestedField(2, "v", LongType(), required=False),
        ],
    )
    t = cat.create_table(name, schema, spec=spec_from(schema, ("k", "identity")))
    spec = t.spec()
    ds = begin_distributed_snapshot(t)
    long_t = LongType()
    manifests = []
    for mi in range(n_manifests):
        entries = []
        for fi in range(files_per_manifest):
            gid = mi * files_per_manifest + fi
            v_lo, v_hi = gid * V_STRIDE, gid * V_STRIDE + V_STRIDE - 1
            df = DataFile(
                file_path=f"{t.location}/data/k={mi}/bench-{gid}.parquet",
                partition={"k": mi},
                record_count=ROWS_PER_FILE,
                file_size_in_bytes=64 << 20,
                column_sizes={1: 4 << 20, 2: 60 << 20},
                value_counts={1: ROWS_PER_FILE, 2: ROWS_PER_FILE},
                null_value_counts={1: 0, 2: 0},
                lower_bounds={1: to_bytes(long_t, mi), 2: to_bytes(long_t, v_lo)},
                upper_bounds={1: to_bytes(long_t, mi), 2: to_bytes(long_t, v_hi)},
            )
            entries.append(
                ManifestEntry(
                    status=ManifestEntryStatus.ADDED,
                    snapshot_id=ds.snapshot_id,
                    sequence_number=None,  # inherited from the commit
                    file_sequence_number=None,
                    data_file=df,
                )
            )
        manifests.append(
            write_manifest(
                f"{t.location}/metadata/bench-m{mi:05d}.avro",
                spec,
                schema,
                ds.snapshot_id,
                entries,
            )
        )
    commit_distributed_snapshot(t, ds, manifests)
    return t


def selective_filter(n_manifests: int, files_per_manifest: int, frac: float = 0.02):
    """A row filter on the data column `v` matching ~`frac` of the data
    files — survives manifest pruning everywhere (the planner must read
    every manifest) and prunes at the entry level (metrics bounds)."""
    from . import expressions as E

    total = n_manifests * files_per_manifest
    n_match = max(1, int(total * frac))
    lo = (total // 2) * V_STRIDE
    hi = lo + n_match * V_STRIDE
    return E.and_(
        E.greater_than_or_equal("v", lo), E.less_than("v", hi)
    ), n_match


def build_wide_data_table(
    warehouse: str,
    spark,
    n_files: int,
    files_per_manifest: int = 1000,
    rows_per_file: int = 2,
    name: str = "db.plan_wide_data",
):
    """Like build_wide_metadata_table, but the data files are REAL tiny
    parquet files written by a distributed Spark job — so scan
    EXECUTION (plan → DataFrame → rows), not just planning, can be
    probed at >=1M-file scale (VERDICT r12 task 1). Layout matches the
    metadata-only builder: partition column `k` = manifest index,
    data column `v` strided per file (file gid covers
    [gid*V_STRIDE, gid*V_STRIDE + rows_per_file)), so selective_filter
    works unchanged and any returned row is attributable to its file.

    The file writes fan out over executors through `table._map_rows`
    (one pyarrow write per file, field-ids stamped exactly like the production
    writer); only (gid, path, size) descriptors return to the driver,
    which then builds manifests and commits through the
    distributed-snapshot protocol."""
    from .catalog import FileSystemCatalog
    from .conversions import to_bytes
    from .partitioning import spec_from
    from .table import _map_rows
    from .write import (
        _arrow_schema,
        begin_distributed_snapshot,
        commit_distributed_snapshot,
    )

    cat = FileSystemCatalog(warehouse)
    schema = Schema(
        0,
        [
            NestedField(1, "k", LongType(), required=False),
            NestedField(2, "v", LongType(), required=False),
        ],
    )
    t = cat.create_table(name, schema, spec=spec_from(schema, ("k", "identity")))
    spec = t.spec()
    loc = t.location
    arrow_schema = _arrow_schema(schema)
    stride, rpf, fpm = V_STRIDE, rows_per_file, files_per_manifest

    def write_files(batches):
        import os as _os

        import pyarrow as pa
        import pyarrow.parquet as pq

        for batch in batches:
            paths, sizes, out_gids = [], [], []
            for gid in batch.column("gid").to_pylist():
                mi = gid // fpm
                d = f"{loc}/data/k={mi}"
                _os.makedirs(d, exist_ok=True)
                p = f"{d}/bench-{gid}.parquet"
                v0 = gid * stride
                tbl = pa.Table.from_pydict(
                    {"k": [mi] * rpf, "v": list(range(v0, v0 + rpf))},
                    schema=arrow_schema,
                )
                pq.write_table(tbl, p, compression="snappy")
                paths.append(p)
                sizes.append(_os.path.getsize(p))
                out_gids.append(gid)
            yield pa.record_batch(
                [pa.array(out_gids, pa.int64()), pa.array(paths), pa.array(sizes, pa.int64())],
                names=["gid", "path", "size"],
            )

    out = _map_rows(
        spark, [(g,) for g in range(n_files)], "gid long",
        write_files, "gid long, path string, size long",
    ).toArrow()
    by_gid = {r["gid"]: (r["path"], r["size"]) for r in out.to_pylist()}
    assert len(by_gid) == n_files

    ds = begin_distributed_snapshot(t)
    long_t = LongType()
    manifests = []
    n_manifests = (n_files + fpm - 1) // fpm
    for mi in range(n_manifests):
        entries = []
        for gid in range(mi * fpm, min((mi + 1) * fpm, n_files)):
            path, size = by_gid[gid]
            v_lo, v_hi = gid * stride, gid * stride + rpf - 1
            df = DataFile(
                file_path=path,
                partition={"k": mi},
                record_count=rpf,
                file_size_in_bytes=size,
                value_counts={1: rpf, 2: rpf},
                null_value_counts={1: 0, 2: 0},
                lower_bounds={1: to_bytes(long_t, mi), 2: to_bytes(long_t, v_lo)},
                upper_bounds={1: to_bytes(long_t, mi), 2: to_bytes(long_t, v_hi)},
            )
            entries.append(
                ManifestEntry(
                    status=ManifestEntryStatus.ADDED,
                    snapshot_id=ds.snapshot_id,
                    sequence_number=None,
                    file_sequence_number=None,
                    data_file=df,
                )
            )
        manifests.append(
            write_manifest(
                f"{loc}/metadata/bench-m{mi:05d}.avro",
                spec,
                schema,
                ds.snapshot_id,
                entries,
            )
        )
    commit_distributed_snapshot(t, ds, manifests)
    return t
