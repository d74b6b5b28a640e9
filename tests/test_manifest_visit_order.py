"""Cache-resident manifests are planned first.

The manifest cache evicts oldest-first. Walked in manifest-list order,
a snapshot N x wider than the cache evicts exactly the manifests the
next plan reads first, so every re-plan decodes everything. Visiting the
resident manifests first keeps 1/N of them warm, and the plan itself
(tasks, their order, their delete-file tuples) must not change.
Metadata only: no Spark, no parquet.
"""

from __future__ import annotations

import pytest

from iceberg_go_distributed_spark.iceberg import avro
from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg import manifest as M
from iceberg_go_distributed_spark.iceberg import table as TBL
from iceberg_go_distributed_spark.iceberg.conversions import to_bytes
from iceberg_go_distributed_spark.iceberg.manifest import (
    POSITIONAL_DELETE_FILE_PATH_ID as FP,
    DataFile,
    DataFileContent,
    ManifestContent,
    ManifestEntry,
    ManifestEntryStatus,
    write_manifest,
)
from iceberg_go_distributed_spark.iceberg.planbench import build_wide_metadata_table
from iceberg_go_distributed_spark.iceberg.types import StringType
from iceberg_go_distributed_spark.iceberg.write import (
    begin_distributed_snapshot,
    commit_distributed_snapshot,
)

N_MANIFESTS = 6
FILES_PER_MANIFEST = 10
N_DELETE_MANIFESTS = 4
# every manifest survives manifest pruning (summaries cover `k` only);
# the range on `v` keeps files 12-40, in four of the six manifests
ROW_FILTER = E.and_(E.greater_than_or_equal("v", 1250), E.less_than("v", 4100))


def _fresh_cache(monkeypatch, max_entries):
    monkeypatch.setattr(M, "_OCF_CACHE", {})
    monkeypatch.setattr(M, "_OCF_CACHE_ENTRY_COUNT", 0)
    monkeypatch.setattr(M, "_OCF_CACHE_MAX_ENTRIES", max_entries)


def _table(tmp_path, with_deletes=False):
    t = build_wide_metadata_table(
        str(tmp_path / "wh"), N_MANIFESTS, FILES_PER_MANIFEST, name="db.order"
    )
    if with_deletes:
        _add_delete_manifests(t)
    return t


def _add_delete_manifests(t):
    """One commit of N_DELETE_MANIFESTS delete manifests, all at the same
    sequence number, so the order of the matched delete files is the
    order the delete manifests were gathered in. Each holds an equality
    delete (applies to every older data file) and path-ranged
    positional deletes over a few files each."""
    ds = begin_distributed_snapshot(t)
    manifests = []
    for j in range(N_DELETE_MANIFESTS):
        entries = []
        for i in range(3):
            lo = f"{t.location}/data/k={j}/bench-{j * FILES_PER_MANIFEST + i}"
            hi = f"{t.location}/data/k={j + 1}/bench-{j * FILES_PER_MANIFEST + 15}"
            pos = DataFile(
                file_path=f"{t.location}/deletes/pos-{j}-{i}.parquet",
                content=DataFileContent.POSITION_DELETES,
                partition={"k": j},
                record_count=1,
                file_size_in_bytes=100,
                lower_bounds={FP: to_bytes(StringType(), lo)},
                upper_bounds={FP: to_bytes(StringType(), hi)},
            )
            entries.append(pos)
        entries.append(
            DataFile(
                file_path=f"{t.location}/deletes/eq-{j}.parquet",
                content=DataFileContent.EQUALITY_DELETES,
                partition={"k": j},
                record_count=1,
                file_size_in_bytes=100,
                equality_ids=[1],
            )
        )
        manifests.append(
            write_manifest(
                f"{t.location}/metadata/deletes-m{j}.avro",
                t.spec(),
                t.schema(),
                ds.snapshot_id,
                [
                    ManifestEntry(
                        status=ManifestEntryStatus.ADDED,
                        snapshot_id=ds.snapshot_id,
                        sequence_number=None,
                        file_sequence_number=None,
                        data_file=df,
                    )
                    for df in entries
                ],
                content=ManifestContent.DELETES,
            )
        )
    commit_distributed_snapshot(t, ds, manifests)


def _plan(t):
    # every plan must reach the manifests, not the plan memo
    TBL._PLAN_CACHE.clear()
    return t.scan(row_filter=ROW_FILTER).plan_files()


def _decode_spy(monkeypatch, paths):
    """Record every manifest decode (manifest-list reads excluded)."""
    decoded = []
    real = avro.read_ocf

    def spy(path_or_file, *a, **k):
        if path_or_file in paths:
            decoded.append(path_or_file)
        return real(path_or_file, *a, **k)

    monkeypatch.setattr(avro, "read_ocf", spy)
    return decoded


@pytest.mark.parametrize("times_wider", [2, 3])
def test_wide_snapshot_keeps_one_in_n_manifests_warm(
    tmp_path, monkeypatch, times_wider
):
    t = _table(tmp_path)
    paths = [m.manifest_path for m in t.current_snapshot().manifests()]
    _fresh_cache(monkeypatch, 10**6)
    large = _plan(t)
    _fresh_cache(monkeypatch, 0)
    uncached = _plan(t)
    assert large == uncached and len(large) == 29

    _fresh_cache(monkeypatch, N_MANIFESTS * FILES_PER_MANIFEST // times_wider)
    decoded = _decode_spy(monkeypatch, set(paths))
    for n_plan in range(4):
        resident = sum(M.is_resident(p) for p in paths)
        before = len(decoded)
        assert _plan(t) == large, f"plan {n_plan} differs"
        if n_plan:
            assert resident == N_MANIFESTS // times_wider
            assert len(decoded) - before == N_MANIFESTS - resident


def test_delete_files_identical_under_either_visit_order(tmp_path, monkeypatch):
    t = _table(tmp_path, with_deletes=True)
    manifests = t.current_snapshot().manifests()
    deletes, data = (
        [m.manifest_path for m in manifests if m.content == content]
        for content in (ManifestContent.DELETES, ManifestContent.DATA)
    )
    assert len(deletes) == N_DELETE_MANIFESTS
    _fresh_cache(monkeypatch, 0)
    reference = _plan(t)  # nothing resident: manifest-list order
    # equality deletes from every delete manifest, plus positional ones
    assert all(len(t.delete_files) > N_DELETE_MANIFESTS for t in reference[:3])

    # warm the LAST half of each kind, so they are visited first
    _fresh_cache(monkeypatch, 10**6)
    for p in deletes[N_DELETE_MANIFESTS // 2 :] + data[N_MANIFESTS // 2 :]:
        M.read_manifest(p)
    visited = []
    real = TBL.read_manifest
    monkeypatch.setattr(
        TBL, "read_manifest", lambda p, **k: visited.append(p) or real(p, **k)
    )
    tasks = _plan(t)
    half = N_DELETE_MANIFESTS // 2
    assert visited == deletes[half:] + deletes[:half]
    assert [task.delete_files for task in tasks] == [
        task.delete_files for task in reference
    ]
    assert tasks == reference

    # and through repeated plans of a cache narrower than the snapshot
    _fresh_cache(monkeypatch, 40)
    for _ in range(3):
        assert _plan(t) == reference


def test_incremental_scan_plans_resident_manifests_first(tmp_path, monkeypatch):
    t = _table(tmp_path)
    paths = [m.manifest_path for m in t.current_snapshot().manifests()]

    def plan():
        return t.incremental_append_scan(row_filter=ROW_FILTER).plan_files()

    _fresh_cache(monkeypatch, 0)
    cold = plan()
    assert len(cold) == 29

    _fresh_cache(monkeypatch, N_MANIFESTS * FILES_PER_MANIFEST // 2)
    decoded = _decode_spy(monkeypatch, set(paths))
    for n_plan in range(3):
        resident = [p for p in paths if M.is_resident(p)]
        before = len(decoded)
        assert plan() == cold
        if n_plan:
            assert len(resident) == N_MANIFESTS // 2
            assert decoded[before:] == [p for p in paths if p not in resident]


def test_map_manifests_keeps_input_order_and_visits_hits_first(monkeypatch):
    class Manifest:
        def __init__(self, i):
            self.manifest_path = f"s3://bucket/m{i}.avro"

    ms = [Manifest(i) for i in range(5)]
    paths = [m.manifest_path for m in ms]
    monkeypatch.setattr(M, "_OCF_CACHE", {paths[1]: [], paths[3]: []})
    visited = []

    def fn(m):
        visited.append(m.manifest_path)
        return m.manifest_path

    # remote misses run on the thread pool unless concurrency is 1
    for concurrency in (1, 4):
        visited.clear()
        assert M.map_manifests(fn, ms, concurrency) == paths
        assert visited[:2] == [paths[1], paths[3]]
        assert sorted(visited[2:]) == [paths[0], paths[2], paths[4]]
