"""Metadata-plane scalability: planning cost is O(manifests + entries),
pruning drops work before anything touches Spark. Builds a synthetic
2,000-file / 20-manifest table (no Spark, no parquet — metadata only)
and checks pruning ratios + planning latency."""

from __future__ import annotations

import os
import time

import pytest

from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg import types as ty
from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
from iceberg_go_distributed_spark.iceberg.conversions import to_bytes
from iceberg_go_distributed_spark.iceberg.manifest import (
    DataFile,
    ManifestEntry,
    ManifestEntryStatus,
    write_manifest,
)
from iceberg_go_distributed_spark.iceberg.metadata import Snapshot, Summary
from iceberg_go_distributed_spark.iceberg.partitioning import spec_from
from iceberg_go_distributed_spark.iceberg.transaction import (
    AddSnapshotUpdate,
    AssertTableUUID,
    SetSnapshotRef,
)
from iceberg_go_distributed_spark.iceberg.types import NestedField, Schema

SCHEMA = Schema.of(
    0,
    NestedField(1, "id", ty.LongType(), required=True),
    NestedField(2, "day_key", ty.IntegerType(), required=True),
)

N_MANIFESTS = 20
FILES_PER_MANIFEST = 100  # → 2,000 files


@pytest.fixture()
def big_table(tmp_path):
    cat = FileSystemCatalog(str(tmp_path / "wh"))
    spec = spec_from(SCHEMA, ("day_key", "identity"))
    t = cat.create_table("db.big", SCHEMA, spec=spec)
    manifests = []
    for m_i in range(N_MANIFESTS):
        entries = []
        for f_i in range(FILES_PER_MANIFEST):
            day = m_i * FILES_PER_MANIFEST + f_i  # each file its own day
            id_lo, id_hi = day * 1000, day * 1000 + 999
            entries.append(
                ManifestEntry(
                    status=ManifestEntryStatus.ADDED,
                    snapshot_id=1,
                    sequence_number=1,
                    file_sequence_number=1,
                    data_file=DataFile(
                        file_path=f"/data/day={day}/f{f_i}.parquet",
                        partition={"day_key": day},
                        record_count=1000,
                        file_size_in_bytes=10_000,
                        value_counts={1: 1000, 2: 1000},
                        null_value_counts={1: 0, 2: 0},
                        lower_bounds={
                            1: to_bytes(ty.LongType(), id_lo),
                            2: to_bytes(ty.IntegerType(), day),
                        },
                        upper_bounds={
                            1: to_bytes(ty.LongType(), id_hi),
                            2: to_bytes(ty.IntegerType(), day),
                        },
                    ),
                )
            )
        path = os.path.join(t.location, "metadata", f"synthetic-m{m_i}.avro")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        mf = write_manifest(path, spec, SCHEMA, 1, entries)
        mf.sequence_number = mf.min_sequence_number = 1
        manifests.append(mf)
    from iceberg_go_distributed_spark.iceberg.manifest import write_manifest_list

    list_path = os.path.join(t.location, "metadata", "snap-1.avro")
    write_manifest_list(list_path, manifests)
    snap = Snapshot(
        snapshot_id=1,
        sequence_number=1,
        timestamp_ms=t.metadata.last_updated_ms + 1,
        manifest_list=list_path,
        summary=Summary("append"),
        schema_id=0,
    )
    tx = t.transaction()
    tx.apply(
        [AddSnapshotUpdate(snap), SetSnapshotRef("main", 1)],
        [AssertTableUUID(t.metadata.table_uuid)],
    )
    tx.commit()
    return t


def test_full_plan_counts(big_table):
    tasks = big_table.scan().plan_files()
    assert len(tasks) == N_MANIFESTS * FILES_PER_MANIFEST


def test_manifest_level_pruning(big_table):
    """A single-day filter must prune 19/20 manifests via partition
    summaries before any manifest is even read."""
    tasks = big_table.scan(row_filter=E.equal("day_key", 1234)).plan_files()
    assert len(tasks) == 1
    assert tasks[0].file.partition["day_key"] == 1234


def test_metrics_level_pruning(big_table):
    tasks = big_table.scan(row_filter=E.equal("id", 1_234_567)).plan_files()
    assert len(tasks) == 1
    assert tasks[0].file.file_path.startswith("/data/day=1234/")


def test_range_pruning_ratio(big_table):
    tasks = big_table.scan(
        row_filter=E.and_(
            E.greater_than_or_equal("day_key", 500), E.less_than("day_key", 600)
        )
    ).plan_files()
    assert len(tasks) == 100


def test_planning_latency(big_table):
    """2,000 files must plan in well under a second once manifests are
    warm — the metadata plane is O(entries) pure Python."""
    big_table.scan(row_filter=E.equal("day_key", 7)).plan_files()  # warm
    t0 = time.perf_counter()
    for day in (3, 777, 1500):
        big_table.scan(row_filter=E.equal("day_key", day)).plan_files()
    dt = (time.perf_counter() - t0) / 3
    assert dt < 1.0, f"planning too slow: {dt:.3f}s per pruned scan"


def test_distributed_planning_matches_local_under_deletes(
    tmp_path, spark, sf_dir, executor_plan
):
    """Equivalence on a real table carrying positional + equality deletes
    AND a pruning filter: the executor leg plans the same tasks, field
    for field."""
    from oracles import plan_fields

    from iceberg_go_distributed_spark.datasets import load_table
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    li = load_table(spark, sf_dir, "lineitem").limit(400)
    cat = FileSystemCatalog(str(tmp_path / "wh"))
    t = cat.create_table("db.dp_eq", schema_from_spark(li.schema))
    for lo, hi in ((0, 500), (500, 1200), (1200, 1 << 60)):
        t.append(li.where(f"l_orderkey >= {lo} AND l_orderkey < {hi}").coalesce(1))
    t.delete_where(spark, E.greater_than("l_quantity", 40.0))
    victims = li.where("l_linenumber = 5").select("l_orderkey").distinct()
    t.delete_by_keys(victims, ["l_orderkey"])

    for expr in (None, E.less_than("l_orderkey", 900)):
        scan = t.scan(row_filter=expr) if expr is not None else t.scan()
        local = scan.plan_files()
        assert plan_fields(executor_plan(scan)) == plan_fields(local) and local
        assert any(x.delete_files for x in local)


def test_distributed_planning_matches_local(big_table, executor_plan):
    """The executor leg must produce exactly the local planner's tasks
    (executor-side pruning, driver gets only descriptors)."""
    from oracles import plan_fields

    for expr in (
        E.equal("day_key", 1234),
        E.and_(E.greater_than_or_equal("day_key", 500), E.less_than("day_key", 600)),
        E.equal("id", 1_234_567),
    ):
        local = big_table.scan(row_filter=expr).plan_files()
        dist = executor_plan(big_table.scan(row_filter=expr))
        assert plan_fields(dist) == plan_fields(local) and local


def test_auto_route_to_distributed_planning(big_table, spark, monkeypatch):
    """Scan.plan_files_auto routes through plan_files_distributed once
    the cold surviving entries reach `_EXECUTOR_PLAN_MIN_ENTRIES`, ships
    only the manifests that survived manifest pruning, and the routed
    plan is identical to the local one — to_df/count pick the route up
    transparently."""
    from iceberg_go_distributed_spark.iceberg import manifest as manifest_mod
    from iceberg_go_distributed_spark.iceberg import table as table_mod

    scan = big_table.scan(row_filter=E.equal("day_key", 1234))
    local = {t.file.file_path for t in scan.plan_files()}

    # 2,000 entries, far below the constant: local planning
    calls = []
    orig = table_mod.plan_files_distributed
    monkeypatch.setattr(
        table_mod,
        "plan_files_distributed",
        lambda s, sp, ms: calls.append(ms) or orig(s, sp, ms),
    )
    auto = {t.file.file_path for t in scan.plan_files_auto(spark)}
    assert auto == local and not calls

    # lowered constant and an empty manifest cache: the one manifest
    # that survives manifest pruning (day 1234, 100 entries) is cold, so
    # the same call fans it out to executors — and only it; the 19
    # pruned manifests never count. Clear the plan memo first — a
    # repeated identical scan would (by design) be served from it
    # before the router ever runs, and this test is about the ROUTER.
    monkeypatch.setattr(table_mod, "_EXECUTOR_PLAN_MIN_ENTRIES", 2)
    monkeypatch.setattr(manifest_mod, "_OCF_CACHE", {})
    monkeypatch.setattr(manifest_mod, "_OCF_CACHE_ENTRY_COUNT", 0)
    table_mod._PLAN_CACHE.clear()
    auto2 = {t.file.file_path for t in scan.plan_files_auto(spark)}
    assert auto2 == local and len(calls) == 1
    (shipped,) = calls[0]
    assert local <= {
        e.data_file.file_path for e in manifest_mod.read_manifest(shipped.manifest_path)
    }
    # the metadata-only count fast path rides the same router
    assert big_table.scan().count(spark) == N_MANIFESTS * FILES_PER_MANIFEST * 1000


def test_planbench_builder_local_dist_auto_agree(tmp_path, spark, executor_plan):
    """The planning-bench synthetic snapshot (bench.py's `planning`
    block) is a REAL table committed through the distributed-snapshot
    protocol: local, distributed, and auto-routed planning must return
    the identical task set, and the data-column filter must survive
    manifest pruning everywhere (every manifest read) while metrics
    pruning cuts files."""
    from iceberg_go_distributed_spark.iceberg.planbench import (
        build_wide_metadata_table,
        selective_filter,
    )
    from oracles import plan_fields

    n_manifests, files_per = 70, 20
    t = build_wide_metadata_table(
        str(tmp_path / "wh"), n_manifests, files_per
    )
    flt, n_match = selective_filter(n_manifests, files_per)

    scan = t.scan(row_filter=flt)
    local = plan_fields(scan.plan_files())
    dist = plan_fields(executor_plan(scan))
    auto = plan_fields(scan.plan_files_auto(spark))
    assert local == dist == auto
    assert len(local) == n_match
    # entry-level pruning did the cutting: far fewer files than total
    assert len(local) < n_manifests * files_per / 10
    # and an unfiltered plan sees every fabricated file
    assert len(t.scan().plan_files()) == n_manifests * files_per


def test_auto_route_triggers_on_file_count_for_fat_manifests(
    tmp_path, spark, monkeypatch
):
    """The route counts live data-file entries still to decode (from
    manifest-list added+existing counts and cache residency,
    O(manifests)), not manifests: many small cold manifests plan on the
    driver, few FAT cold ones (the shape merge-append produces) go to
    executors once their entries reach the constant, and the same
    snapshot plans locally once its manifests are resident."""
    from iceberg_go_distributed_spark.iceberg import table as table_mod
    from iceberg_go_distributed_spark.iceberg.planbench import (
        build_wide_metadata_table,
        selective_filter,
    )

    calls = []
    orig = table_mod.plan_files_distributed
    monkeypatch.setattr(
        table_mod,
        "plan_files_distributed",
        lambda s, sp, ms: calls.append(1) or orig(s, sp, ms),
    )

    # 64 cold manifests x 10 files: 640 entries, far below the constant
    # — the driver plans it (a Spark job here measured 15x slower)
    many = build_wide_metadata_table(str(tmp_path / "many"), 64, 10)
    flt, n_match = selective_filter(64, 10)
    assert len(many.scan(row_filter=flt).plan_files_auto(spark)) == n_match
    assert not calls, "many small cold manifests went to executors"

    n_manifests, files_per = 4, 50  # 200 files in 4 cold manifests
    t = build_wide_metadata_table(str(tmp_path / "wh"), n_manifests, files_per)
    monkeypatch.setattr(table_mod, "_EXECUTOR_PLAN_MIN_ENTRIES", 100)
    flt, n_match = selective_filter(n_manifests, files_per)
    got = t.scan(row_filter=flt).plan_files_auto(spark)
    assert calls, "fat-manifest table did not route to distributed planning"
    assert len(got) == n_match

    # a local plan makes every manifest resident: nothing is left to
    # decode, so the same snapshot now plans on the driver (the plan
    # memo is cleared first, or it would answer both calls)
    table_mod._PLAN_CACHE.clear()
    t.scan(row_filter=flt).plan_files()
    table_mod._PLAN_CACHE.clear()
    calls.clear()
    got2 = t.scan(row_filter=flt).plan_files_auto(spark)
    assert not calls and len(got2) == n_match


def test_plan_cache_repeat_scan_skips_manifest_reads(tmp_path, spark, monkeypatch):
    """Planning memoizes per (metadata location, snapshot, filter): a
    repeated scan of an unchanged table reads zero manifests, returns
    the identical file set, and any commit invalidates by construction
    (new metadata location). Distinct filters get distinct entries."""
    from iceberg_go_distributed_spark.iceberg import expressions as E
    from iceberg_go_distributed_spark.iceberg import table as TBL
    from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    TBL._PLAN_CACHE.clear()
    df = spark.createDataFrame([(i, float(i)) for i in range(40)], "id long, v double")
    cat = FileSystemCatalog(str(tmp_path / "wh"))
    t = cat.create_table("db.pc", schema_from_spark(df.schema))
    for s in range(4):
        t.append(df.where((df.id >= s * 10) & (df.id < (s + 1) * 10)).coalesce(1))
    t.refresh()

    reads = []
    real_read = TBL.read_manifest
    real_scan = TBL.scan_manifest

    def spy_read(path, **kw):
        reads.append(path)
        return real_read(path, **kw)

    def spy_scan(path, keep, **kw):
        # the planner's filtered read (r15): counts as a manifest read
        reads.append(path)
        return real_scan(path, keep, **kw)

    monkeypatch.setattr(TBL, "read_manifest", spy_read)
    monkeypatch.setattr(TBL, "scan_manifest", spy_scan)

    first = t.scan().plan_files()
    assert len(first) == 4 and reads, "first plan must read manifests"
    n = len(reads)
    second = t.scan().plan_files()
    assert len(reads) == n, "repeat plan re-read manifests (cache miss)"
    assert [x.file.file_path for x in second] == [x.file.file_path for x in first]

    # a different filter is a different entry — and prunes correctly
    flt = E.and_(E.greater_than_or_equal("id", 10), E.less_than("id", 20))
    filtered = t.scan(flt).plan_files()
    assert len(filtered) == 1 and len(reads) > n
    n = len(reads)
    assert len(t.scan(flt).plan_files()) == 1 and len(reads) == n  # hit

    # commit → new metadata location → miss → the new file is planned
    t.append(df.where("id < 5").coalesce(1))
    t.refresh()
    assert len(t.scan().plan_files()) == 5 and len(reads) > n

    # a cleared memo re-plans
    n = len(reads)
    TBL._PLAN_CACHE.clear()
    t.scan().plan_files()
    assert len(reads) > n, "cleared memo must re-plan"
    TBL._PLAN_CACHE.clear()


def test_auto_route_prefers_local_when_cache_warm(big_table, spark, monkeypatch):
    """A re-plan of a snapshot whose manifests are already decoded (an
    UNFILTERED scan populated the manifest cache) must plan locally —
    replaying cached prototype entries beats launching a Spark job."""
    from iceberg_go_distributed_spark.iceberg import manifest as manifest_mod
    from iceberg_go_distributed_spark.iceberg import table as table_mod

    # broad scan: every manifest survives level-2 pruning → cache warm
    scan = big_table.scan()
    local = {t.file.file_path for t in scan.plan_files()}
    snap = scan.snapshot()
    assert all(
        m.manifest_path in manifest_mod._OCF_CACHE for m in snap.manifests()
    ), "broad plan should have cached every manifest"

    calls = []
    orig = table_mod.plan_files_distributed
    monkeypatch.setattr(
        table_mod,
        "plan_files_distributed",
        lambda s, sp, ms: calls.append(1) or orig(s, sp, ms),
    )
    # any cold entry would now route to executors; a warm snapshot has
    # none
    monkeypatch.setattr(table_mod, "_EXECUTOR_PLAN_MIN_ENTRIES", 1)
    table_mod._PLAN_CACHE.clear()
    auto = {t.file.file_path for t in scan.plan_files_auto(spark)}
    assert auto == local and not calls, (
        "warm-cache re-plan must stay on the local planner"
    )


def test_live_data_file_count_reads_unknown_counts_as_zero():
    """The route triggers' live-file count (`_plan_files_uncached`,
    `_inspect_frame`, `_stream_plan_eligible`, `spj._spj_wide`) sums added + existing files
    of DATA manifests only; a v1 list's null count (-1) counts as 0
    instead of taking 2 off the total."""
    from iceberg_go_distributed_spark.iceberg.manifest import (
        ManifestContent,
        ManifestFile,
    )
    from iceberg_go_distributed_spark.iceberg.table import _live_data_files

    def m(added, existing, content=ManifestContent.DATA):
        return ManifestFile(
            "m.avro", 1, 0, content=content,
            added_files_count=added, existing_files_count=existing,
        )

    assert _live_data_files([]) == 0
    assert _live_data_files([m(3, 4), m(-1, -1), m(-1, 5), m(2, -1)]) == 14
    assert _live_data_files([m(3, 4), m(7, 7, ManifestContent.DELETES)]) == 7


def _route_spy(monkeypatch):
    """The manifest paths of every executor-leg call, per call."""
    from iceberg_go_distributed_spark.iceberg import table as table_mod

    calls = []
    orig = table_mod.plan_files_distributed
    monkeypatch.setattr(
        table_mod,
        "plan_files_distributed",
        lambda s, sp, ms: calls.append([m.manifest_path for m in ms])
        or orig(s, sp, ms),
    )
    return calls


def _cold_cache(monkeypatch):
    from iceberg_go_distributed_spark.iceberg import manifest as manifest_mod
    from iceberg_go_distributed_spark.iceberg import table as table_mod

    monkeypatch.setattr(manifest_mod, "_OCF_CACHE", {})
    monkeypatch.setattr(manifest_mod, "_OCF_CACHE_ENTRY_COUNT", 0)
    table_mod._PLAN_CACHE.clear()


def test_partition_pruned_manifests_never_count_as_cold(tmp_path, spark, monkeypatch):
    """`k == 7` on a cold planbench snapshot: 20 x 10 = 200 cold
    entries, but manifest pruning leaves one manifest of 10 entries, so
    the driver plans it even with the constant at 100."""
    from iceberg_go_distributed_spark.iceberg import table as table_mod
    from iceberg_go_distributed_spark.iceberg.planbench import build_wide_metadata_table

    t = build_wide_metadata_table(str(tmp_path / "wh"), 20, 10)
    monkeypatch.setattr(table_mod, "_EXECUTOR_PLAN_MIN_ENTRIES", 100)
    calls = _route_spy(monkeypatch)
    scan = t.scan(row_filter=E.equal("k", 7))
    _cold_cache(monkeypatch)
    assert len(scan.plan_files_auto(spark)) == 10 and not calls
    _cold_cache(monkeypatch)
    report = scan.plan_report()
    assert (report["manifests_cold"], report["entries_cold"]) == (1, 10)
    assert report["manifests_pruned"] == 19


def test_half_resident_snapshot_ships_only_cold_manifests(tmp_path, spark, monkeypatch):
    """On a snapshot whose first half is resident with the stats of the
    filter column, the executor leg receives exactly the cold half, and
    the mixed plan equals the driver plan field for field."""
    from oracles import plan_fields

    from iceberg_go_distributed_spark.iceberg import manifest as manifest_mod
    from iceberg_go_distributed_spark.iceberg import table as table_mod
    from iceberg_go_distributed_spark.iceberg.planbench import (
        build_wide_metadata_table,
        selective_filter,
    )

    n, per = 8, 10
    t = build_wide_metadata_table(str(tmp_path / "wh"), n, per)
    flt, n_match = selective_filter(n, per, frac=0.5)
    _cold_cache(monkeypatch)
    prime = E.and_(E.less_than("k", n // 2), E.greater_than_or_equal("v", 0))
    t.scan(row_filter=prime).plan_files()
    v_id = 2  # field id of `v`, the filter column
    paths = [m.manifest_path for m in t.current_snapshot().manifests()]
    cold = [p for p in paths if not manifest_mod.is_resident(p, (v_id,))]
    assert len(cold) == n // 2

    monkeypatch.setattr(table_mod, "_EXECUTOR_PLAN_MIN_ENTRIES", n // 2 * per)
    calls = _route_spy(monkeypatch)
    table_mod._PLAN_CACHE.clear()
    auto = t.scan(row_filter=flt).plan_files_auto(spark)
    assert calls == [cold]
    table_mod._PLAN_CACHE.clear()
    local = t.scan(row_filter=flt).plan_files()
    assert plan_fields(auto) == plan_fields(local) and len(local) == n_match
    assert [x.file.file_path for x in auto] == [x.file.file_path for x in local]


def test_block_primed_on_other_column_counts_as_cold(tmp_path, spark, monkeypatch):
    """A manifest cached with the stats of `k` only must be decoded again
    for a `v` filter, so it counts as cold: the route's inputs say so
    and the executor leg receives it."""
    from iceberg_go_distributed_spark.iceberg import manifest as manifest_mod
    from iceberg_go_distributed_spark.iceberg import table as table_mod
    from iceberg_go_distributed_spark.iceberg.planbench import (
        build_wide_metadata_table,
        selective_filter,
    )

    n, per = 6, 10
    t = build_wide_metadata_table(str(tmp_path / "wh"), n, per)
    flt, _ = selective_filter(n, per)
    _cold_cache(monkeypatch)
    t.scan(row_filter=E.less_than("k", 100)).plan_files()
    paths = [m.manifest_path for m in t.current_snapshot().manifests()]
    assert all(manifest_mod.is_resident(p) for p in paths)
    assert not any(manifest_mod.is_resident(p, (2,)) for p in paths)

    scan = t.scan(row_filter=flt)
    table_mod._PLAN_CACHE.clear()
    report = scan.plan_report()
    assert (report["manifests_cold"], report["entries_cold"]) == (n, n * per)

    _cold_cache(monkeypatch)
    t.scan(row_filter=E.less_than("k", 100)).plan_files()
    monkeypatch.setattr(table_mod, "_EXECUTOR_PLAN_MIN_ENTRIES", n * per)
    calls = _route_spy(monkeypatch)
    table_mod._PLAN_CACHE.clear()
    scan.plan_files_auto(spark)
    assert calls == [paths]
