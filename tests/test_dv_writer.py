"""The one deletion-vector writer (`puffin.write_dv_file`) and the one
executor work dispatch (`table._map_rows`) behind every DV write:
`delete_where` on v3, `rewrite_position_deletes`, both arms of
`convert_equality_deletes` and `convert_position_deletes`.

Each writer is checked against `merge_on_read_oracle`: every DV it
writes decodes to exactly the positions the table deleted before, plus
what the operation deletes; the cardinality, the newly-deleted count,
the puffin's size on disk and the blob framing are all exact."""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow.parquet as pq
import pytest

from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg import maintenance
from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
from iceberg_go_distributed_spark.iceberg.manifest import POSITIONAL_DELETE_POS_ID
from iceberg_go_distributed_spark.iceberg.puffin import (
    BlobMetadata,
    parse_deletion_vector,
    read_deletion_vector,
    read_puffin,
    serialize_deletion_vector,
    write_dv_file,
    write_puffin,
)
from iceberg_go_distributed_spark.iceberg.types import schema_from_spark
from iceberg_go_distributed_spark.iceberg.write import _decode_descriptor

from tests.oracles import merge_on_read_oracle

N = 60


@pytest.fixture()
def cat(tmp_path):
    return FileSystemCatalog(str(tmp_path / "wh"))


def _table(cat, spark, name, fv=3):
    """One append of three data files: ids 0-19, 20-39 and 40-59."""
    df = spark.range(0, N, 1, 3).selectExpr("id", "concat('k', id % 5) as k")
    t = cat.create_table(name, schema_from_spark(df.schema))
    if fv >= 3:
        t.upgrade_format_version(3)
    t.append(df)
    assert len(t.scan().plan_files()) == 3
    return t


def _deleted(t):
    """{data file: sorted positions the oracle deletes from it}."""
    tasks = t.scan().plan_files()
    seen = merge_on_read_oracle(tasks, t.schema(), ["id"], with_fp_pos=True)
    live: dict = {}
    for _id, fp, pos in seen:
        live.setdefault(fp, set()).add(pos)
    return {
        task.file.file_path: sorted(
            set(range(pq.ParquetFile(task.file.file_path).metadata.num_rows))
            - live.get(task.file.file_path, set())
        )
        for task in tasks
    }


def _dv_sizes(t):
    """Positions covered by live DVs, summed over the table."""
    return sum(
        d.record_count
        for task in t.scan().plan_files()
        for d in task.delete_files
        if d.content_offset is not None
    )


def _matching_positions(t, pred_ids):
    """{data file: positions of the rows whose id is in pred_ids}."""
    out = {}
    for task in t.scan().plan_files():
        ids = pq.read_table(task.file.file_path, columns=["id"])["id"].to_pylist()
        out[task.file.file_path] = [p for p, i in enumerate(ids) if i in pred_ids]
    return out


def _check_dvs(t, want):
    """Every data file's deletes are exactly one DV holding `want`'s
    positions, its blob framed and stamped as BaseDVFileWriter does."""
    for task in t.scan().plan_files():
        path = task.file.file_path
        assert all(d.content_offset is not None for d in task.delete_files), path
        if not want.get(path):
            assert not task.delete_files, path
            continue
        [d] = task.delete_files
        assert d.referenced_data_file == path
        assert d.file_size_in_bytes == os.path.getsize(d.file_path)
        assert d.record_count == len(want[path])
        metas, _, _ = read_puffin(d.file_path)
        [m] = [m for m in metas if m.offset == d.content_offset]
        assert m.length == d.content_size_in_bytes
        assert m.to_json() == {
            "type": "deletion-vector-v1",
            "fields": [POSITIONAL_DELETE_POS_ID],
            "snapshot-id": -1,
            "sequence-number": -1,
            "offset": d.content_offset,
            "length": d.content_size_in_bytes,
            "properties": {
                "referenced-data-file": path,
                "cardinality": str(len(want[path])),
            },
        }
        with open(d.file_path, "rb") as f:
            f.seek(d.content_offset)
            blob = f.read(d.content_size_in_bytes)
        assert parse_deletion_vector(blob).tolist() == want[path]


def _union(a, b):
    return {p: sorted(set(a.get(p, ())) | set(b.get(p, ()))) for p in set(a) | set(b)}


def _delete_where(cat, spark):
    t = _table(cat, spark, "db.dv_delete")
    t.delete_where(spark, E.is_in("id", [1, 2, 21, 45]))
    before, dv_before = _deleted(t), _dv_sizes(t)
    t.delete_where(
        spark, E.and_(E.greater_than_or_equal("id", 5), E.less_than("id", 25))
    )
    return t, _union(before, _matching_positions(t, set(range(5, 25)))), dv_before


def _rewrite(cat, spark):
    t = _table(cat, spark, "db.dv_rewrite")
    t.delete_where(spark, E.is_in("id", [1, 2]))
    t.delete_where(spark, E.is_in("id", [30, 31, 45]))
    before, dv_before = _deleted(t), _dv_sizes(t)
    assert t.rewrite_position_deletes(spark) is True
    return t, before, dv_before


def _eq_setup(cat, spark, name):
    t = _table(cat, spark, name)
    t.delete_where(spark, E.is_in("id", [1, 22]))
    t.upsert(
        spark.createDataFrame(
            [(2, "u"), (5, "u"), (25, "u"), (41, "u")], "id long, k string"
        ),
        ["id"],
    )
    return t


def _eq_convert(cat, spark):
    t = _eq_setup(cat, spark, "db.dv_eq")
    before, dv_before = _deleted(t), _dv_sizes(t)
    assert t.convert_equality_deletes(spark) is True
    return t, before, dv_before


def _eq_convert_join(cat, spark):
    t = _eq_setup(cat, spark, "db.dv_eqj")
    before, dv_before = _deleted(t), _dv_sizes(t)
    with pytest.MonkeyPatch.context() as mp:
        # a bound below any key file routes every file to the join path
        mp.setattr(maintenance, "_EQ_CONVERT_KEYS_MAX_ROWS", 0)
        assert t.convert_equality_deletes(spark) is True
    return t, before, dv_before


def _pos_convert(cat, spark):
    t = _table(cat, spark, "db.dv_pos", fv=2)
    t.delete_where(spark, E.is_in("id", [1, 2, 3, 30, 41]))
    t.upgrade_format_version(3)
    # a DV on top of the v2 file: the conversion unions the two
    t.delete_where(spark, E.is_in("id", [3, 50]))
    before, dv_before = _deleted(t), _dv_sizes(t)
    assert t.convert_position_deletes(spark) is True
    return t, before, dv_before


WRITERS = {
    "delete_where": _delete_where,
    "rewrite_position_deletes": _rewrite,
    "convert_equality_deletes": _eq_convert,
    "convert_equality_deletes_join": _eq_convert_join,
    "convert_position_deletes": _pos_convert,
}


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_dv_writers_match_the_oracle(cat, spark, writer):
    t, want, dv_before = WRITERS[writer](cat, spark)
    t.refresh()
    _check_dvs(t, want)
    after = _deleted(t)
    assert after == {p: want.get(p, []) for p in after}
    summary = t.current_snapshot().summary.properties
    total = sum(len(v) for v in want.values())
    if writer == "rewrite_position_deletes":
        assert summary["added-position-deletes"] == str(total)
        assert summary["removed-position-deletes"] == str(total)
    else:
        # newly = |union| - |existing DV|, summed over the written DVs
        assert summary["added-position-deletes"] == str(total - dv_before)


def test_write_dv_file_unions_skips_and_counts(tmp_path):
    """Direct call: repeats collapse, an existing DV is unioned and
    counted out of `newly`, an empty union writes nothing, and one
    puffin holds every written blob."""
    loc = str(tmp_path)
    old = os.path.join(loc, "old.puffin")
    meta = BlobMetadata("deletion-vector-v1", [], -1, -1)
    write_puffin(old, [(meta, serialize_deletion_vector(np.array([1, 4], np.uint64)))])
    dv = (old, meta.offset, meta.length)
    out = write_dv_file(
        loc, "c0ffee", "deletes",
        [
            ("/d/a.parquet", np.array([4, 2, 2, 9], np.int64), dv, "{}"),
            ("/d/b.parquet", [], None, "{}"),
            ("/d/c.parquet", [7], None, '{"p": 3}'),
        ],
    )
    assert out[1] is None
    (da, newly_a, had_a), (dc, newly_c, had_c) = out[0], out[2]
    assert (newly_a, had_a, newly_c, had_c) == (2, True, 1, False)
    a, c = _decode_descriptor(da), _decode_descriptor(dc)
    assert a.file_path == c.file_path and a.file_path.endswith("-deletes.puffin")
    assert a.file_size_in_bytes == os.path.getsize(a.file_path)
    assert (a.record_count, c.record_count, c.partition) == (4, 1, {"p": 3})
    got = read_deletion_vector(a.file_path, a.content_offset, a.content_size_in_bytes)
    assert got.tolist() == [1, 2, 4, 9]
    assert write_dv_file(loc, "c0ffee", "deletes", [("/d/b.parquet", [], None, "{}")]) == [None]
    assert sorted(os.listdir(os.path.join(loc, "data"))) == [os.path.basename(a.file_path)]


def test_v3_delete_where_is_one_job_of_one_stage(cat, spark):
    """A v3 delete_where over several partially matching files runs ONE
    Spark job of ONE stage: the work frame is a local Arrow scan, so
    neither a Python-row deserialization job nor a repartition Exchange
    runs ahead of the DV writes."""
    t = _table(cat, spark, "db.dv_shape")
    sc = spark.sparkContext
    group = f"dv-delete-{uuid.uuid4()}"
    sc.setJobGroup(group, "v3 delete_where")
    try:
        t.delete_where(spark, E.is_in("id", list(range(0, N, 2))))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    assert len(jobs) == 1, jobs
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1
    t.refresh()
    assert sorted(r.id for r in t.scan().to_df(spark).collect()) == list(range(1, N, 2))
