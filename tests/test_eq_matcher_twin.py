"""The one executor-side equality-delete matcher
(`reader.eq_deleted_positions`) against the scan and the oracle.

Every consumer of equality deletes must keep the rows the scan's
null-safe anti-join keeps, under the Iceberg equality-delete rule: NULL
= NULL, NaN = NaN, NULL != NaN and -0.0 = 0.0. For each table shape
below, the rows of the JVM scan, an SPJ bucket read, the CDC stream
source's delete events and both arms of `convert_equality_deletes` are
compared with `merge_on_read_oracle`. The shapes cover a key column
added after some files were written (with and without an initial
default), an id-less name-mapped file, a renamed key, an int -> long
promoted key, NULL, NaN and signed-zero float keys, keys above 2**53
and a two-column key.

The fuzz at the end drives the matcher alone (pyarrow only) against the
same rule on random files; its first seeds run in the default tier."""

from __future__ import annotations

import collections
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_go_distributed_spark.iceberg import maintenance
from iceberg_go_distributed_spark.iceberg import types as ty
from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
from iceberg_go_distributed_spark.iceberg.manifest import DataFileContent
from iceberg_go_distributed_spark.iceberg.reader import (
    _EQ_KEY_CACHE,
    eq_deleted_positions,
    mapped_names,
    read_fields,
)
from iceberg_go_distributed_spark.iceberg.spj import (
    _bucket_read,
    _read_bucket_arrow,
    _task_entries,
)
from iceberg_go_distributed_spark.iceberg.types import (
    NestedField,
    Schema,
    schema_from_spark,
)

from tests.oracles import _eq_key, merge_on_read_oracle

BIG = 2**53
NAN = float("nan")


def _norm(v):
    """A row value compared exactly: floats by repr, so NaN equals NaN
    and -0.0 stays apart from 0.0."""
    return ("f", repr(v)) if isinstance(v, float) else v


def _rows(tuples):
    return collections.Counter(tuple(_norm(v) for v in r) for r in tuples)


def _table(cat, spark, name, ddl, rows):
    df = spark.createDataFrame(rows, ddl)
    t = cat.create_table(name, schema_from_spark(df.schema))
    t.upgrade_format_version(3)
    t.append(df.coalesce(1))
    return t


def _append(t, spark, ddl, rows):
    t.refresh()
    t.append(spark.createDataFrame(rows, ddl).coalesce(1))


def _delete(t, spark, ddl, keys):
    t.refresh()
    t.delete_by_keys(spark.createDataFrame(keys, ddl), [c.split()[0] for c in ddl.split(", ")])
    t.refresh()
    return t


# ---------------------------------------------------------------- shapes


def _added_key(cat, spark, name, default=None):
    """ids 0-5, then `k` added (optionally with an initial default), then
    (10, k=7) and (11, k=8), then a delete of k = 7."""
    t = _table(cat, spark, name, "id long", [(i,) for i in range(6)])
    if default is None:
        t.update_schema().add_column("k", ty.LongType()).commit()
    else:
        md = t.metadata
        base = md.current_schema()
        tx = t.transaction()
        tx.add_schema(
            Schema(
                max(s.schema_id for s in md.schemas) + 1,
                base.fields
                + (
                    NestedField(
                        md.last_column_id + 1, "k", ty.LongType(),
                        initial_default=default, write_default=default,
                    ),
                ),
            )
        )
        tx.commit()
    _append(t, spark, "id long, k long", [(10, 7), (11, 8)])
    return _delete(t, spark, "k long", [(7,)])


def _name_mapped(cat, spark, name, tmp_path):
    """An id-less file registered by add_files (so resolved through the
    name mapping), its key column renamed, then a delete on it."""
    t = cat.create_table(
        name,
        Schema.of(
            1,
            NestedField(1, "id", ty.LongType()),
            NestedField(2, "payload", ty.StringType()),
        ),
    )
    t.upgrade_format_version(3)
    ext = str(tmp_path / f"{name}.parquet")
    pq.write_table(
        pa.table({"id": pa.array(range(6), pa.int64()), "payload": ["a", "b", None, "c", "a", "d"]}),
        ext,
    )
    t.add_files([ext])
    t.update_schema().rename_column("payload", "body").commit()
    _append(t, spark, "id long, body string", [(10, "a"), (11, "z")])
    return _delete(t, spark, "body string", [("a",), (None,)])


def _renamed(cat, spark, name):
    t = _table(cat, spark, name, "id long, k string", [(i, f"k{i % 3}") for i in range(6)])
    t.update_schema().rename_column("k", "kk").commit()
    _append(t, spark, "id long, kk string", [(10, "k1"), (11, "k9")])
    return _delete(t, spark, "kk string", [("k1",), ("k9",)])


def _promoted(cat, spark, name):
    t = _table(cat, spark, name, "id long, k int", [(i, i) for i in range(6)] + [(6, None)])
    t.update_schema().update_column("k", field_type=ty.LongType()).commit()
    _append(t, spark, "id long, k long", [(10, 2**40), (11, 3)])
    return _delete(t, spark, "k long", [(3,), (2**40,), (None,)])


def _float_key(cat, spark, name, key):
    t = _table(
        cat, spark, name, "id long, v double",
        [(0, None), (1, NAN), (2, 1.0), (3, 0.0), (4, -0.0)],
    )
    return _delete(t, spark, "v double", [(key,)])


def _big(cat, spark, name):
    t = _table(
        cat, spark, name, "id long, owner string",
        [(BIG, "a"), (BIG + 1, "b"), (5, "c"), (None, "n")],
    )
    return _delete(t, spark, "id long", [(BIG + 1,), (None,)])


def _two_column(cat, spark, name):
    t = _table(
        cat, spark, name, "a long, b string, v long",
        [(1, "x", 0), (1, None, 1), (None, "x", 2), (None, None, 3), (2, "y", 4), (2, None, 5)],
    )
    return _delete(t, spark, "a long, b string", [(1, None), (None, None), (2, "y")])


SHAPES = {
    # probe A: the scan keeps 0-5 and 11
    "added_key": lambda cat, spark, name, tmp: _added_key(cat, spark, name),
    # old files read k as 7, so the delete removes them too
    "added_key_default": lambda cat, spark, name, tmp: _added_key(cat, spark, name, 7),
    "name_mapped_id_less": lambda cat, spark, name, tmp: _name_mapped(cat, spark, name, tmp),
    "renamed_key": lambda cat, spark, name, tmp: _renamed(cat, spark, name),
    "int_to_long_key": lambda cat, spark, name, tmp: _promoted(cat, spark, name),
    # probe B: a NaN key keeps the NULL row
    "nan_key": lambda cat, spark, name, tmp: _float_key(cat, spark, name, NAN),
    # probe C: a NULL key keeps the NaN row
    "null_key": lambda cat, spark, name, tmp: _float_key(cat, spark, name, None),
    # probe D: -0.0 deletes both zeros
    "neg_zero_key": lambda cat, spark, name, tmp: _float_key(cat, spark, name, -0.0),
    "keys_above_2_53": lambda cat, spark, name, tmp: _big(cat, spark, name),
    "two_column_key": lambda cat, spark, name, tmp: _two_column(cat, spark, name),
}

# the rows the scan keeps, where the shape pins them
KEPT = {
    "added_key": {(i,) for i in range(6)} | {(11,)},
    "added_key_default": {(11,)},
    "nan_key": {(0,), (2,), (3,), (4,)},
    "null_key": {(1,), (2,), (3,), (4,)},
    "neg_zero_key": {(0,), (1,), (2,)},
}


def _oracle(t, snapshot_id=None):
    tasks = t.scan(snapshot_id=snapshot_id).plan_files()
    schema = t.schema()
    return _rows(
        merge_on_read_oracle(
            tasks, schema, [f.name for f in schema.fields],
            mapped=mapped_names(t.properties),
        ).elements()
    )


def _scan(t, spark):
    return _rows(tuple(r) for r in t.scan().to_df(spark).collect())


def _spj(t):
    schema = t.schema()
    names = [f.name for f in schema.fields]
    types = {name: typ for _fid, name, typ, _d in read_fields(schema)}
    got = _read_bucket_arrow(
        _task_entries(t.scan().plan_files()), _bucket_read(t, names, types)
    )
    return _rows(tuple(r[n] for n in names) for r in got.to_pylist())


def _stream_deletes(t, wh):
    """The CDC stream source's delete events for the delete commit,
    planned and read in process."""
    from iceberg_go_distributed_spark.streaming import _IcebergStreamReader

    snap = t.current_snapshot()
    reader = _IcebergStreamReader(
        {"warehouse": wh, "table": t.identifier, "mode": "cdc"}
    )
    names = [f.name for f in t.schema().fields]
    out = []
    for part in reader.partitions(
        {"snapshot_id": snap.parent_snapshot_id}, {"snapshot_id": snap.snapshot_id}
    ):
        for batch in reader.read(part):
            rows = batch.to_pylist()
            assert {r["_change_type"] for r in rows} <= {"delete"}
            out += [tuple(r[n] for n in names) for r in rows]
    return _rows(out)


def _has_eq(t):
    return any(
        d.content == DataFileContent.EQUALITY_DELETES
        for task in t.scan().plan_files()
        for d in task.delete_files
    )


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_every_eq_consumer_keeps_the_scans_rows(tmp_path, spark, monkeypatch, shape):
    wh = str(tmp_path / "wh")
    cat = FileSystemCatalog(wh)
    t = SHAPES[shape](cat, spark, f"db.{shape}", tmp_path)
    assert _has_eq(t)
    want = _oracle(t)
    if shape in KEPT:
        ids = {(r[0],) for r in t.scan().to_df(spark).select(t.schema().fields[0].name).collect()}
        assert ids == KEPT[shape]
    assert _scan(t, spark) == want
    assert _spj(t) == want
    before = _oracle(t, t.current_snapshot().parent_snapshot_id)
    assert _stream_deletes(t, wh) == before - want

    # both conversion arms, each from the unconverted snapshot
    unconverted = t.current_snapshot().snapshot_id
    for bound in (maintenance._EQ_CONVERT_KEYS_MAX_ROWS, 0):
        monkeypatch.setattr(maintenance, "_EQ_CONVERT_KEYS_MAX_ROWS", bound)
        t.rollback_to(unconverted)
        t.refresh()
        assert t.convert_equality_deletes(spark) is True
        t.refresh()
        assert not _has_eq(t)
        assert _scan(t, spark) == want, f"bound {bound}"


@pytest.mark.parametrize("reader", ["wide", "name_mapped"])
def test_arrow_route_reads_key_files_by_field_id_in_a_plain_session(
    tmp_path, spark, monkeypatch, reader
):
    """A session without field-id parquet reads (one not built by
    session.py) whose first read of a renamed-key table takes the Arrow
    reader: the key files still resolve by field id, so the deleted
    rows stay deleted."""
    from iceberg_go_distributed_spark.iceberg.sanitize import (
        name_mapping_from_schema,
        name_mapping_to_json,
    )

    conf = "spark.sql.parquet.fieldId.read.enabled"
    was = spark.conf.get(conf, None)
    monkeypatch.setattr(spark, "_iceberg_field_id_reads", False, raising=False)
    spark.conf.unset(conf)
    try:
        cat = FileSystemCatalog(str(tmp_path / "wh"))
        ddl, rows = "id long, k string", [(i, f"k{i % 3}") for i in range(6)]
        t = _table(cat, spark, "db.plain", ddl, rows[:3])
        _append(t, spark, ddl, rows[3:])  # two files: wide past one
        _delete(t, spark, "k string", [("k1",)])
        t.update_schema().rename_column("k", "kk").commit()
        if reader == "wide":
            props = {"read.spark.max-listed-files": "1"}
        else:
            mapping = name_mapping_from_schema(t.schema())
            props = {"schema.name-mapping.default": name_mapping_to_json(mapping)}
        t.transaction().set_properties(props).commit()
        t.refresh()
        got = _scan(t, spark)
        assert {r[0] for r in got} == {0, 2, 3, 5}
        assert got == _oracle(t)
    finally:
        if was is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, was)


# ------------------------------------------------------------------ fuzz


_POOL = {
    "l": [None, 0, 1, -1, BIG, BIG + 1, -(2**63), 2**63 - 1],
    "d": [None, NAN, 0.0, -0.0, 1.0, -1.5, float("inf")],
    "s": [None, "", "a", "b", "ab"],
}
_ARROW = {"l": pa.int64(), "d": pa.float64(), "s": pa.string()}


def _fuzz_case(tmp_path, seed):
    """Random key columns (long, double, string), a data file with some
    of them missing (read as null or an initial default), a key file
    per key set; the matcher against the oracle rule row by row."""
    rng = random.Random(seed)
    kinds = [rng.choice("lds") for _ in range(rng.randint(1, 3))]
    fields = [
        (fid, f"c{fid}", _ARROW[k], None if k == "d" or rng.random() < 0.7 else _POOL[k][2])
        for fid, k in enumerate(kinds, start=1)
    ]
    present = [f for f in fields if rng.random() < 0.85]
    n = rng.randint(0, 60)
    data = {
        f[0]: [rng.choice(_POOL[kinds[f[0] - 1]]) for _ in range(n)] for f in present
    }
    dpath = str(tmp_path / f"d{seed}.parquet")
    cols = [pa.array(range(n), pa.int64())]  # a non-key column keeps n rows
    schema = [pa.field("r", pa.int64(), metadata={b"PARQUET:field_id": b"99"})]
    for fid, v in data.items():
        cols.append(pa.array(v, _ARROW[kinds[fid - 1]]))
        schema.append(
            pa.field(f"c{fid}", cols[-1].type, metadata={b"PARQUET:field_id": str(fid).encode()})
        )
    pq.write_table(
        pa.table(cols, schema=pa.schema(schema)),
        dpath,
        row_group_size=max(1, rng.randint(1, 40)),
    )
    eq_files, want = [], set()
    for j in range(rng.randint(1, 3)):
        ks = rng.sample(fields, rng.randint(1, len(fields)))
        m = rng.randint(0, 6)
        keys = [[rng.choice(_POOL[kinds[f[0] - 1]]) for _ in range(m)] for f in ks]
        kpath = str(tmp_path / f"k{seed}_{j}.parquet")
        pq.write_table(
            pa.table(
                [pa.array(v, f[2]) for v, f in zip(keys, ks)],
                schema=pa.schema(
                    [pa.field(f[1], f[2], metadata={b"PARQUET:field_id": str(f[0]).encode()}) for f in ks]
                ),
            ),
            kpath,
        )
        eq_files.append((kpath, ks))
        key_set = {tuple(map(_eq_key, r)) for r in zip(*keys)}
        for i in range(n):
            row = tuple(
                _eq_key(data[f[0]][i] if f[0] in data else f[3]) for f in ks
            )
            if row in key_set:
                want.add(i)
    _EQ_KEY_CACHE.clear()
    with pq.ParquetFile(dpath) as pf:
        got = eq_deleted_positions(pf, eq_files, {}, batch_rows=rng.randint(1, 64))
    assert got.dtype == "int64"
    assert got.tolist() == sorted(want), f"seed {seed}"


def test_eq_matcher_fuzz(tmp_path):
    for seed in range(1000):
        _fuzz_case(tmp_path, seed)


def test_eq_matcher_fuzz_slice(tmp_path):
    """The seeded fast slice of the fuzz above for the default tier."""
    for seed in range(1000, 1050):
        _fuzz_case(tmp_path, seed)
