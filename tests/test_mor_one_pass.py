"""One-pass merge-on-read (`Scan._read_with_deletes`), the one read path
of every planned scan: every planned file read in one scan, positional
deletes and DVs through one `(_fp, _pos)` anti-join, each
equality-delete file through one anti-join gated by `_fp IN (...)` to
the files it applies to.

  * a twin against `oracles.merge_on_read_oracle` (per-file pyarrow
    reads) on seeded hand-built task sets, with and without deletes and
    initial defaults, through each input that picks a reader (the JVM
    listed read for a plain table; the Arrow reader for a name-mapped
    table, a schema with defaults or a wide file set), and on seeded
    DML histories;
  * which columns and operators each reader's plan carries: a plain JVM
    read is a bare scan, a defaulted read fills defaults in-task with no
    footer probe, an equality-only wide read keeps filter pushdown;
  * the JVM-failure rule: local paths raise, other paths (lineage reads
    too) reroute to the Arrow reader;
  * deletes, defaults and row lineage on data paths that Spark's
    `_metadata.file_path` URI-encodes;
  * `add_files` records the path Spark reports, so the gates find
    imported files named by a relative or a `//` path;
  * building a MOR frame over more than 32 files, plain, name-mapped
    or defaulted, starts no Spark job, and the listing threshold is
    raised only around local builds;
  * the lineage map, the executor DV decode and the metadata-table
    fan-out build their frames from one Arrow table.
"""

from __future__ import annotations

import collections
import copy
import os
import random
import re
import uuid
from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg import fileio
from iceberg_go_distributed_spark.iceberg import types as ty
from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
from iceberg_go_distributed_spark.iceberg.manifest import DataFile, DataFileContent
from iceberg_go_distributed_spark.iceberg.partitioning import spec_from
from iceberg_go_distributed_spark.iceberg.puffin import (
    BlobMetadata,
    serialize_deletion_vector,
    write_puffin,
)
from iceberg_go_distributed_spark.iceberg.sanitize import (
    name_mapping_from_schema,
    name_mapping_to_json,
)
from iceberg_go_distributed_spark.iceberg.table import (
    _FRAME_MEMO,
    _LISTING_CONF,
    FileScanTask,
    Scan,
    Table,
    _fp_gate,
    lineage_map_frame,
    read_listed_parquet,
)
from iceberg_go_distributed_spark.iceberg.types import NestedField, Schema

from tests.oracles import merge_on_read_oracle

SCHEMA = Schema.of(
    0,
    NestedField(1, "id", ty.LongType()),
    NestedField(2, "k", ty.StringType()),
    NestedField(3, "part", ty.LongType()),
    NestedField(4, "v", ty.DoubleType()),
)
DDL = "id long, k string, part long, v double"
# SCHEMA plus a column with an initial default that no hand-built file has
DEFAULTED = Schema.of(
    0,
    *SCHEMA.fields,
    NestedField(5, "cat", ty.StringType(), initial_default="dflt", write_default="dflt"),
)
# the table properties behind each reader input of `_read_with_deletes`:
# "jvm" takes the JVM listed read unless the schema has defaults;
# "name_mapped" and "wide" always take the Arrow reader
READERS = {
    "jvm": {},
    "name_mapped": {
        "schema.name-mapping.default": name_mapping_to_json(
            name_mapping_from_schema(DEFAULTED)
        )
    },
    "wide": {"read.spark.max-listed-files": "1"},
}
POS = DataFileContent.POSITION_DELETES
EQ = DataFileContent.EQUALITY_DELETES


_ARROW = {ty.LongType: pa.int64(), ty.StringType: pa.string(), ty.DoubleType: pa.float64()}


def _arrow_schema(fields):
    return pa.schema(
        [
            pa.field(
                f.name,
                _ARROW[type(f.field_type)],
                metadata={b"PARQUET:field_id": str(f.field_id).encode()},
            )
            for f in fields
        ]
    )


def _write(path, fields, columns):
    tbl = pa.table(columns, schema=_arrow_schema(fields))
    pq.write_table(tbl, path)
    return DataFile(
        file_path=path,
        record_count=tbl.num_rows,
        file_size_in_bytes=os.path.getsize(path),
    )


def _frame_rows(df, with_fp_pos=False, schema=SCHEMA):
    cols = [f.name for f in schema.fields] + (["_fp", "_pos"] if with_fp_pos else [])
    return collections.Counter(tuple(r) for r in df.select(*cols).collect())


def _oracle(tasks, with_fp_pos=False, schema=SCHEMA):
    return merge_on_read_oracle(
        tasks, schema, [f.name for f in schema.fields], with_fp_pos
    )


def _hand_built(rng, root):
    """Seeded data files plus every delete kind, assigned to tasks the way
    plan-time matching could: positional files with duplicate positions,
    one DV per task at most, equality files with duplicate and NULL keys
    covering every task, exactly one task, one partition and a random
    strict subset."""
    data_fields = SCHEMA.fields
    files = []
    for i in range(rng.randint(4, 7)):
        n = rng.randint(5, 40)
        files.append(
            _write(
                os.path.join(root, f"data it's {i}.parquet"),
                data_fields,
                {
                    "id": [rng.randint(0, 30) for _ in range(n)],
                    "k": [rng.choice(["a", "b", "c", None]) for _ in range(n)],
                    "part": [i % 2] * n,
                    "v": [float(rng.randint(0, 999)) for _ in range(n)],
                },
            )
        )
    dels: list[list] = [[] for _ in files]

    # v2 positional files: each names a few files, positions repeated
    for j in range(2):
        named = rng.sample(range(len(files)), k=rng.randint(1, len(files)))
        fps, poss = [], []
        for i in named:
            for _ in range(rng.randint(1, 6)):
                p = rng.randrange(files[i].record_count)
                reps = rng.choice([1, 2])
                fps += [files[i].file_path] * reps
                poss += [p] * reps
        path = os.path.join(root, f"pos it's {j}.parquet")
        pq.write_table(
            pa.table({"file_path": pa.array(fps), "pos": pa.array(poss, pa.int64())}),
            path,
        )
        d = DataFile(file_path=path, content=POS, record_count=len(poss))
        # a positional file also matches files it never names (path
        # bounds are inclusive), which must change nothing
        for i in set(named) | {rng.randrange(len(files))}:
            dels[i].append(d)

    # DVs, one puffin file
    dv_targets = rng.sample(range(len(files)), k=rng.randint(1, len(files)))
    blobs = []
    for i in dv_targets:
        positions = sorted(
            rng.sample(
                range(files[i].record_count),
                k=rng.randint(1, files[i].record_count),
            )
        )
        blobs.append(
            (
                i,
                positions,
                BlobMetadata(
                    type="deletion-vector-v1", fields=[], snapshot_id=1,
                    sequence_number=1,
                ),
            )
        )
    dv_path = os.path.join(root, "dvs it's.puffin")
    write_puffin(dv_path, [(m, serialize_deletion_vector(p)) for _, p, m in blobs])
    for i, positions, meta in blobs:
        dels[i].append(
            DataFile(
                file_path=dv_path,
                file_format="PUFFIN",
                content=POS,
                record_count=len(positions),
                referenced_data_file=files[i].file_path,
                content_offset=meta.offset,
                content_size_in_bytes=meta.length,
            )
        )

    # equality files: duplicate keys, NULL keys; coverage every / one /
    # one partition (part = i % 2) / random strict subset
    by_id = {f.field_id: f for f in SCHEMA.fields}
    everyone = list(range(len(files)))
    coverages = [
        everyone,
        [rng.randrange(len(files))],
        everyone[::2],
        rng.sample(everyone, k=rng.randint(1, len(files) - 1)),
    ]
    for j, cover in enumerate(coverages):
        ids = rng.choice([[1], [2, 3]])
        n = rng.randint(2, 8)
        if ids == [1]:
            keys = {"id": [rng.randint(0, 30) for _ in range(n)]}
        else:
            keys = {
                "k": [rng.choice(["a", "b", None]) for _ in range(n)],
                "part": [rng.randint(0, 1) for _ in range(n)],
            }
        keys = {c: vals + vals[:1] for c, vals in keys.items()}  # a duplicate
        d = _write(
            os.path.join(root, f"eq it's {j}.parquet"),
            [by_id[i] for i in ids],
            keys,
        )
        d.content = EQ
        d.equality_ids = ids
        for i in cover:
            dels[i].append(d)
    return [FileScanTask(f, tuple(ds)) for f, ds in zip(files, dels)]


@pytest.fixture()
def odd_root(tmp_path):
    """A warehouse whose paths hold `'` and a space."""
    root = tmp_path / "it's a dir"
    root.mkdir()
    return root


@pytest.mark.parametrize(
    "seed, reader, schema",
    [
        pytest.param(1, "jvm", SCHEMA, id="1"),
        pytest.param(2, "jvm", SCHEMA, id="2"),
        pytest.param(3, "jvm", SCHEMA, id="3"),
        pytest.param(4, "jvm", DEFAULTED, id="jvm-defaults"),
        pytest.param(5, "name_mapped", SCHEMA, id="name_mapped"),
        pytest.param(6, "name_mapped", DEFAULTED, id="name_mapped-defaults"),
        pytest.param(7, "wide", DEFAULTED, id="wide-defaults"),
    ],
)
def test_one_pass_read_matches_per_file_oracle(spark, odd_root, seed, reader, schema):
    """Each reader input, with every delete kind, with positional
    deletes only and with no deletes at all; plain and lineage reads."""
    t = FileSystemCatalog(str(odd_root / "wh")).create_table("db.t", SCHEMA)
    t.properties.update(READERS[reader])
    tasks = _hand_built(random.Random(seed), str(odd_root))
    no_eq = [
        replace(tk, delete_files=tuple(d for d in tk.delete_files if d.content != EQ))
        for tk in tasks
    ]
    plain = [replace(tk, delete_files=()) for tk in tasks]
    for ts, lineage in (
        (tasks, False), (tasks, True), (no_eq, False), (no_eq, True), (plain, False)
    ):
        df = t.scan()._read_with_deletes(spark, ts, schema, lineage=lineage)
        assert _frame_rows(df, lineage, schema) == _oracle(ts, lineage, schema), (
            f"seed {seed} lineage={lineage}"
        )


def test_wide_equality_only_read_keeps_filter_pushdown(spark, odd_root, monkeypatch):
    """Equality deletes alone need `_fp` for their gates and no `_pos`,
    so the wide reader is asked for no positions and keeps pushing the
    row filter into each file read."""
    t = FileSystemCatalog(str(odd_root / "wh")).create_table("db.t", SCHEMA)
    t.properties.update(READERS["wide"])
    tasks = _hand_built(random.Random(8), str(odd_root))
    eq_only = [
        replace(tk, delete_files=tuple(d for d in tk.delete_files if d.content == EQ))
        for tk in tasks
    ]
    calls = []
    orig = Scan._read_files_arrow_distributed

    def spy(self, spark_, files, schema, **kw):
        calls.append((kw["with_fp"], kw["with_pos"]))
        return orig(self, spark_, files, schema, **kw)

    monkeypatch.setattr(Scan, "_read_files_arrow_distributed", spy)
    df = t.scan(row_filter=E.greater_than("v", 300.0)).to_df(spark, tasks=eq_only)
    assert calls == [(True, False)]
    want = collections.Counter(
        {row: n for row, n in _oracle(eq_only).items() if row[3] > 300.0}
    )
    assert _frame_rows(df) == want


def _jvm_build_fails(monkeypatch):
    """Every later JVM frame build raises; frames built before are
    dropped from the frame memo, so the next read builds again."""
    def fail(*_a, **_k):
        raise RuntimeError("no FileSystem for scheme")

    monkeypatch.setattr(Scan, "_read_jvm", fail)
    _FRAME_MEMO.clear()


def _data_paths_look_remote(monkeypatch, tasks):
    """The planned data files count as object-store paths on the driver,
    as for a scheme this Spark has no connector for."""
    remote = {tk.file.file_path for tk in tasks}
    is_local = fileio.is_local
    monkeypatch.setattr(fileio, "is_local", lambda p: p not in remote and is_local(p))


def test_arrow_fallback_applies_the_same_gates(spark, odd_root, monkeypatch):
    """When the JVM frame build fails on non-local paths, the per-file
    Arrow reader drops the positional deletes in-task, the equality
    gates still key on its `_fp` column, and the rows are the JVM
    route's."""
    t = FileSystemCatalog(str(odd_root / "wh")).create_table("db.t", SCHEMA)
    tasks = _hand_built(random.Random(4), str(odd_root))
    jvm_rows = _frame_rows(t.scan()._read_with_deletes(spark, tasks, SCHEMA))

    _jvm_build_fails(monkeypatch)
    _data_paths_look_remote(monkeypatch, tasks)
    df = t.scan()._read_with_deletes(spark, tasks, SCHEMA)
    assert "MapInArrow" in df._jdf.queryExecution().executedPlan().toString()
    assert _frame_rows(df) == jvm_rows == _oracle(tasks)


def test_jvm_build_failure_raises_only_on_local_paths(spark, odd_root, monkeypatch):
    """A JVM build that fails on local paths is a real error, for plain
    and lineage reads. On other paths a lineage read reroutes to the
    Arrow reader like any other, and keeps the oracle's `(_fp, _pos)`."""
    t = FileSystemCatalog(str(odd_root / "wh")).create_table("db.t", SCHEMA)
    tasks = _hand_built(random.Random(9), str(odd_root))
    _jvm_build_fails(monkeypatch)
    for ts in (tasks, [replace(tk, delete_files=()) for tk in tasks]):
        for lineage in (False, True):
            with pytest.raises(RuntimeError, match="no FileSystem"):
                t.scan()._read_with_deletes(spark, ts, SCHEMA, lineage=lineage)
    _data_paths_look_remote(monkeypatch, tasks)
    df = t.scan()._read_with_deletes(spark, tasks, SCHEMA, lineage=True)
    assert "MapInArrow" in df._jdf.queryExecution().executedPlan().toString()
    assert _frame_rows(df, True) == _oracle(tasks, True)


def test_gate_is_one_literal_set_over_the_smaller_side():
    planned = {"/a", "/b", "/c", "/it's \\ x"}
    assert _fp_gate(set(planned), planned) is None
    assert _fp_gate({"/a"}, planned) == "_fp IN ('/a')"
    assert _fp_gate(planned - {"/b"}, planned) == "NOT (_fp IN ('/b'))"
    assert _fp_gate({"/it's \\ x"}, planned) == "_fp IN ('/it\\'s \\\\ x')"


@pytest.mark.parametrize("version", [2, 3])
def test_dml_history_matches_per_file_oracle(spark, odd_root, version):
    """Real commits: positional deletes (v2) or DVs (v3) and two upserts
    at different sequence numbers on a partitioned table, so the first
    upsert's equality file covers a strict subset of the planned files."""
    rng = random.Random(version)
    cat = FileSystemCatalog(str(odd_root / "wh"))
    t = cat.create_table(
        "db.hist", SCHEMA, spec=spec_from(SCHEMA, ("part", "identity"))
    )
    if version == 3:
        t.upgrade_format_version(3)

    def batch(ids):
        return spark.createDataFrame(
            [(i, rng.choice(["a", "b", None]), i % 2, float(rng.randint(0, 99)))
             for i in ids],
            DDL,
        )

    t.append(batch(range(0, 60)).repartition(2))
    t.delete_where(spark, E.less_than("id", 6))
    t.upsert(batch(range(10, 20)), ["id"])
    t.append(batch(range(60, 90)).repartition(2))
    t.upsert(batch([15, 16, 70, 71, 200]), ["id"])
    t.delete_where(spark, E.greater_than("v", 90.0))
    t.refresh()

    tasks = t.scan().plan_files()
    covers = collections.Counter(
        d.file_path for tk in tasks for d in tk.delete_files if d.content == EQ
    )
    assert any(n < len(tasks) for n in covers.values()), "no gated eq file"
    assert any(d.content == POS for tk in tasks for d in tk.delete_files)

    assert _frame_rows(t.scan().to_df(spark)) == _oracle(tasks)
    df = t.scan()._read_with_deletes(spark, tasks, SCHEMA, lineage=True)
    assert _frame_rows(df, True) == _oracle(tasks, True)


def test_add_files_paths_meet_both_gate_forms(spark, tmp_path, monkeypatch):
    """`add_files` given a relative and a `//` path records each as
    Spark's `_metadata.file_path` names it, so the equality gates find
    the imported files: the first upsert's file covers only them
    (`_fp IN`), the second's every file but its own batch
    (`NOT (_fp IN ...)`)."""
    monkeypatch.chdir(tmp_path)
    os.makedirs("imp/sub")
    for name, ids in (("imp/a.parquet", range(0, 50)), ("imp/sub/b.parquet", range(50, 100))):
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, pa.int64()),
                    "k": [str(i % 3) for i in ids],
                    "part": pa.array([i % 2 for i in ids], pa.int64()),
                    "v": [float(i) for i in ids],
                }
            ),
            name,
        )
    t = FileSystemCatalog(str(tmp_path / "wh")).create_table("db.imp", SCHEMA)
    t.add_files(["imp/a.parquet", f"{tmp_path}//imp/./sub//b.parquet"])
    t.refresh()
    assert sorted(tk.file.file_path for tk in t.scan().plan_files()) == [
        str(tmp_path / "imp" / "a.parquet"),
        str(tmp_path / "imp" / "sub" / "b.parquet"),
    ]

    def batch(ids, dv):
        return spark.createDataFrame(
            [(i, "u", i % 2, i + dv) for i in ids], DDL
        ).coalesce(1)

    t.upsert(batch([1, 2, 60], 0.5), ["id"])
    t.append(batch(range(100, 110), 0.0))
    t.upsert(batch([2, 61, 105], 0.25), ["id"])
    t.refresh()

    tasks = t.scan().plan_files()
    planned = {tk.file.file_path for tk in tasks}
    covers = collections.defaultdict(set)
    for tk in tasks:
        for d in tk.delete_files:
            covers[d.file_path].add(tk.file.file_path)
    forms = sorted(_fp_gate(c, planned).split(" (")[0] for c in covers.values())
    assert forms == ["NOT", "_fp IN"]

    want = {i: float(i) for i in range(110)}
    want |= {1: 1.5, 2: 2.25, 60: 60.5, 61: 61.25, 105: 105.25}
    got = sorted((r.id, r.v) for r in t.scan().to_df(spark).collect())
    assert got == sorted(want.items())


# ------------------------------------------------- URI-encoded data paths


def _with_default_column(t):
    """`t` as of a (simulated) v3 schema change adding `cat` with an
    initial default: every existing file lacks it."""
    md = copy.deepcopy(t.metadata)
    base = md.current_schema()
    new_schema = Schema.of(
        base.schema_id + 1,
        *base.fields,
        NestedField(
            md.last_column_id + 1, "cat", ty.StringType(),
            initial_default="dflt", write_default="dflt",
        ),
    )
    md.format_version = 3
    md.schemas.append(new_schema)
    md.current_schema_id = new_schema.schema_id
    md.last_column_id += 1
    return Table(t.identifier, md, t.metadata_location, t.catalog)


@pytest.mark.parametrize("dirname", ["with space", "pct%41x"])
def test_deletes_apply_on_paths_spark_uri_encodes(spark, tmp_path, dirname):
    """`_metadata.file_path` is URI-encoded (`with%20space`, `%2541`);
    every `_fp` reader decodes it to the raw path that DV targets, v2
    positional rows, equality gates, the defaults probe and the lineage
    map carry."""
    cat = FileSystemCatalog(str(tmp_path / dirname / "wh"))
    src = spark.range(100).selectExpr(
        "id", "cast(id % 3 as string) as k", "id % 2 as part", "cast(id as double) as v"
    )

    def ids(t, **kw):
        return sorted(r.id for r in t.scan(**kw).to_df(spark).collect())

    v2 = cat.create_table("db.v2", SCHEMA)
    v2.append(src.coalesce(2))
    v2.delete_where(spark, E.less_than("id", 10))
    assert ids(v2) == list(range(10, 100))

    v3 = cat.create_table("db.v3", SCHEMA)
    v3.upgrade_format_version(3)
    v3.append(src.coalesce(2))
    v3.delete_where(spark, E.less_than("id", 10))
    assert ids(v3) == list(range(10, 100))

    # row lineage joins its map on the same raw `_fp`
    lineage = v3.scan().with_row_lineage().to_df(spark).collect()
    assert sorted(r.id for r in lineage) == list(range(10, 100))
    assert len({r._row_id for r in lineage}) == 90

    # initial defaults, on the MOR read and on the plain read
    for table in (v3, cat.create_table("db.plain", SCHEMA)):
        if table is not v3:
            table.append(src.coalesce(2))
        rows = _with_default_column(table).scan().to_df(spark).collect()
        assert rows and all(r.cat == "dflt" for r in rows)

    # equality gate: the first upsert's file covers only the first
    # append's files, the second's covers every older file
    eq = cat.create_table("db.eq", SCHEMA)
    eq.upgrade_format_version(3)
    eq.append(src.coalesce(2))
    eq.upsert(src.where("id < 5").selectExpr("id", "k", "part", "-v as v"), ["id"])
    eq.append(src.selectExpr("id + 100 as id", "k", "part", "v").coalesce(1))
    eq.upsert(src.where("id < 3").selectExpr("id", "k", "part", "v + 0.5 as v"), ["id"])
    eq.refresh()
    want = {i: float(i) for i in range(100)} | {i + 100: float(i) for i in range(100)}
    want |= {i: -float(i) for i in range(5)} | {i: i + 0.5 for i in range(3)}
    got = sorted((r.id, r.v) for r in eq.scan().to_df(spark).collect())
    assert got == sorted(want.items())


# ------------------------------------------------------------ plan shapes


def _lineitem_like(spark, n=40):
    return spark.range(n).selectExpr(
        "id", "cast(id % 3 as string) as k", "id % 2 as part", "cast(id as double) as v"
    )


def test_plain_jvm_read_is_a_bare_scan(spark, tmp_path):
    """A delete-free, default-free read selects no `_metadata` column and
    joins nothing."""
    t = FileSystemCatalog(str(tmp_path / "wh")).create_table("db.plain", SCHEMA)
    t.append(_lineitem_like(spark).coalesce(2))
    t.refresh()
    df = t.scan(row_filter=E.greater_than("id", 30)).select("id", "v").to_df(spark)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "_metadata" not in plan, plan
    assert sorted(r.id for r in df.collect()) == list(range(31, 40))


@pytest.mark.parametrize("reader", ["wide", "name_mapped", "jvm"])
def test_read_fills_defaults_without_a_footer_probe(spark, tmp_path, reader):
    """A read of a v3 table with an initial-default column and a DV runs
    one Python operator, the Arrow reader's `MapInArrow`, whatever the
    table's reader input: the reader fills the default in-task, so no
    footer-probe `MapInPandas` joins back."""
    t = FileSystemCatalog(str(tmp_path / "wh")).create_table("db.wide", SCHEMA)
    t.upgrade_format_version(3)
    t.append(_lineitem_like(spark).repartition(2))
    t.delete_where(spark, E.less_than("id", 5))
    t.refresh()
    tasks = t.scan().plan_files()
    assert len(tasks) > 1 and any(tk.delete_files for tk in tasks)
    defaulted = _with_default_column(t)
    defaulted.properties.update(READERS[reader])
    # planned tasks: the collected-plan read, not the streamed plan
    df = defaulted.scan().to_df(spark, tasks=tasks)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"\w*(?:InArrow|InPandas|EvalPython)\b", plan) == ["MapInArrow"], plan
    rows = df.collect()
    assert sorted(r.id for r in rows) == list(range(5, 40))
    assert all(r.cat == "dflt" for r in rows)


def test_driver_built_frames_scan_one_arrow_table(spark, tmp_path, monkeypatch):
    """The lineage map, the executor DV decode's descriptor frame and the
    metadata-table fan-out's work frame each reach the JVM as one Arrow
    table (`LocalTableScan`), never as an RDD of Python rows that a
    Python-worker stage must deserialize."""
    from iceberg_go_distributed_spark.iceberg import table as table_mod

    t = FileSystemCatalog(str(tmp_path / "wh")).create_table("db.frames", SCHEMA)
    t.upgrade_format_version(3)
    t.append(_lineitem_like(spark).repartition(2))
    t.delete_where(spark, E.less_than("id", 5))
    t.refresh()
    monkeypatch.setattr(table_mod, "_EXECUTOR_PLAN_MIN_ENTRIES", 0)
    tasks = t.scan().plan_files()
    dvs = sorted(
        {
            (d.referenced_data_file, d.file_path, d.content_offset, d.content_size_in_bytes)
            for tk in tasks
            for d in tk.delete_files
        }
    )
    assert dvs
    frames = {
        "lineage map": lineage_map_frame(spark, tasks),
        "dv decode": Scan._deletion_vector_positions(spark, dvs),
        "inspect fan-out": t.inspect_files(spark),
    }
    plans = {
        name: df._jdf.queryExecution().executedPlan().toString()
        for name, df in frames.items()
    }
    rdd_built = [
        name
        for name, plan in plans.items()
        if "LocalTableScan" not in plan or "ExistingRDD" in plan
    ]
    assert rdd_built == [], plans

    assert sorted(r._first_row_id for r in frames["lineage map"].collect()) == sorted(
        tk.file.first_row_id for tk in tasks
    )
    driver = Scan._deletion_vector_positions(spark, dvs, on_driver=True)
    assert sorted(map(tuple, frames["dv decode"].collect())) == sorted(
        map(tuple, driver.collect())
    )
    assert len(driver.collect()) == 5
    assert sorted(
        r.file_path for r in frames["inspect fan-out"].collect() if r.content == 0
    ) == sorted(tk.file.file_path for tk in tasks)


# --------------------------------------------------------- no listing job


def test_mor_to_df_over_many_files_builds_without_spark_jobs(spark, tmp_path):
    """Building a MOR frame over more than 32 planned files starts no
    Spark job, on a plain, a name-mapped and a defaulted table: the data
    paths come from manifests, so there is no listing job, the delete
    sides need no schema inference, and the Arrow reader resolves
    mapped names and fills defaults in-task, probing no file first."""
    cat = FileSystemCatalog(str(tmp_path / "wh"))
    src = spark.range(0, 400, 1, 40).selectExpr(
        "id", "cast(id % 3 as string) as k", "id % 2 as part", "cast(id as double) as v"
    )
    v2 = cat.create_table("db.v2", SCHEMA)
    v3 = cat.create_table("db.v3", SCHEMA)
    v3.upgrade_format_version(3)
    for t in (v2, v3):
        t.append(src)
        t.delete_where(spark, E.equal("part", 0))
        t.upsert(src.where("id < 7"), ["id"])
        t.refresh()
        assert len(t.scan().plan_files()) > 32
    mapped = Table(v2.identifier, copy.deepcopy(v2.metadata), v2.metadata_location, v2.catalog)
    mapped.properties.update(READERS["name_mapped"])

    sc = spark.sparkContext
    for t in (v2, v3, mapped, _with_default_column(v3)):
        group = f"mor-build-{uuid.uuid4()}"
        sc.setJobGroup(group, "build a MOR to_df")
        try:
            df = t.scan().to_df(spark)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], t.properties
        assert sorted(r.id for r in df.collect()) == [
            i for i in range(400) if i % 2 == 1 or i < 7
        ]
    assert spark.conf.get(_LISTING_CONF, None) is None


def test_listing_threshold_is_raised_only_around_local_builds(spark):
    """Spark's parallel listing stays on for object-store paths and for
    reads within its threshold, and the raised value never outlives the
    build."""

    class Reader:
        def parquet(self, *paths):
            return spark.conf.get(_LISTING_CONF, None)

    local = [f"/data/f{i}.parquet" for i in range(40)]
    assert read_listed_parquet(spark, Reader(), local) == "40"
    assert read_listed_parquet(spark, Reader(), [f"file://{p}" for p in local]) == "40"
    assert read_listed_parquet(spark, Reader(), local[:32]) is None
    assert read_listed_parquet(spark, Reader(), [f"s3://b{p}" for p in local]) is None
    assert spark.conf.get(_LISTING_CONF, None) is None
    spark.conf.set(_LISTING_CONF, "100")
    try:
        assert read_listed_parquet(spark, Reader(), local) == "100"
        assert spark.conf.get(_LISTING_CONF, None) == "100"
    finally:
        spark.conf.unset(_LISTING_CONF)


def test_concurrent_builds_leave_the_listing_threshold_unset(spark):
    """Builds on many threads each see their own raised value, and none
    restores another's: the session default survives."""
    import sys
    import threading

    errors = []

    class Reader:
        def parquet(self, *paths):
            seen = spark.conf.get(_LISTING_CONF, None)
            if seen != str(len(paths)):
                errors.append((len(paths), seen))

    def worker(k):
        for i in range(15):
            n = 33 + (k * 7 + i) % 20
            read_listed_parquet(spark, Reader(), [f"/d/f{j}.parquet" for j in range(n)])

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert spark.conf.get(_LISTING_CONF, None) is None
