"""DataFrame-fed scan execution for wide file sets (VERDICT r12 task 1).

Above `read.spark.max-listed-files` matched files, plain scans stop
passing a python path list to spark.read.parquet (py4j + driver
InMemoryFileIndex are O(files): 72 s at 100k files, SCALE.md r13) and
stream the paths to executors as a DataFrame; each task reads its files
through the shared per-file reader (iceberg/reader.py), resolving
columns BY FIELD ID like the JVM path. These
tests force the route with max-listed-files=1 and pin parity against
the listed path on the shapes that distinguish the two:

  * schema evolution: renamed column + int→long promotion — field-id
    resolution must return the stored values under the NEW name, never
    name-matched nulls;
  * post-evolution null-fill for files predating an added column;
  * residual filters (pushed per-file when names align; outer .where
    guarantees semantics either way) and column projection;
  * route selection: small scans stay on the JVM listed path, wide
    scans switch (asserted from the executed plan, not internals).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg import types as ty
from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog


@pytest.fixture()
def catalog(tmp_path):
    return FileSystemCatalog(str(tmp_path / "wh"))


def _sorted_rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda r: tuple((x is None, str(x)) for x in r),
    )


def _evolved_table(catalog, spark, name="db.wide_evolved"):
    """Two generations of files: gen-1 written as (id int, qty long,
    name string), then rename name→label, promote id→long, add note;
    gen-2 written under the new schema. A correct field-id read must
    stitch both."""
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    g1 = spark.createDataFrame(
        [(i, i * 10, f"n{i}") for i in range(50)],
        T.StructType(
            [
                T.StructField("id", T.IntegerType(), False),
                T.StructField("qty", T.LongType(), True),
                T.StructField("name", T.StringType(), True),
            ]
        ),
    )
    t = catalog.create_table(name, schema_from_spark(g1.schema))
    t.append(g1.repartition(4))
    (
        t.update_schema()
        .rename_column("name", "label")
        .update_column("id", field_type=ty.LongType())
        .add_column("note", ty.StringType())
        .commit()
    )
    t.refresh()
    g2 = spark.createDataFrame(
        [(int(i), i * 10, f"n{i}", f"x{i}") for i in range(50, 80)],
        T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("qty", T.LongType(), True),
                T.StructField("label", T.StringType(), True),
                T.StructField("note", T.StringType(), True),
            ]
        ),
    )
    t.append(g2.repartition(3))
    t.refresh()
    return t


def test_distributed_read_matches_listed_on_evolved_table(spark, catalog):
    t = _evolved_table(catalog, spark)
    listed = t.scan().to_df(spark)
    t.properties["read.spark.max-listed-files"] = "1"
    dist = t.scan().to_df(spark)
    assert "MapInArrow" in dist._jdf.queryExecution().executedPlan().toString()
    assert dist.schema == listed.schema
    assert _sorted_rows(dist) == _sorted_rows(listed)
    # renamed column carries gen-1 stored values (field-id resolution),
    # null-fill only for the genuinely added column
    rows = {r["id"]: (r["label"], r["note"]) for r in dist.collect()}
    assert rows[7] == ("n7", None)
    assert rows[77] == ("n77", "x77")


def test_distributed_read_filter_and_projection(spark, catalog):
    t = _evolved_table(catalog, spark, name="db.wide_filter")
    t.properties["read.spark.max-listed-files"] = "1"
    flt = E.and_(E.greater_than_or_equal("id", 40), E.less_than("id", 60))
    dist = t.scan(row_filter=flt).select("id", "label").to_df(spark)
    assert dist.columns == ["id", "label"]
    got = _sorted_rows(dist)
    assert got == [(i, f"n{i}") for i in range(40, 60)]
    # filter referencing the RENAMED column: gen-1 files store it under
    # the old physical name, so pushdown must skip there (resolve-name
    # mismatch) while the outer .where still filters correctly
    lbl = t.scan(row_filter=E.equal("label", "n7")).to_df(spark)
    assert [r["id"] for r in lbl.collect()] == [7]


def test_route_selection_by_threshold(spark, catalog):
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "a long, b double")
    t = catalog.create_table("db.route_sel", schema_from_spark(df.schema))
    t.append(df.repartition(4))
    # default threshold (100k): small scan stays on the JVM listed path
    plan = (
        t.scan().to_df(spark)._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInArrow" not in plan and "Scan parquet" in plan
    # property forces the distributed route; results identical
    listed_rows = _sorted_rows(t.scan().to_df(spark))
    t.properties["read.spark.max-listed-files"] = "1"
    dist_df = t.scan().to_df(spark)
    assert "MapInArrow" in dist_df._jdf.queryExecution().executedPlan().toString()
    assert _sorted_rows(dist_df) == listed_rows
    # 0 disables the route entirely
    t.properties["read.spark.max-listed-files"] = "0"
    plan = (
        t.scan().to_df(spark)._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInArrow" not in plan


def test_distributed_read_initial_defaults(spark, catalog):
    """v3 initial-default: files predating the added column take the
    default on the distributed route exactly as on the listed route
    (filled in-task, where file identity is free)."""
    from iceberg_go_distributed_spark.iceberg.types import (
        NestedField,
        Schema,
        schema_from_spark,
    )

    df = spark.createDataFrame([(i, f"v{i}") for i in range(30)], "id long, v string")
    t = catalog.create_table("db.wide_defaults", schema_from_spark(df.schema))
    t.upgrade_format_version(3)
    t.refresh()
    t.append(df.repartition(3))
    t.refresh()
    # add a defaulted column the way the metadata layer records it
    base = t.schema()
    new_schema = Schema(
        base.schema_id + 1,
        tuple(base.fields)
        + (
            NestedField(
                base.highest_field_id() + 1,
                "cat",
                ty.StringType(),
                initial_default="unknown",
                write_default="unknown",
            ),
            # spec single-value JSON serializes date defaults as strings
            NestedField(
                base.highest_field_id() + 2,
                "since",
                ty.DateType(),
                initial_default="2021-01-01",
                write_default="2021-01-01",
            ),
        ),
    )
    from iceberg_go_distributed_spark.iceberg.transaction import (
        AddSchemaUpdate,
        SetCurrentSchema,
    )

    tx = t.transaction()
    tx.apply(
        [AddSchemaUpdate(new_schema), SetCurrentSchema(new_schema.schema_id)],
        [],
    )
    tx.commit()
    t.refresh()
    listed = _sorted_rows(t.scan().to_df(spark))
    t.properties["read.spark.max-listed-files"] = "1"
    dist_df = t.scan().to_df(spark)
    assert "MapInArrow" in dist_df._jdf.queryExecution().executedPlan().toString()
    assert _sorted_rows(dist_df) == listed
    assert {r["cat"] for r in dist_df.collect()} == {"unknown"}
    import datetime as dt

    assert {r["since"] for r in dist_df.collect()} == {dt.date(2021, 1, 1)}


def test_distributed_read_empty_and_limit(spark, catalog):
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    df = spark.createDataFrame([(i,) for i in range(10)], "a long")
    t = catalog.create_table("db.wide_limit", schema_from_spark(df.schema))
    t.append(df.repartition(2))
    t.properties["read.spark.max-listed-files"] = "1"
    assert t.scan(row_filter=E.greater_than("a", 1000)).to_df(spark).count() == 0
    assert t.scan(limit=3).to_df(spark).count() == 3


def _streams(plan: str) -> bool:
    """The streaming route's plan: the prune job's manifest work rows
    (the `first_row_id` column of `table._prune_job`'s work frame) feed
    the Arrow reader's `MapInArrow`."""
    return "first_row_id" in plan and "MapInArrow" in plan


def test_streaming_plan_read_matches_listed(spark, catalog):
    """Full-table scans above the threshold stream the pruned
    descriptor frame straight into the distributed reader — descriptors
    never collect to the driver. Results identical to the listed path;
    the plan shows the prune job feeding the read, which the collected
    wide route does not have."""
    t = _evolved_table(catalog, spark, name="db.stream_scan")
    listed_rows = _sorted_rows(t.scan().to_df(spark))
    t.properties["read.spark.max-listed-files"] = "1"
    df = t.scan().to_df(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _streams(plan)
    assert _sorted_rows(df) == listed_rows
    # projection + limit still apply on the streamed frame
    assert t.scan().select("id").to_df(spark).columns == ["id"]
    assert t.scan(limit=5).to_df(spark).count() == 5
    # a filtered scan STREAMS too when it still matches more files than
    # the listing threshold (r14: the gate is the MATCHED count from
    # the prune job, not filter presence)
    fdf = t.scan(row_filter=E.less_than("id", 10)).to_df(spark)
    fplan = fdf._jdf.queryExecution().executedPlan().toString()
    assert _streams(fplan)
    assert sorted(r["id"] for r in fdf.select("id").collect()) == list(range(10))


def test_streaming_filtered_gate_on_matched_count(spark, catalog):
    """The streaming gate counts MATCHED files: a selective filter whose
    matched set fits under the threshold collects the (already-pruned)
    frame into tasks and takes the JVM/listed route — the prune work is
    reused, never re-planned; a low-selectivity filter streams."""
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    df = spark.createDataFrame(
        [(i, i % 4, f"v{i}") for i in range(400)], "id long, bucket long, v string"
    )
    t = catalog.create_table("db.stream_gate", schema_from_spark(df.schema))
    # one file per id-range so metrics pruning can isolate small matches
    for lo in range(0, 400, 100):
        t.append(df.where((F.col("id") >= lo) & (F.col("id") < lo + 100)).coalesce(1))
        t.refresh()
    t.properties["read.spark.max-listed-files"] = "2"
    # matches one file (id bounds) → collected: no prune job in the plan
    sel = t.scan(row_filter=E.less_than("id", 50)).to_df(spark)
    splan = sel._jdf.queryExecution().executedPlan().toString()
    assert not _streams(splan)
    assert sel.count() == 50
    # matches all four files (> threshold) → streams
    wide = t.scan(row_filter=E.greater_than_or_equal("id", 0)).to_df(spark)
    wplan = wide._jdf.queryExecution().executedPlan().toString()
    assert _streams(wplan)
    assert wide.count() == 400


def test_streaming_plan_read_mor(spark, catalog):
    """Positional deletes / DVs stream too (r14): the delete side plans
    driver-side (O(small)) and anti-joins the streamed (_fp, _pos)
    frame; equality deletes still fall back to the collected plan."""
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    df = spark.createDataFrame([(i, f"v{i}") for i in range(40)], "id long, v string")
    t = catalog.create_table("db.stream_mor", schema_from_spark(df.schema))
    t.upgrade_format_version(3)
    t.refresh()
    t.append(df.repartition(4))
    t.refresh()
    t.delete_where(spark, E.less_than("id", 5))  # deletion vectors
    t.refresh()
    t.properties["read.spark.max-listed-files"] = "1"
    sdf, pre = t.scan()._stream_plan_route(spark)
    assert sdf is not None and pre is None
    mor = t.scan().to_df(spark)
    plan = mor._jdf.queryExecution().executedPlan().toString()
    assert _streams(plan)
    assert sorted(r["id"] for r in mor.collect()) == list(range(5, 40))
    # count() must NOT answer from record counts while deletes exist
    assert t.scan().count(spark) == 35
    # an equality delete flips the route to the collected plan
    t.upsert(
        spark.createDataFrame([(7, "UP7")], "id long, v string"), ["id"]
    )
    t.refresh()
    t.properties["read.spark.max-listed-files"] = "1"
    sdf2, pre2 = t.scan()._stream_plan_route(spark)
    assert sdf2 is None and pre2 is not None
    got = {r["id"]: r["v"] for r in t.scan().to_df(spark).collect()}
    assert got[7] == "UP7" and len(got) == 35


def test_streaming_metadata_count(spark, catalog):
    """Filter-free count() on a streaming-eligible snapshot sums record
    counts inside the prune job — no descriptor collect, no data read."""
    t = _evolved_table(catalog, spark, name="db.stream_count")
    t.properties["read.spark.max-listed-files"] = "1"
    assert t.scan()._stream_plan_eligible()
    assert t.scan().count(spark) == 80


def test_wide_mor_read_matches_listed(spark, catalog):
    """MOR scans above the threshold stream paths too: the reader emits
    (_fp, _pos) in-task (file-order exact, pushdown disabled) and the
    positional anti-join applies unchanged. Parity across DV deletes +
    equality deletes, plus a residual filter."""
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    df = spark.createDataFrame(
        [(i, i % 7, f"v{i}") for i in range(500)], "id long, g long, v string"
    )
    t = catalog.create_table("db.wide_mor", schema_from_spark(df.schema))
    t.upgrade_format_version(3)
    t.refresh()
    t.append(df.repartition(5))
    t.refresh()
    t.delete_where(spark, E.less_than("id", 50))  # deletion vectors
    t.refresh()
    t.upsert(
        spark.createDataFrame([(60, 60 % 7, "UP60")], "id long, g long, v string"),
        ["id"],
    )  # equality delete + re-append
    t.refresh()
    listed = _sorted_rows(t.scan().to_df(spark))
    flt_listed = _sorted_rows(
        t.scan(row_filter=E.greater_than_or_equal("id", 400)).to_df(spark)
    )
    t.properties["read.spark.max-listed-files"] = "1"
    wide_df = t.scan().to_df(spark)
    plan = wide_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert _sorted_rows(wide_df) == listed
    assert {r["v"] for r in wide_df.where("id = 60").collect()} == {"UP60"}
    assert wide_df.where("id < 50").count() == 0
    assert _sorted_rows(
        t.scan(row_filter=E.greater_than_or_equal("id", 400)).to_df(spark)
    ) == flt_listed


def test_distributed_read_full_type_surface(spark, catalog):
    """Parity across the type surface the arrow reader must carry:
    timestamp (ntz), date, decimal, float, boolean, binary — the
    listed JVM read and the forced distributed read return identical
    rows and identical schemas."""
    import datetime as dt
    from decimal import Decimal

    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("ts", T.TimestampNTZType(), True),
            T.StructField("tstz", T.TimestampType(), True),
            T.StructField("d", T.DateType(), True),
            T.StructField("dec", T.DecimalType(12, 2), True),
            T.StructField("f", T.FloatType(), True),
            T.StructField("b", T.BooleanType(), True),
            T.StructField("raw", T.BinaryType(), True),
        ]
    )
    rows = [
        (
            i,
            dt.datetime(2024, 1, 1 + i % 27, 12, 30, i % 60, 123456),
            dt.datetime(2024, 5, 1, 10, 0, i % 60),
            dt.date(2024, 2, 1 + i % 27),
            Decimal(f"{i}.25"),
            float(i) * 0.5,
            i % 2 == 0,
            bytes([i % 256, 255 - i % 256]),
        )
        for i in range(40)
    ] + [(999, None, None, None, None, None, None, None)]
    df = spark.createDataFrame(rows, schema)
    t = catalog.create_table("db.wide_types", schema_from_spark(df.schema))
    t.append(df.repartition(3))
    listed = t.scan().to_df(spark)
    listed_rows = _sorted_rows(listed)
    t.properties["read.spark.max-listed-files"] = "1"
    dist = t.scan().to_df(spark)
    assert "MapInArrow" in dist._jdf.queryExecution().executedPlan().toString()
    assert dist.schema == listed.schema
    assert _sorted_rows(dist) == listed_rows


def test_metadata_tables_fan_out(spark, catalog, monkeypatch):
    """files/entries/partitions metadata tables decode manifests on
    executors when their cold entries reach the executor-planning
    constant — identical rows to the driver-local decode."""
    from iceberg_go_distributed_spark.iceberg import table as table_mod
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    df = spark.createDataFrame(
        [(i, i % 4) for i in range(200)], "id long, g long"
    )
    t = catalog.create_table("db.meta_fan", schema_from_spark(df.schema))
    for i in range(4):  # several snapshots -> several manifests
        t.append(df.where(f"id % 4 = {i}").repartition(2))
        t.refresh()
    local_files = sorted(map(tuple, t.inspect_files(spark).collect()))
    local_entries = sorted(map(tuple, t.inspect_entries(spark).collect()))
    local_parts = sorted(map(tuple, t.inspect_partitions(spark).collect()))
    # the local decode made every manifest resident: 0 forces the
    # fan-out regardless
    monkeypatch.setattr(table_mod, "_EXECUTOR_PLAN_MIN_ENTRIES", 0)
    assert sorted(map(tuple, t.inspect_files(spark).collect())) == local_files
    assert (
        sorted(map(tuple, t.inspect_entries(spark).collect())) == local_entries
    )
    assert (
        sorted(map(tuple, t.inspect_partitions(spark).collect())) == local_parts
    )
    assert len(local_files) >= 8


def test_wide_read_name_mapped_table(spark, catalog, tmp_path):
    """Name-mapped (add_files) tables take the wide routes too (r13):
    the reader resolves ID-less files through the mapping per file —
    a renamed column returns the stored values under its NEW name, and
    a mixed table (imported ID-less files + native ID-ed files) stitches
    both kinds. Streaming and listed routes row-equal."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_go_distributed_spark.iceberg.types import (
        NestedField,
        Schema,
    )

    schema = Schema.of(
        1,
        NestedField(1, "id", ty.LongType(), required=True),
        NestedField(2, "payload", ty.StringType()),
    )
    t = catalog.create_table("db.wide_nm", schema)
    # two external files WITHOUT field ids → name mapping
    for i in range(2):
        ext = str(tmp_path / f"ext{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "id": pa.array([10 * i + 1, 10 * i + 2], pa.int64()),
                    "payload": [f"a{i}", f"b{i}"],
                }
            ),
            ext,
        )
        t.add_files([ext])
        t.refresh()
    # rename: ID-less files keep the OLD physical name; the mapping
    # carries both
    t.update_schema().rename_column("payload", "body").commit()
    t.refresh()
    # plus a native append under the new schema (files WITH field ids)
    t.append(
        spark.createDataFrame([(100, "native")], "id long, body string")
    )
    t.refresh()
    listed = _sorted_rows(t.scan().to_df(spark))
    t.properties["read.spark.max-listed-files"] = "1"
    # streaming plan→read route (unfiltered)
    dist = t.scan().to_df(spark)
    plan = dist._jdf.queryExecution().executedPlan().toString()
    assert _streams(plan)
    assert _sorted_rows(dist) == listed
    rows = {r["id"]: r["body"] for r in dist.collect()}
    assert rows[1] == "a0" and rows[12] == "b1" and rows[100] == "native"
    # filtered (collected + wide read) route
    flt = t.scan(row_filter=E.greater_than_or_equal("id", 11)).to_df(spark)
    assert sorted(r["id"] for r in flt.collect()) == [11, 12, 100]


def test_wide_read_schema_pruned(spark, catalog, monkeypatch):
    """A projected scan hands the Arrow reader a PRUNED schema —
    projection ∪ filter-referenced fields — so mapInArrow tasks never
    materialize unselected columns (VERDICT r13 task 1: Catalyst cannot
    push a projection through mapInArrow)."""
    from iceberg_go_distributed_spark.iceberg.table import Scan

    t = _evolved_table(catalog, spark, name="db.wide_pruned")
    t.properties["read.spark.max-listed-files"] = "1"
    captured = []
    orig = Scan._read_files_arrow_distributed

    def spy(self, spark_, files, schema, **kw):
        captured.append([f.name for f in schema.fields])
        return orig(self, spark_, files, schema, **kw)

    monkeypatch.setattr(Scan, "_read_files_arrow_distributed", spy)
    df = (
        t.scan(row_filter=E.greater_than_or_equal("id", 40))
        .select("label")
        .to_df(spark)
    )
    assert captured and set(captured[-1]) == {"id", "label"}
    assert df.columns == ["label"]
    assert sorted(r["label"] for r in df.collect()) == sorted(
        f"n{i}" for i in range(40, 80)
    )
    # unprojected scans still read the full schema
    captured.clear()
    t.scan().to_df(spark)
    assert captured and set(captured[-1]) == {"id", "qty", "label", "note"}


def test_arrow_read_file_single_open_and_pruned_columns(tmp_path, monkeypatch):
    """The per-file reader serves the schema probe AND the data read
    from ONE open handle (VERDICT r13 task 4) and physically reads only
    the pruned column set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_go_distributed_spark.iceberg import fileio
    from iceberg_go_distributed_spark.iceberg.reader import _arrow_read_file

    path = str(tmp_path / "f.parquet")
    schema = pa.schema(
        [
            pa.field("a", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
            pa.field("b", pa.string(), metadata={b"PARQUET:field_id": b"2"}),
            pa.field("c", pa.float64(), metadata={b"PARQUET:field_id": b"3"}),
        ]
    )
    pq.write_table(
        pa.table(
            {"a": [1, 2, 3], "b": ["x", "y", "z"], "c": [1.0, 2.0, 3.0]},
            schema=schema,
        ),
        path,
    )
    opens = []
    orig = fileio.open_input
    monkeypatch.setattr(
        fileio, "open_input", lambda p: (opens.append(p) or orig(p))
    )
    fields = [(1, "a", pa.int64(), None), (2, "b", pa.string(), None)]
    tbl, resolve = _arrow_read_file(path, fields, {}, None, set(), False)
    assert len(opens) == 1, f"expected a single open, saw {len(opens)}"
    assert set(tbl.column_names) == {"a", "b"}  # column c never read
    assert resolve == {1: "a", 2: "b"}
    assert tbl.column("a").to_pylist() == [1, 2, 3]
