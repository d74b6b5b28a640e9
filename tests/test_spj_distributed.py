"""Executor-side SPJ bucket grouping (VERDICT r13 task 2).

`_side_tasks` groups planned files by partition value in driver Python
— O(files) driver memory per join side, the same collect the streaming
plan→read eliminated for plain scans. Once a side's live data files
reach the executor-planning constant, `_side_blobs` groups the
distributed prune frame's descriptors executor-side into one
compressed blob row per bucket, and
`_bucket_task_frame` joins the two sides' blob frames Spark-side —
the driver never sees a file descriptor.

These tests force the route by dropping the constant
(`table._EXECUTOR_PLAN_MIN_ENTRIES`) to 0 and pin parity against the
driver-grouped path on the shapes that distinguish them: null keys,
oversized-bucket fragment splits (plain + fused two-phase), MOR tables
(DVs + equality deletes matched inside the grouping task), as-of, and
single-side aggregation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg.partitioning import spec_from
from iceberg_go_distributed_spark.iceberg.spj import (
    _spj_wide,
    storage_partitioned_agg,
    storage_partitioned_asof_join,
    storage_partitioned_join,
    storage_partitioned_join_agg,
    storage_partitioned_star_join,
)
from iceberg_go_distributed_spark.iceberg.types import schema_from_spark


@pytest.fixture()
def catalog(tmp_path):
    from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog

    return FileSystemCatalog(str(tmp_path / "wh"))


def _bucketed(catalog, name, df, key, n=4):
    schema = schema_from_spark(df.schema)
    t = catalog.create_table(
        f"db.{name}", schema, spec=spec_from(schema, (key, f"bucket[{n}]"))
    )
    t.append(df)
    return t


def _force_wide(monkeypatch):
    from iceberg_go_distributed_spark.iceberg import table as table_mod

    monkeypatch.setattr(table_mod, "_EXECUTOR_PLAN_MIN_ENTRIES", 0)


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda r: tuple((x is None, str(x)) for x in r),
    )


@pytest.fixture()
def lr_tables(spark, catalog):
    left = spark.createDataFrame(
        [(i, f"l{i}") for i in range(200)] + [(None, "nullkey")],
        "k long, lv string",
    )
    right = spark.createDataFrame(
        [(i, float(i) * 2) for i in range(0, 200, 2)]
        + [(3, 333.0)],  # duplicate match for k=3? (3 is odd: no)
        "rk long, rv double",
    )
    tl = _bucketed(catalog, "dl", left, "k")
    tr = _bucketed(catalog, "dr", right, "rk")
    return tl, tr


@pytest.mark.parametrize("how", ["inner", "left", "semi", "anti"])
def test_spj_distributed_matches_driver_path(spark, lr_tables, how, monkeypatch):
    tl, tr = lr_tables
    driver = _rows(
        storage_partitioned_join(spark, tl, tr, on=("k", "rk"), how=how)
    )
    assert not _spj_wide(tl, spark)
    _force_wide(monkeypatch)
    assert _spj_wide(tl, spark) and _spj_wide(tr, spark)
    dist_df = storage_partitioned_join(spark, tl, tr, on=("k", "rk"), how=how)
    assert driver == _rows(dist_df)
    # null keys behave identically: present only in left/anti output
    if how in ("left", "anti"):
        assert any(r[0] is None for r in driver)
    else:
        assert not any(r[0] is None for r in driver)


def test_spj_distributed_plan_no_descriptor_collect(spark, lr_tables, monkeypatch):
    """The distributed route's physical plan is blob-frame joins feeding
    mapInArrow — the prune/group/plan stages all show as executor
    operators, and no stage collects descriptors to the driver."""
    tl, tr = lr_tables
    _force_wide(monkeypatch)
    df = storage_partitioned_join(spark, tl, tr, on=("k", "rk"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan  # the bucket join tasks
    assert "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan  # grouping


def test_spj_distributed_oversized_bucket_splits(spark, catalog, monkeypatch):
    """Fragment-replicate under the byte budget, planned executor-side:
    results stay identical to the unsplit driver plan."""
    left = spark.createDataFrame(
        [(1, f"x{i}") for i in range(400)] + [(2, "y")], "k long, lv string"
    )
    right = spark.createDataFrame([(1, 10.0), (2, 20.0)], "rk long, rv double")
    tl = _bucketed(catalog, "sl", left, "k")
    tr = _bucketed(catalog, "sr", right, "rk")
    exp = _rows(storage_partitioned_join(spark, tl, tr, on=("k", "rk")))
    _force_wide(monkeypatch)
    got = _rows(
        storage_partitioned_join(
            spark, tl, tr, on=("k", "rk"), max_bucket_bytes=6000
        )
    )
    assert got == exp
    # a budget below the largest file still refuses (executor-side now)
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as ei:
        storage_partitioned_join(
            spark, tl, tr, on=("k", "rk"), max_bucket_bytes=10
        ).collect()
    assert "join.spj.max-bucket-bytes" in str(ei.value)


def test_spj_distributed_with_deletes(spark, catalog, monkeypatch):
    """DVs and equality deletes match inside the executor grouping task
    (sequence-gated, same `build_delete_matcher` the planners share)."""
    df = spark.createDataFrame(
        [(i % 8, i, f"v{i}") for i in range(320)], "k long, id long, v string"
    )
    t = catalog.create_table(
        "db.mor_dist",
        schema_from_spark(df.schema),
        spec=spec_from(schema_from_spark(df.schema), ("k", "bucket[4]")),
    )
    t.upgrade_format_version(3)
    t.refresh()
    t.append(df.repartition(4))
    t.refresh()
    t.delete_where(spark, E.less_than("id", 40))  # deletion vectors
    t.refresh()
    t.upsert(
        spark.createDataFrame([(5 % 8, 45, "UP45")], "k long, id long, v string"),
        ["id"],
    )  # equality delete + re-append
    t.refresh()
    right = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(8)], "rk long, label string"
    )
    tr = _bucketed(catalog, "mor_dim", right, "rk")
    exp = _rows(storage_partitioned_join(spark, t, tr, on=("k", "rk")))
    _force_wide(monkeypatch)
    got_df = storage_partitioned_join(spark, t, tr, on=("k", "rk"))
    got = _rows(got_df)
    assert got == exp
    ids = {r[1] for r in got}
    assert 45 in ids and not ids & set(range(40))
    assert {r[2] for r in got if r[1] == 45} == {"UP45"}


def test_spj_distributed_fused_agg_two_phase(spark, catalog, monkeypatch):
    """Fused join→agg with an over-budget bucket: split fragments route
    to the partial pipeline via the task frame's split flag — values
    bit-identical to the driver-planned twin."""
    left = spark.createDataFrame(
        [(i % 4, i, float(i % 10)) for i in range(800)],
        "k long, id long, amt double",
    )
    right = spark.createDataFrame(
        [(k, f"g{k % 2}") for k in range(4)], "rk long, grp string"
    )
    tl = _bucketed(catalog, "fl", left, "k")
    tr = _bucketed(catalog, "fr", right, "rk")
    aggs = {
        "n": ("id", "count"),
        "tot": ("amt", "sum"),
        "avg_amt": ("amt", "mean"),
        "hi": ("id", "max"),
    }
    exp = _rows(
        storage_partitioned_join_agg(
            spark, tl, tr, on=("k", "rk"), aggs=aggs, group_keys=["k", "grp"]
        )
    )
    _force_wide(monkeypatch)
    got = _rows(
        storage_partitioned_join_agg(
            spark,
            tl,
            tr,
            on=("k", "rk"),
            aggs=aggs,
            group_keys=["k", "grp"],
            max_bucket_bytes=9000,  # forces at least one bucket to split
        )
    )
    assert got == exp


def test_spj_distributed_star_join(spark, catalog, monkeypatch):
    """N-way star through the blob-frame route: parity with the driver
    plan, both plain and fused-with-forced-fact-split."""
    fact = spark.createDataFrame(
        [(i % 5, i, float(i % 7)) for i in range(500)],
        "k long, id long, amt double",
    )
    d1 = spark.createDataFrame([(k, f"a{k}") for k in range(5)], "k1 long, a string")
    d2 = spark.createDataFrame([(k, k * 10) for k in range(5)], "k2 long, b long")
    tf = _bucketed(catalog, "stf", fact, "k")
    t1 = _bucketed(catalog, "std1", d1, "k1")
    t2 = _bucketed(catalog, "std2", d2, "k2")
    sides = [
        {"table": tf, "key": "k", "select": ["k", "id", "amt"]},
        {"table": t1, "key": "k1", "select": ["k1", "a"]},
        {"table": t2, "key": "k2", "select": ["k2", "b"]},
    ]
    exp = _rows(storage_partitioned_star_join(spark, sides))
    exp_agg = _rows(
        storage_partitioned_star_join(
            spark, sides, aggs={"n": ("id", "count"), "s": ("amt", "sum")},
            group_keys=["k", "a"],
        )
    )
    _force_wide(monkeypatch)
    got_df = storage_partitioned_star_join(spark, sides)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    # the star tasks read via mapInArrow; the only join operators in
    # the plan are the O(buckets) blob-frame planning joins on `part`
    # — no exchange may carry table data columns
    assert "MapInArrow" in plan
    assert "hashpartitioning(k#" not in plan and "hashpartitioning(id#" not in plan
    assert _rows(got_df) == exp
    # fused star with a budget forcing the fact bucket to fragment:
    # split rows route to the partial pipeline, values identical
    assert exp_agg == _rows(
        storage_partitioned_star_join(
            spark, sides, aggs={"n": ("id", "count"), "s": ("amt", "sum")},
            group_keys=["k", "a"], max_bucket_bytes=7000,
        )
    )


def test_spj_merge_wide_precheck(spark, catalog, monkeypatch):
    """MERGE with wide co-partitioned sides: the pre-check runs as
    Spark jobs (no O(files) driver collect), the SPJ legs engage, and
    the end state matches the driver-grouped twin."""
    from iceberg_go_distributed_spark.iceberg.write import _spj_merge_route

    def build(suffix):
        tgt = spark.createDataFrame(
            [(i, f"v{i}") for i in range(300)], "id long, v string"
        )
        src = spark.createDataFrame(
            [(i, f"u{i}") for i in range(0, 300, 3)]
            + [(1000 + i, f"n{i}") for i in range(5)],
            "id long, v string",
        )
        tt = _bucketed(catalog, f"mt{suffix}", tgt, "id")
        ts = _bucketed(catalog, f"ms{suffix}", src, "id")
        # defeat the r14 source-size gate (tiny fixture would broadcast)
        tt.properties["write.merge.spj.min-source-rows"] = "0"
        return tt, ts

    def run_merge(tt, ts):
        assert tt.merge(
            spark,
            ts,
            on=["id"],
            matched_update={"v": "source.v"},
            not_matched_insert={"id": "source.id", "v": "source.v"},
        )
        tt.refresh()
        return _rows(tt.scan().to_df(spark))

    tt_d, ts_d = build("drv")
    exp = run_merge(tt_d, ts_d)

    tt_w, ts_w = build("wide")
    _force_wide(monkeypatch)
    assert _spj_wide(tt_w, spark)
    spj = _spj_merge_route(tt_w, spark, ts_w, ["id"])
    assert spj is not None, "wide pre-check refused an eligible merge"
    assert run_merge(tt_w, ts_w) == exp

    # over-budget bucket pair → pre-check returns None (falls back to
    # the regular path) instead of raising from an executor
    tt_o, ts_o = build("over")
    tt_o.properties["join.spj.max-bucket-bytes"] = "10"
    assert _spj_merge_route(tt_o, spark, ts_o, ["id"]) is None
    assert run_merge(tt_o, ts_o) == exp


def test_spj_distributed_agg_and_asof(spark, catalog, monkeypatch):
    events = spark.createDataFrame(
        [(i % 6, i, float(i)) for i in range(600)],
        "k long, ts long, val double",
    )
    quotes = spark.createDataFrame(
        [(i % 6, i * 2, float(i) / 2) for i in range(150)],
        "k long, ts long, px double",
    )
    te = _bucketed(catalog, "ae", events, "k")
    tq = _bucketed(catalog, "aq", quotes, "k")
    agg_exp = _rows(
        storage_partitioned_agg(
            spark, te, "k", {"n": ("ts", "count"), "s": ("val", "sum")}
        )
    )
    asof_exp = _rows(
        storage_partitioned_asof_join(
            spark, te, tq, on="k", left_ts="ts", right_ts="ts",
            right_cols=["px"],
        )
    )
    _force_wide(monkeypatch)
    assert agg_exp == _rows(
        storage_partitioned_agg(
            spark, te, "k", {"n": ("ts", "count"), "s": ("val", "sum")}
        )
    )
    assert asof_exp == _rows(
        storage_partitioned_asof_join(
            spark, te, tq, on="k", left_ts="ts", right_ts="ts",
            right_cols=["px"],
        )
    )
