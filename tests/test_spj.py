"""Storage-partitioned join / aggregation over the engine's own
bucket-partitioned tables (iceberg/spj.py).

Unlike test_bucketed_join.py (Spark-managed bucketBy tables), these run
on OUR table format: the bucket co-location comes from the Iceberg
bucket[N] partition transform (bit-exact murmur3, transforms.py), the
reads honor positional deletes / DVs, and both scan sides prune through
the normal four-level cascade before bucket grouping.  The plan never
exchanges table data — at most the executor-planned route's O(buckets)
task-descriptor repartition.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_go_distributed_spark.datasets import load_table
from iceberg_go_distributed_spark.iceberg.partitioning import spec_from
from iceberg_go_distributed_spark.iceberg.spj import (
    storage_partitioned_agg,
    storage_partitioned_join,
)
from iceberg_go_distributed_spark.iceberg.types import schema_from_spark


@pytest.fixture()
def catalog(tmp_path):
    from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog

    return FileSystemCatalog(str(tmp_path / "wh"))


def _bucketed(catalog, name, df, key, n=8):
    schema = schema_from_spark(df.schema)
    t = catalog.create_table(f"db.{name}", schema, spec=spec_from(schema, (key, f"bucket[{n}]")))
    t.append(df)
    return t


@pytest.fixture()
def cust_orders(spark, sf_dir, catalog):
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tc = _bucketed(catalog, "cust", cust, "c_custkey")
    to = _bucketed(catalog, "ord", orders, "o_custkey")
    return tc, to, cust, orders


def _agg_rows(df, seg_col="c_mktsegment"):
    return [
        tuple(r)
        for r in df.groupBy(seg_col)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double").alias("tot"),
        )
        .orderBy(seg_col)
        .collect()
    ]


def test_spj_inner_matches_shuffle_join(spark, cust_orders):
    tc, to, cust, orders = cust_orders
    got = storage_partitioned_join(
        spark,
        to,
        tc,
        on=("o_custkey", "c_custkey"),
        left_select=["o_custkey", "o_totalprice"],
        right_select=["c_custkey", "c_mktsegment"],
    )
    exp = orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
    assert _agg_rows(got) == _agg_rows(exp)


def test_spj_left_join_and_null_keys(spark, catalog):
    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "nullkey"), (9, "nomatch")],
        "k int, lv string",
    )
    right = spark.createDataFrame(
        [(1, 10.0), (1, 11.0), (2, 20.0)], "rk int, rv double"
    )
    tl = _bucketed(catalog, "l", left, "k", n=4)
    tr = _bucketed(catalog, "r", right, "rk", n=4)
    got = storage_partitioned_join(spark, tl, tr, on=("k", "rk"), how="left")
    rows = sorted(
        [tuple(r) for r in got.collect()], key=lambda r: (r[1] or "", r[2] or 0)
    )
    # k=1 matches twice, k=2 once, null key and 9 unmatched with null rv
    assert (1, "a", 10.0) in rows and (1, "a", 11.0) in rows
    assert (2, "b", 20.0) in rows
    assert (None, "nullkey", None) in rows
    assert (9, "nomatch", None) in rows
    assert len(rows) == 5
    # inner drops the unmatched rows (and never reads the null bucket)
    inner = storage_partitioned_join(spark, tl, tr, on=("k", "rk"), how="inner")
    assert inner.count() == 3


def test_spj_applies_positional_deletes(spark, sf_dir, catalog):
    from iceberg_go_distributed_spark.iceberg import expressions as E

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    to = _bucketed(catalog, "ord_mor", orders, "o_custkey")
    tc = _bucketed(catalog, "cust_mor", cust, "c_custkey")
    to.delete_where(spark, E.greater_than("o_totalprice", 150000.0))
    assert any(
        t.delete_files for t in to.scan().plan_files()
    ), "expected MOR tasks with delete files"
    got = storage_partitioned_join(
        spark,
        to,
        tc,
        on=("o_custkey", "c_custkey"),
        left_select=["o_custkey", "o_totalprice"],
        right_select=["c_custkey", "c_mktsegment"],
    )
    exp = (
        orders.where("NOT (o_totalprice > 150000.0)")
        .join(cust, orders.o_custkey == cust.c_custkey, "inner")
    )
    assert _agg_rows(got) == _agg_rows(exp)


def test_spj_reads_renamed_columns_by_field_id(spark, catalog):
    """A column renamed after the first append keeps its stored values
    in SPJ bucket reads: the old files carry the pre-rename physical
    name, and the bucket reader resolves columns by field id, never by
    the current name (which would read NULLs)."""
    t = _bucketed(
        catalog,
        "ren",
        spark.createDataFrame([(1, 10), (1, 5), (2, 7)], "k long, v long"),
        "k",
        n=4,
    )
    t.update_schema().rename_column("v", "w").commit()
    t.append(spark.createDataFrame([(2, 1)], "k long, w long"))
    assert sorted(tuple(r) for r in t.scan().to_df(spark).collect()) == [
        (1, 5),
        (1, 10),
        (2, 1),
        (2, 7),
    ]

    agg = storage_partitioned_agg(spark, t, on="k", aggs={"s": ("w", "sum")})
    assert sorted(tuple(r) for r in agg.collect()) == [(1, 15), (2, 8)]

    probe = _bucketed(
        catalog, "ren_probe", spark.createDataFrame([(1,), (2,)], "pk long"), "pk", n=4
    )
    joined = storage_partitioned_join(
        spark, probe, t, on=("pk", "k"), right_select=["k", "w"]
    )
    assert joined.columns == ["pk", "w"]
    assert sorted(tuple(r) for r in joined.collect()) == [
        (1, 5),
        (1, 10),
        (2, 1),
        (2, 7),
    ]


def test_spj_applies_equality_deletes(spark, sf_dir, catalog):
    """Equality deletes (the MERGE/upsert debt shape) are matched
    in-task by field id with NULL==NULL semantics — a hot MERGE table
    joins without waiting for eq→DV conversion."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    to = _bucketed(catalog, "ord_eq", orders, "o_custkey")
    tc = _bucketed(catalog, "cust_eq", cust, "c_custkey")
    keys = orders.where("o_orderkey % 5 = 0").select("o_orderkey")
    to.delete_by_keys(keys, ["o_orderkey"])
    got = storage_partitioned_join(
        spark,
        to,
        tc,
        on=("o_custkey", "c_custkey"),
        left_select=["o_custkey", "o_totalprice"],
        right_select=["c_custkey", "c_mktsegment"],
    )
    exp = (
        orders.where("o_orderkey % 5 != 0")
        .join(cust, orders.o_custkey == cust.c_custkey, "inner")
    )
    assert _agg_rows(got) == _agg_rows(exp)


def test_spj_refuses_incompatible_layouts(spark, catalog):
    df = spark.createDataFrame([(1, "x")], "k int, v string")
    t4 = _bucketed(catalog, "b4", df, "k", n=4)
    t8 = _bucketed(catalog, "b8", df.withColumnRenamed("v", "w"), "k", n=8)
    with pytest.raises(ValueError, match="bucket counts differ"):
        storage_partitioned_join(spark, t4, t8, on="k")
    # unpartitioned side
    schema = schema_from_spark(df.schema)
    tu = catalog.create_table("db.unpart", schema)
    tu.append(df)
    with pytest.raises(ValueError, match="not bucket-partitioned"):
        storage_partitioned_join(spark, t4, tu, on="k")
    # cross-family key types (long vs string) cannot share buckets
    sdf = spark.createDataFrame([("1", 1.0)], "sk string, sv double")
    ts = _bucketed(catalog, "bs", sdf, "sk", n=4)
    with pytest.raises(ValueError, match="hash families"):
        storage_partitioned_join(spark, t4, ts, on=("k", "sk"))


def test_spj_int_long_key_family_joins(spark, catalog):
    """int and long keys hash identically (Iceberg spec: int buckets
    hash as long), so the families join — the key is widened to int64
    in-task and the output keeps the left schema's type."""
    left = spark.createDataFrame([(1, "a"), (2, "b")], "k int, lv string")
    right = spark.createDataFrame([(1, 7.0)], "rk long, rv double")
    tl = _bucketed(catalog, "il", left, "k", n=4)
    tr = _bucketed(catalog, "ir", right, "rk", n=4)
    got = storage_partitioned_join(spark, tl, tr, on=("k", "rk"))
    assert got.schema["k"].dataType.simpleString() == "int"
    assert [tuple(r) for r in got.collect()] == [(1, "a", 7.0)]


def test_spj_bucket_byte_bound_refuses(spark, cust_orders):
    tc, to, _, _ = cust_orders
    with pytest.raises(ValueError, match="join.spj.max-bucket-bytes"):
        storage_partitioned_join(
            spark, to, tc, on=("o_custkey", "c_custkey"), max_bucket_bytes=1024
        )


def test_spj_filters_prune_before_grouping(spark, cust_orders):
    """A key-equality filter prunes to ONE bucket's files on both
    sides (the bucket transform projects the predicate), so the task
    list is a single bucket — pruning happens before any read."""
    from iceberg_go_distributed_spark.iceberg import expressions as E
    from iceberg_go_distributed_spark.iceberg.transforms import BucketTransform
    from iceberg_go_distributed_spark.iceberg.types import LongType

    tc, to, cust, orders = cust_orders
    key = 7
    got = storage_partitioned_join(
        spark,
        to,
        tc,
        on=("o_custkey", "c_custkey"),
        left_filter=E.equal("o_custkey", key),
        right_filter=E.equal("c_custkey", key),
        left_select=["o_custkey", "o_totalprice"],
        right_select=["c_custkey", "c_mktsegment"],
    )
    exp = (
        orders.where(F.col("o_custkey") == key)
        .join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .select("o_custkey", "o_totalprice", "c_mktsegment")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
    # the planned task frame holds exactly the probed bucket
    b = BucketTransform(8).apply(key, LongType())
    tasks = to.scan(row_filter=E.equal("o_custkey", key)).plan_files()
    assert tasks and all(t.file.partition["o_custkey_bucket"] == b for t in tasks)


def test_spj_plan_has_no_table_exchange(spark, cust_orders):
    """The driver-planned SPJ plan has no exchange at all: the bucket
    task rows are an Arrow `LocalTableScan` the join tasks run over
    directly; no hashpartitioning of table data, no
    SortMergeJoin/ShuffledHashJoin operators at all."""
    tc, to, _, _ = cust_orders
    df = storage_partitioned_join(
        spark,
        to,
        tc,
        on=("o_custkey", "c_custkey"),
        left_select=["o_custkey", "o_totalprice"],
        right_select=["c_custkey", "c_mktsegment"],
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "hashpartitioning" not in plan
    assert "Exchange" not in plan
    assert "LocalTableScan" in plan and "MapInArrow" in plan


def test_spj_agg_matches_groupby(spark, sf_dir, catalog):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    to = _bucketed(catalog, "ord_agg", orders, "o_custkey")
    got = storage_partitioned_agg(
        spark,
        to,
        on="o_custkey",
        aggs={
            "n": ("o_orderkey", "count"),
            "tot": ("o_totalprice", "sum"),
            "mx": ("o_totalprice", "max"),
        },
    )
    exp = orders.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("n2"),
        F.sum("o_totalprice").alias("tot2"),
        F.max("o_totalprice").alias("mx2"),
    )
    assert got.count() == exp.count()
    bad = (
        got.join(exp, "o_custkey")
        .where("n != n2 OR abs(tot - tot2) > 1e-6 OR mx != mx2")
        .count()
    )
    assert bad == 0


def test_spj_agg_output_types_widen_sums(spark, catalog):
    df = spark.createDataFrame([(1, 2_000_000_000), (1, 2_000_000_000)], "k int, v int")
    t = _bucketed(catalog, "wide", df, "k", n=2)
    got = storage_partitioned_agg(spark, t, on="k", aggs={"s": ("v", "sum")})
    [row] = got.collect()
    assert row.s == 4_000_000_000  # would overflow int32
    assert got.schema["s"].dataType.simpleString() == "bigint"


def test_spj_residual_filter_on_unselected_column(spark, cust_orders):
    """The residual may reference a column outside the projection — it
    is read for the filter, applied, then dropped."""
    from iceberg_go_distributed_spark.iceberg import expressions as E

    tc, to, cust, orders = cust_orders
    got = storage_partitioned_join(
        spark,
        to,
        tc,
        on=("o_custkey", "c_custkey"),
        left_filter=E.greater_than("o_totalprice", 100000.0),
        left_select=["o_custkey", "o_orderkey"],
        right_select=["c_custkey", "c_mktsegment"],
    )
    assert "o_totalprice" not in got.columns
    exp = (
        orders.where("o_totalprice > 100000.0")
        .join(cust, orders.o_custkey == cust.c_custkey, "inner")
    )
    assert got.count() == exp.count()


def test_spj_agg_with_row_filter(spark, sf_dir, catalog):
    from iceberg_go_distributed_spark.iceberg import expressions as E

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = _bucketed(catalog, "ord_fagg", orders, "o_custkey")
    got = storage_partitioned_agg(
        spark,
        t,
        on="o_custkey",
        aggs={"n": ("o_orderkey", "count")},
        row_filter=E.less_than("o_totalprice", 50000.0),
    )
    exp = (
        orders.where("o_totalprice < 50000.0")
        .groupBy("o_custkey")
        .agg(F.count("o_orderkey").alias("n2"))
    )
    assert got.count() == exp.count()
    assert got.join(exp, "o_custkey").where("n != n2").count() == 0


def test_to_arrow_expression_sql_null_semantics():
    """Arrow residual compile: predicates over null drop the row (SQL
    ternary), including NOT IN — arrow's isin maps null to false, so the
    compiler adds the explicit validity guard — and NaN follows the
    IEEE rule of the expressions.py docstring."""
    import pyarrow as pa

    from iceberg_go_distributed_spark.iceberg import expressions as E
    from iceberg_go_distributed_spark.iceberg.expressions import (
        bind_expr,
        rewrite_not,
        to_arrow_expression,
    )
    from iceberg_go_distributed_spark.iceberg.types import (
        DoubleType,
        LongType,
        NestedField,
        Schema,
        StringType,
    )

    schema = Schema.of(
        0,
        NestedField(1, "k", LongType(), False),
        NestedField(2, "s", StringType(), False),
        NestedField(3, "x", DoubleType(), False),
    )
    t = pa.table(
        {
            "k": pa.array([1, 2, None], pa.int64()),
            "s": ["ab", "cd", None],
            "x": [1.0, float("nan"), None],
        }
    )

    def run(expr):
        bound = bind_expr(rewrite_not(expr), schema)
        return t.filter(to_arrow_expression(bound))["k"].to_pylist()

    assert run(E.not_in("s", ["cd"])) == [1]  # null s dropped, SQL NOT IN
    assert run(E.is_in("s", ["ab", "cd"])) == [1, 2]
    assert run(E.equal("k", 2)) == [2]
    assert run(E.not_equal("k", 2)) == [1]  # null k dropped
    assert run(E.is_null("k")) == [None]
    assert run(E.not_null("k")) == [1, 2]
    assert run(E.is_nan("x")) == [2]
    # is_nan(null) is false, so not_nan(null) is true: the null row stays
    assert run(E.not_nan("x")) == [1, None]
    # NaN satisfies no ordering or equality comparison, but does satisfy
    # != and NOT IN; every comparison over null drops the row
    assert run(E.greater_than("x", 0.5)) == [1]
    assert run(E.greater_than_or_equal("x", float("-inf"))) == [1]
    assert run(E.less_than_or_equal("x", float("inf"))) == [1]
    assert run(E.equal("x", 1.0)) == [1]
    assert run(E.not_equal("x", 1.0)) == [2]
    assert run(E.not_in("x", [1.0, 3.0])) == [2]
    assert run(E.not_(E.greater_than("x", 0.5))) == []
    assert run(E.starts_with("s", "a")) == [1]
    assert run(E.and_(E.greater_than("k", 0), E.less_than("k", 2))) == [1]
    assert run(E.or_(E.equal("k", 1), E.equal("k", 2))) == [1, 2]


def test_spj_oversized_bucket_splits_fragment_replicate(spark, catalog):
    """A skewed bucket larger than the byte bound splits: one side's
    files fragment across tasks, the other side's bucket replicates —
    results identical, each split-side row in exactly one task."""
    import pyspark.sql.functions as SF

    left = spark.range(0, 2000).select(
        (SF.col("id") % 10).cast("int").alias("k"), SF.col("id").alias("lv")
    )
    right = spark.createDataFrame(
        [(i, float(i * 100)) for i in range(10)], "rk int, rv double"
    )
    tl = _bucketed(catalog, "sk_l", left.limit(0), "k", n=2)
    # many small left files per bucket (one append → one file per bucket)
    for i in range(6):
        tl.append(left.where((SF.col("lv") % 6) == i))
    tr = _bucketed(catalog, "sk_r", right, "rk", n=2)

    full = storage_partitioned_join(spark, tl, tr, on=("k", "rk"), how="inner")
    exp_n = 2000
    assert full.count() == exp_n
    # force splitting: per-bucket left bytes >> tiny budget that still
    # fits (right bucket + one left file)
    one_left = max(
        t.file.file_size_in_bytes for t in tl.scan().plan_files()
    )
    right_b = max(
        t.file.file_size_in_bytes for t in tr.scan().plan_files()
    )
    tight = one_left + right_b + 256
    split = storage_partitioned_join(
        spark, tl, tr, on=("k", "rk"), how="inner", max_bucket_bytes=tight
    )
    assert split.count() == exp_n
    agg_full = sorted(map(tuple, full.groupBy("k").count().collect()))
    agg_split = sorted(map(tuple, split.groupBy("k").count().collect()))
    assert agg_full == agg_split
    # left join splits too (left side only) — row multiplicity preserved
    lsplit = storage_partitioned_join(
        spark, tl, tr, on=("k", "rk"), how="left", max_bucket_bytes=tight
    )
    assert lsplit.count() == exp_n
    # but when the REPLICATED side alone blows the budget, refuse
    with pytest.raises(ValueError, match="no split fits"):
        storage_partitioned_join(
            spark, tl, tr, on=("k", "rk"), max_bucket_bytes=right_b
        )


def test_spj_inner_splits_bigger_side_right(spark, catalog):
    """Inner joins fragment whichever side is bigger — here the right —
    replicating the small left bucket; output pairs stay unique because
    each right row lands in exactly one task."""
    import pyspark.sql.functions as SF

    left = spark.createDataFrame([(i, f"L{i}") for i in range(4)], "k int, lv string")
    right = spark.range(0, 1000).select(
        (SF.col("id") % 4).cast("int").alias("rk"), SF.col("id").alias("rv")
    )
    tl = _bucketed(catalog, "rs_l", left, "k", n=2)
    tr = _bucketed(catalog, "rs_r", right.limit(0), "rk", n=2)
    for i in range(5):
        tr.append(right.where((SF.col("rv") % 5) == i))
    one_right = max(t.file.file_size_in_bytes for t in tr.scan().plan_files())
    left_b = sum(t.file.file_size_in_bytes for t in tl.scan().plan_files())
    tight = one_right + left_b + 256
    got = storage_partitioned_join(
        spark, tl, tr, on=("k", "rk"), how="inner", max_bucket_bytes=tight
    )
    assert got.count() == 1000
    assert got.select("rv").distinct().count() == 1000


def test_spj_copartitioned_day_transform(spark, catalog):
    """SPJ generalizes beyond bucket[N]: ANY shared transform on the
    join key proves co-location (equal keys map to equal transform
    values) — here two event tables day-partitioned on the timestamp
    join on it with zero table exchange."""
    import datetime

    rows_l = [
        (datetime.datetime(2024, 1, d, h), f"L{d}-{h}")
        for d in (1, 2, 3)
        for h in (0, 6, 12)
    ]
    rows_r = [
        (datetime.datetime(2024, 1, d, h), d * 100 + h)
        for d in (1, 2)
        for h in (0, 12, 18)
    ]
    left = spark.createDataFrame(rows_l, "ts timestamp, lv string")
    right = spark.createDataFrame(rows_r, "rts timestamp, rv int")
    schema_l = schema_from_spark(left.schema)
    schema_r = schema_from_spark(right.schema)
    tl = catalog.create_table(
        "db.ev_l", schema_l, spec=spec_from(schema_l, ("ts", "day"))
    )
    tr = catalog.create_table(
        "db.ev_r", schema_r, spec=spec_from(schema_r, ("rts", "day"))
    )
    tl.append(left)
    tr.append(right)
    got = storage_partitioned_join(spark, tl, tr, on=("ts", "rts"), how="inner")
    exp = left.join(right, left.ts == right.rts, "inner").select("ts", "lv", "rv")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan and "SortMergeJoin" not in plan


def test_spj_copartitioned_identity_and_truncate(spark, catalog):
    # identity partition on an int key
    left = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, lv string")
    right = spark.createDataFrame([(1, 1.5), (3, 3.5)], "rk int, rv double")
    sl, sr = schema_from_spark(left.schema), schema_from_spark(right.schema)
    tl = catalog.create_table("db.id_l", sl, spec=spec_from(sl, ("k", "identity")))
    tr = catalog.create_table("db.id_r", sr, spec=spec_from(sr, ("rk", "identity")))
    tl.append(left)
    tr.append(right)
    got = storage_partitioned_join(spark, tl, tr, on=("k", "rk"))
    assert sorted(map(tuple, got.collect())) == [(1, "a", 1.5), (3, "c", 3.5)]
    # truncate[2] on a string key
    lefts = spark.createDataFrame([("aaX", 1), ("bbY", 2)], "s string, lv int")
    rights = spark.createDataFrame([("aaX", 9.0), ("bbZ", 8.0)], "rs string, rv double")
    ssl, ssr = schema_from_spark(lefts.schema), schema_from_spark(rights.schema)
    tls = catalog.create_table("db.tr_l", ssl, spec=spec_from(ssl, ("s", "truncate[2]")))
    trs = catalog.create_table("db.tr_r", ssr, spec=spec_from(ssr, ("rs", "truncate[2]")))
    tls.append(lefts)
    trs.append(rights)
    got2 = storage_partitioned_join(spark, tls, trs, on=("s", "rs"))
    assert sorted(map(tuple, got2.collect())) == [("aaX", 1, 9.0)]
    # mismatched transforms refuse (day vs identity, truncate widths)
    with pytest.raises(ValueError, match="no shared partition transform"):
        storage_partitioned_join(spark, tl, trs, on=("k", "rs"))


def test_spj_agg_on_identity_partition(spark, catalog):
    """Exact no-exchange groupBy holds for any transform: all rows of a
    key share its transform value, so per-partition aggs are final."""
    import pyspark.sql.functions as SF

    df = spark.range(0, 300).select(
        (SF.col("id") % 7).cast("int").alias("k"), SF.col("id").alias("v")
    )
    s = schema_from_spark(df.schema)
    t = catalog.create_table("db.id_agg", s, spec=spec_from(s, ("k", "identity")))
    t.append(df)
    got = storage_partitioned_agg(
        spark, t, on="k", aggs={"n": ("v", "count"), "s": ("v", "sum")}
    )
    exp = df.groupBy("k").agg(SF.count("v").alias("n2"), SF.sum("v").alias("s2"))
    assert got.count() == 7
    assert got.join(exp, "k").where("n != n2 OR s != s2").count() == 0


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_spj_fuzz_matches_spark_join(spark, catalog, seed):
    """Randomized parity: random key domains (with nulls and heavy
    multiplicity), random transform, random join side/how, random
    positional + equality deletes, and a tight byte budget that forces
    fragment-replicate splits — the SPJ result must equal Spark's own
    join over the MOR-scanned frames, row for row."""
    import random

    rnd = random.Random(seed)
    n_l, n_r = rnd.randint(200, 600), rnd.randint(50, 300)
    dom = rnd.randint(5, 40)
    lrows = [
        (rnd.randrange(dom) if rnd.random() > 0.05 else None, rnd.randrange(1000))
        for _ in range(n_l)
    ]
    rrows = [
        (rnd.randrange(dom) if rnd.random() > 0.05 else None, rnd.random())
        for _ in range(n_r)
    ]
    left = spark.createDataFrame(lrows, "k int, lv int")
    right = spark.createDataFrame(rrows, "rk int, rv double")
    transform = rnd.choice([f"bucket[{rnd.choice([2, 4, 8])}]", "identity"])
    sl, sr = schema_from_spark(left.schema), schema_from_spark(right.schema)
    tl = catalog.create_table(
        f"db.fz_l{seed}", sl, spec=spec_from(sl, ("k", transform))
    )
    tr = catalog.create_table(
        f"db.fz_r{seed}", sr, spec=spec_from(sr, ("rk", transform))
    )
    # several appends → several files per partition (split fodder)
    for i in range(rnd.randint(1, 3)):
        tl.append(left.where(f"lv % 3 = {i}" if i < 2 else "lv % 3 >= 2"))
    tl.append(left.where("lv IS NULL"))  # no-op, keeps count exact
    tr.append(right)
    from iceberg_go_distributed_spark.iceberg import expressions as E

    if rnd.random() < 0.7:  # positional deletes / DVs
        tl.delete_where(spark, E.greater_than("lv", rnd.randrange(500, 900)))
    if rnd.random() < 0.7:  # equality deletes
        tr.delete_by_keys(
            right.where(f"rv < {rnd.random() * 0.3}").select("rk").distinct(), ["rk"]
        )
    how = rnd.choice(["inner", "left"])
    got = storage_partitioned_join(spark, tl, tr, on=("k", "rk"), how=how)
    exp = tl.scan().to_df(spark).join(
        tr.scan().to_df(spark), F.col("k") == F.col("rk"), how
    ).select("k", "lv", "rv")
    assert sorted(
        map(tuple, got.collect()), key=lambda t: tuple((x is None, x) for x in t)
    ) == sorted(
        map(tuple, exp.collect()), key=lambda t: tuple((x is None, x) for x in t)
    )


def test_spj_semi_and_anti(spark, catalog):
    """Semi/anti modes: probe-only right side (key column only is read),
    left columns out; anti keeps null-key rows (never matched), semi
    drops them; results equal Spark's leftsemi/leftanti."""
    left = spark.createDataFrame(
        [(1, "a"), (1, "a2"), (2, "b"), (None, "n"), (9, "x")], "k int, lv string"
    )
    right = spark.createDataFrame([(1, 1.0), (1, 2.0), (2, 0.0)], "rk int, rv double")
    tl = _bucketed(catalog, "sa_l", left, "k", n=4)
    tr = _bucketed(catalog, "sa_r", right, "rk", n=4)
    semi = storage_partitioned_join(spark, tl, tr, on=("k", "rk"), how="semi")
    anti = storage_partitioned_join(spark, tl, tr, on=("k", "rk"), how="anti")
    assert semi.columns == ["k", "lv"] and anti.columns == ["k", "lv"]
    exp_semi = left.join(right, left.k == right.rk, "leftsemi")
    exp_anti = left.join(right, left.k == right.rk, "leftanti")

    def norm(df):
        return sorted(
            map(tuple, df.collect()), key=lambda t: tuple((x is None, x) for x in t)
        )

    assert norm(semi) == norm(exp_semi)
    assert norm(anti) == norm(exp_anti)
    # anti under a left-side split stays exact (right bucket complete
    # per task); semi multiplicity: duplicate left rows all kept, each once
    one = max(t.file.file_size_in_bytes for t in tl.scan().plan_files())
    rb = sum(t.file.file_size_in_bytes for t in tr.scan().plan_files())
    for h, exp in (("semi", exp_semi), ("anti", exp_anti)):
        got = storage_partitioned_join(
            spark, tl, tr, on=("k", "rk"), how=h, max_bucket_bytes=one + rb + 128
        )
        assert norm(got) == norm(exp)


def test_spj_agg_extra_keys_and_table_methods(spark, catalog):
    """Finer group tuples containing the partitioned key stay in-bucket
    (final per-task aggs); Table exposes both operators directly."""
    import pyspark.sql.functions as SF

    df = spark.range(0, 400).select(
        (SF.col("id") % 5).cast("int").alias("k"),
        (SF.col("id") % 3).cast("int").alias("g"),
        SF.col("id").alias("v"),
    )
    s = schema_from_spark(df.schema)
    t = catalog.create_table("db.mk_agg", s, spec=spec_from(s, ("k", "bucket[4]")))
    t.append(df)
    got = t.storage_partitioned_agg(
        spark, on="k", aggs={"n": ("v", "count"), "s": ("v", "sum")}, extra_keys=["g"]
    )
    exp = df.groupBy("k", "g").agg(SF.count("v").alias("n2"), SF.sum("v").alias("s2"))
    assert got.count() == exp.count() == 15
    assert got.join(exp, ["k", "g"]).where("n != n2 OR s != s2").count() == 0
    # table-level join method
    other = spark.createDataFrame([(0, "zero"), (1, "one")], "rk int, name string")
    so = schema_from_spark(other.schema)
    tr = catalog.create_table("db.mk_dim", so, spec=spec_from(so, ("rk", "bucket[4]")))
    tr.append(other)
    j = t.storage_partitioned_join(spark, tr, on=("k", "rk"), how="semi")
    assert j.count() == df.where("k IN (0, 1)").count()


def test_spj_asof_join_matches_operator(spark, catalog):
    """The zero-exchange as-of join equals the DataFrame operator
    (operators.asof.asof_join, itself DuckDB-ASOF-verified): backward
    and forward, tolerance nulling, unmatched keys, tie handling."""
    import datetime

    from iceberg_go_distributed_spark.iceberg.spj import (
        storage_partitioned_asof_join,
    )
    from iceberg_go_distributed_spark.operators.asof import asof_join

    base = datetime.datetime(2024, 3, 1)

    def ts(m):
        return base + datetime.timedelta(minutes=m)

    quotes = spark.createDataFrame(
        [
            (1, ts(0), 10.0),
            (1, ts(10), 11.0),
            (2, ts(5), 20.0),
            (3, ts(0), 30.0),  # key with no trades
        ],
        "qk int, ts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [
            (1, ts(3), 100),
            (1, ts(10), 200),  # exact-ts match (backward inclusive)
            (1, ts(40), 300),  # beyond tolerance when set
            (2, ts(4), 400),  # before any quote: backward unmatched
            (9, ts(1), 500),  # key with no quotes
        ],
        "tk int, ts timestamp, qty int",
    )
    sq, st_ = schema_from_spark(quotes.schema), schema_from_spark(trades.schema)
    tq = catalog.create_table("db.quotes", sq, spec=spec_from(sq, ("qk", "bucket[4]")))
    tt = catalog.create_table("db.trades", st_, spec=spec_from(st_, ("tk", "bucket[4]")))
    tq.append(quotes)
    tt.append(trades)

    for direction in ("backward", "forward"):
        for tol in (None, 600_000_000):  # 10 min in µs
            got = storage_partitioned_asof_join(
                spark,
                tt,
                tq,
                on=("tk", "qk"),
                left_ts="ts",
                right_ts="ts",
                right_cols=["px"],
                direction=direction,
                tolerance_us=tol,
            ).select("tk", "ts", "qty", "px", "_asof_gap_us")
            # operator API joins on same-named keys: rename to align
            exp = asof_join(
                trades.withColumnRenamed("tk", "k"),
                quotes.withColumnRenamed("qk", "k"),
                on="k",
                left_ts="ts",
                right_ts="ts",
                right_cols=["px"],
                direction=direction,
                tolerance_us=tol,
            ).select(
                F.col("k").alias("tk"), "ts", "qty", "px", "_asof_gap_us"
            )
            key = lambda t: tuple((x is None, x) for x in t)
            assert sorted(map(tuple, got.collect()), key=key) == sorted(
                map(tuple, exp.collect()), key=key
            ), f"direction={direction} tol={tol}"


def test_spj_asof_fuzz_and_plan(spark, catalog):
    import datetime
    import random

    from iceberg_go_distributed_spark.iceberg.spj import (
        storage_partitioned_asof_join,
    )
    from iceberg_go_distributed_spark.operators.asof import asof_join

    rnd = random.Random(42)
    base = datetime.datetime(2024, 3, 1)
    # unique (key, ts) pairs right-side so ties cannot occur
    rpairs = random.Random(7).sample(
        [(k, m) for k in range(8) for m in range(0, 2000, 3)], 150
    )
    lrows = [
        (rnd.randrange(10), base + datetime.timedelta(minutes=rnd.randrange(2000)), rnd.random())
        for _ in range(400)
    ]
    rrows = [(k, base + datetime.timedelta(minutes=m), float(k * 1000 + m)) for k, m in rpairs]
    left = spark.createDataFrame(lrows, "k int, ts timestamp, v double")
    right = spark.createDataFrame(rrows, "rk int, rts timestamp, rv double")
    sl, sr = schema_from_spark(left.schema), schema_from_spark(right.schema)
    tl = catalog.create_table("db.af_l", sl, spec=spec_from(sl, ("k", "bucket[4]")))
    tr = catalog.create_table("db.af_r", sr, spec=spec_from(sr, ("rk", "bucket[4]")))
    tl.append(left)
    tr.append(right)
    got = storage_partitioned_asof_join(
        spark, tl, tr, on=("k", "rk"), left_ts="ts", right_ts="rts",
        right_cols=["rv"], tolerance_us=90 * 60 * 1_000_000,
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan and "Window" not in plan
    exp = asof_join(
        left.withColumnRenamed("k", "kk"),
        right.withColumnRenamed("rk", "kk").withColumnRenamed("rts", "ts"),
        on="kk", left_ts="ts", right_ts="ts", right_cols=["rv"],
        tolerance_us=90 * 60 * 1_000_000,
    ).select(F.col("kk").alias("k"), "ts", "v", "rv", "_asof_gap_us")
    key = lambda t: tuple((x is None, x) for x in t)
    assert sorted(map(tuple, got.select("k", "ts", "v", "rv", "_asof_gap_us").collect()), key=key) == sorted(
        map(tuple, exp.collect()), key=key
    )


def test_spj_asof_tie_break(spark, catalog):
    """Equal-timestamp candidates: the largest tie_break value wins in
    BOTH directions, matching operators.asof.asof_join."""
    import datetime

    from iceberg_go_distributed_spark.iceberg.spj import (
        storage_partitioned_asof_join,
    )
    from iceberg_go_distributed_spark.operators.asof import asof_join

    base = datetime.datetime(2024, 3, 1)
    ts = lambda m: base + datetime.timedelta(minutes=m)
    quotes = spark.createDataFrame(
        [(1, ts(10), 11.0, 1), (1, ts(10), 11.5, 2), (1, ts(20), 12.0, 3)],
        "qk int, ts timestamp, px double, seq int",
    )
    trades = spark.createDataFrame(
        [(1, ts(15), 100), (1, ts(10), 200)], "tk int, ts timestamp, qty int"
    )
    sq, st_ = schema_from_spark(quotes.schema), schema_from_spark(trades.schema)
    tq = catalog.create_table("db.tb_q", sq, spec=spec_from(sq, ("qk", "bucket[2]")))
    tt = catalog.create_table("db.tb_t", st_, spec=spec_from(st_, ("tk", "bucket[2]")))
    tq.append(quotes)
    tt.append(trades)
    for direction in ("backward", "forward"):
        got = storage_partitioned_asof_join(
            spark, tt, tq, on=("tk", "qk"), left_ts="ts", right_ts="ts",
            right_cols=["px"], direction=direction, tie_break="seq",
        ).select("tk", "ts", "qty", "px")
        exp = asof_join(
            trades.withColumnRenamed("tk", "k"),
            quotes.withColumnRenamed("qk", "k"),
            on="k", left_ts="ts", right_ts="ts", right_cols=["px"],
            direction=direction, tie_break="seq",
        ).select(F.col("k").alias("tk"), "ts", "qty", "px")
        key = lambda t: tuple((x is None, x) for x in t)
        assert sorted(map(tuple, got.collect()), key=key) == sorted(
            map(tuple, exp.collect()), key=key
        ), direction
        # the ts(10) trade must see the max-seq equal-ts quote (backward)
        if direction == "backward":
            m = {r.qty: r.px for r in got.collect()}
            assert m[200] == 11.5


def test_spj_composite_keys(spark, catalog):
    """Composite join keys: co-location needs a shared transform on ONE
    pair; the rest join as plain equality in-task (nulls never match)."""
    left = spark.createDataFrame(
        [(1, "x", 10), (1, "y", 11), (2, "x", 12), (2, None, 13)],
        "k int, sub string, lv int",
    )
    right = spark.createDataFrame(
        [(1, "x", 1.0), (2, "x", 2.0), (2, "z", 3.0), (1, None, 9.0)],
        "rk int, rsub string, rv double",
    )
    sl, sr = schema_from_spark(left.schema), schema_from_spark(right.schema)
    tl = catalog.create_table("db.ck_l", sl, spec=spec_from(sl, ("k", "bucket[4]")))
    tr = catalog.create_table("db.ck_r", sr, spec=spec_from(sr, ("rk", "bucket[4]")))
    tl.append(left)
    tr.append(right)
    got = storage_partitioned_join(
        spark, tl, tr, on=[("k", "rk"), ("sub", "rsub")], how="inner"
    )
    exp = left.join(
        right, (left.k == right.rk) & (left.sub == right.rsub), "inner"
    ).select("k", "sub", "lv", "rv")
    key = lambda t: tuple((x is None, x) for x in t)
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, exp.collect()), key=key
    )
    # left join: null secondary keys come back unmatched, rows kept
    gl = storage_partitioned_join(
        spark, tl, tr, on=[("k", "rk"), ("sub", "rsub")], how="left"
    )
    el = left.join(
        right, (left.k == right.rk) & (left.sub == right.rsub), "left"
    ).select("k", "sub", "lv", "rv")
    assert sorted(map(tuple, gl.collect()), key=key) == sorted(
        map(tuple, el.collect()), key=key
    )
    # anti with composite keys
    ga = storage_partitioned_join(
        spark, tl, tr, on=[("k", "rk"), ("sub", "rsub")], how="anti"
    )
    ea = left.join(
        right, (left.k == right.rk) & (left.sub == right.rsub), "leftanti"
    )
    assert sorted(map(tuple, ga.collect()), key=key) == sorted(
        map(tuple, ea.collect()), key=key
    )


def test_spj_refuses_mixed_spec_files_then_works_after_rewrite(spark, catalog):
    """Files written before the bucket field existed have no layout —
    grouping them as 'null bucket' would silently drop rows from inner
    joins. SPJ refuses until the table is rewritten under the current
    spec, after which it runs and matches the plain join."""
    left = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k int, lv string"
    )
    right = spark.createDataFrame(
        [(i, float(i)) for i in range(0, 20, 2)], "rk int, rv double"
    )
    sl, sr = schema_from_spark(left.schema), schema_from_spark(right.schema)
    # left table starts UNPARTITIONED, then evolves to bucket[4]
    tl = catalog.create_table("db.evo_l", sl)
    tl.append(left.where("k < 10"))
    tl.update_spec().add_field("k", "bucket[4]").commit()
    tl.refresh()
    tl.append(left.where("k >= 10"))
    tr = catalog.create_table("db.evo_r", sr, spec=spec_from(sr, ("rk", "bucket[4]")))
    tr.append(right)
    with pytest.raises(ValueError, match="predate"):
        storage_partitioned_join(spark, tl, tr, on=("k", "rk"))
    # rewrite materializes every row under the current (bucketed) spec
    tl.rewrite_data_files(spark)
    tl.refresh()
    got = storage_partitioned_join(spark, tl, tr, on=("k", "rk"))
    exp = left.join(right, left.k == right.rk, "inner").select("k", "lv", "rv")
    key = lambda t: tuple((x is None, x) for x in t)
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, exp.collect()), key=key
    )


def test_spj_star_join_three_tables(spark, catalog):
    """N-way star join: fact ⋈ dim1 ⋈ dim2 all bucketed on the entity
    key run in ONE task pass (chaining two-way SPJs would shuffle after
    the first); parity with the plain double join, including a dim
    filter, fact deletes, and a forced fact split."""
    import pyspark.sql.functions as SF

    from iceberg_go_distributed_spark.iceberg import expressions as E
    from iceberg_go_distributed_spark.iceberg.spj import (
        storage_partitioned_star_join,
    )

    fact = spark.range(0, 2000).select(
        (SF.col("id") % 30).cast("int").alias("user_id"),
        (SF.col("id") % 50).cast("double").alias("amount"),
        SF.col("id").alias("eid"),
    )
    profile = spark.createDataFrame(
        [(u, f"u{u}", u % 4) for u in range(30)], "p_user int, uname string, tier int"
    )
    subs = spark.createDataFrame(
        [(u, u % 2 == 0) for u in range(25)], "s_user int, active boolean"
    )
    tf = _bucketed(catalog, "st_f", fact.limit(0), "user_id", n=4)
    for i in range(4):
        tf.append(fact.where(f"eid % 4 = {i}"))
    tp = _bucketed(catalog, "st_p", profile, "p_user", n=4)
    ts_ = _bucketed(catalog, "st_s", subs, "s_user", n=4)
    tf.delete_where(spark, E.greater_than("amount", 40.0))

    got = storage_partitioned_star_join(
        spark,
        [
            {"table": tf, "key": "user_id", "select": ["user_id", "amount"]},
            {"table": tp, "key": "p_user", "select": ["p_user", "tier"],
             "filter": E.less_than("tier", 3)},
            {"table": ts_, "key": "s_user", "select": ["s_user", "active"]},
        ],
    )
    assert got.columns == ["user_id", "amount", "tier", "active"]
    exp = (
        fact.where("NOT (amount > 40.0)")
        .join(profile.where("tier < 3"), fact.user_id == profile.p_user)
        .join(subs, fact.user_id == subs.s_user)
        .select("user_id", "amount", "tier", "active")
    )
    key = lambda t: tuple((x is None, x) for x in t)
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, exp.collect()), key=key
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan and "SortMergeJoin" not in plan
    # forced fact split: same answer (budget accounting includes the
    # delete files a task materializes, so size tasks the same way)
    from iceberg_go_distributed_spark.iceberg.spj import _task_bytes

    one = max(_task_bytes(t) for t in tf.scan().plan_files())
    dims = sum(
        _task_bytes(t) for tt in (tp, ts_) for t in tt.scan().plan_files()
    )
    tight = one + dims + 512
    got2 = storage_partitioned_star_join(
        spark,
        [
            {"table": tf, "key": "user_id", "select": ["user_id", "amount"]},
            {"table": tp, "key": "p_user", "select": ["p_user", "tier"],
             "filter": E.less_than("tier", 3)},
            {"table": ts_, "key": "s_user", "select": ["s_user", "active"]},
        ],
        max_bucket_bytes=tight,
    )
    assert sorted(map(tuple, got2.collect()), key=key) == sorted(
        map(tuple, exp.collect()), key=key
    )


# ---------------------------------------------------------------- r12 fixes


def test_spj_date_key_join(spark, catalog):
    """Date join keys (ADVICE r11, medium): equal date32 types must
    join natively — the old code widened every long-family key to
    int64, and pyarrow has no date32<->int64 cast kernel, so ANY
    date-keyed SPJ crashed at task execution."""
    import datetime

    d = datetime.date
    left = spark.createDataFrame(
        [(d(2024, 1, i), i) for i in range(1, 9)], "dk date, lv int"
    )
    right = spark.createDataFrame(
        [(d(2024, 1, i), i * 10) for i in range(1, 6)], "rk date, rv int"
    )
    tl = _bucketed(catalog, "date_l", left, "dk", n=4)
    tr = _bucketed(catalog, "date_r", right, "rk", n=4)
    got = storage_partitioned_join(spark, tl, tr, on=("dk", "rk"))
    exp = left.join(right, left.dk == right.rk, "inner").select("dk", "lv", "rv")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
    # left join: unmatched dates survive with null right columns
    gotl = storage_partitioned_join(spark, tl, tr, on=("dk", "rk"), how="left")
    assert gotl.count() == 8
    assert gotl.where(F.col("rv").isNull()).count() == 3
    # output key column keeps its DATE type end to end
    assert dict(got.dtypes)["dk"] == "date"


def test_spj_date_int_sibling_key_join(spark, catalog):
    """A date key CAN bucket-join an int key holding the same day
    ordinals (Iceberg hashes int/long/date identically): differing
    physical types widen to int64, with date32 bridged through int32
    on read and narrowed back for the output."""
    import datetime

    epoch = datetime.date(1970, 1, 1)
    days = [19970 + i for i in range(8)]
    left = spark.createDataFrame(
        [(epoch + datetime.timedelta(days=n), n) for n in days],
        "dk date, lv long",
    )
    right = spark.createDataFrame(
        [(n, n * 10) for n in days[:5]], "rk int, rv int"
    )
    tl = _bucketed(catalog, "di_l", left, "dk", n=4)
    tr = _bucketed(catalog, "di_r", right, "rk", n=4)
    got = storage_partitioned_join(spark, tl, tr, on=("dk", "rk"))
    assert got.count() == 5
    rows = {r["dk"]: r["rv"] for r in got.collect()}
    for n in days[:5]:
        assert rows[epoch + datetime.timedelta(days=n)] == n * 10
    assert dict(got.dtypes)["dk"] == "date"


def test_spj_asof_null_timestamps(spark, catalog):
    """Null timestamps are legal data (ADVICE r11): null-ts left rows
    emit unmatched instead of aborting pd.merge_asof; null-ts right
    rows silently drop. Matches operators.asof.asof_join."""
    import datetime

    from iceberg_go_distributed_spark.iceberg.spj import (
        storage_partitioned_asof_join,
    )
    from iceberg_go_distributed_spark.operators.asof import asof_join

    base = datetime.datetime(2024, 3, 1)
    ts = lambda m: base + datetime.timedelta(minutes=m)
    left = spark.createDataFrame(
        [(1, ts(5), 10.0), (1, None, 11.0), (2, None, 12.0), (3, ts(9), 13.0)],
        "k int, ts timestamp, v double",
    )
    right = spark.createDataFrame(
        [(1, ts(1), 100.0), (1, None, 999.0), (3, ts(2), 300.0)],
        "rk int, rts timestamp, rv double",
    )
    sl, sr = schema_from_spark(left.schema), schema_from_spark(right.schema)
    tl = catalog.create_table("db.nts_l", sl, spec=spec_from(sl, ("k", "bucket[4]")))
    tr = catalog.create_table("db.nts_r", sr, spec=spec_from(sr, ("rk", "bucket[4]")))
    tl.append(left)
    tr.append(right)
    got = storage_partitioned_asof_join(
        spark, tl, tr, on=("k", "rk"), left_ts="ts", right_ts="rts",
        right_cols=["rv"],
    ).select("k", "ts", "v", "rv", "_asof_gap_us")
    exp = asof_join(
        left.withColumnRenamed("k", "jk"),
        right.withColumnRenamed("rk", "jk"),
        on="jk", left_ts="ts", right_ts="rts", right_cols=["rv"],
    ).select(F.col("jk").alias("k"), "ts", "v", "rv", "_asof_gap_us")
    key = lambda t: tuple((x is None, str(x)) for x in t)
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, exp.collect()), key=key
    )
    # all four left rows survive; the two null-ts ones are unmatched
    assert got.count() == 4
    assert got.where(F.col("ts").isNull() & F.col("rv").isNotNull()).count() == 0


def test_spj_agg_rejects_key_collision_and_dedupes_spec(spark, catalog):
    """ADVICE r11: an agg output named like a group key silently
    overwrote the key column; duplicate (column, fn) pairs made Arrow
    emit duplicate result columns and crash."""
    df = spark.createDataFrame(
        [(i % 4, float(i)) for i in range(40)], "k int, v double"
    )
    t = _bucketed(catalog, "aggcol", df, "k", n=2)
    with pytest.raises(ValueError, match="collides with a group key"):
        storage_partitioned_agg(spark, t, "k", {"k": ("v", "sum")})
    # two outputs over the SAME (column, fn) pair: both get the value
    got = {
        r["k"]: (r["a"], r["b"])
        for r in storage_partitioned_agg(
            spark, t, "k", {"a": ("v", "sum"), "b": ("v", "sum")}
        ).collect()
    }
    exp = {
        r["k"]: r["s"]
        for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()
    }
    assert got == {k: (v, v) for k, v in exp.items()}


def test_spj_ts_to_us_floors_negative_ns():
    """ADVICE r11: ns→us conversion must floor, not truncate toward
    zero — pre-epoch nanoseconds were off by one microsecond."""
    import pyarrow as pa

    from iceberg_go_distributed_spark.iceberg.spj import _ts_to_us

    ns = [-1, -999, -1000, -1001, -1500, 0, 1, 999, 1000, 1500, 2001]
    col = pa.chunked_array([pa.array(ns, pa.int64()).cast(pa.timestamp("ns"))])
    got = _ts_to_us(col).to_pylist()
    assert got == [v // 1000 for v in ns]  # python // floors
    # µs passthrough and ms upscale stay exact
    us = pa.chunked_array([pa.array([-5, 7], pa.int64()).cast(pa.timestamp("us"))])
    assert _ts_to_us(us).to_pylist() == [-5, 7]
    ms = pa.chunked_array([pa.array([-5, 7], pa.int64()).cast(pa.timestamp("ms"))])
    assert _ts_to_us(ms).to_pylist() == [-5000, 7000]


# ------------------------------------------------- r12: fused join→aggregate


def test_spj_join_agg_matches_join_then_groupby(spark, sf_dir, catalog):
    """storage_partitioned_join_agg == join → groupBy, values exact
    (decimal-exact sums), across inner and left joins and extra
    (non-partition) group keys."""
    from iceberg_go_distributed_spark.iceberg.spj import (
        storage_partitioned_join_agg,
    )
    from iceberg_go_distributed_spark.datasets import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    to = _bucketed(catalog, "ja_ord", orders, "o_custkey")
    tc = _bucketed(catalog, "ja_cust", cust, "c_custkey")

    got = storage_partitioned_join_agg(
        spark,
        to,
        tc,
        on=("o_custkey", "c_custkey"),
        aggs={
            "n": ("o_orderkey", "count"),
            "tot": ("o_totalprice", "sum"),
            "seg_n": ("c_mktsegment", "count"),
        },
        group_keys=["o_custkey", "c_mktsegment"],
    )
    exp = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("o_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n"),
            F.sum("o_totalprice").alias("tot"),
            F.count("c_mktsegment").alias("seg_n"),
        )
    )
    key = lambda t: tuple((x is None, str(x)) for x in t)
    g = sorted((tuple(r) for r in got.collect()), key=key)
    e = sorted((tuple(r) for r in exp.collect()), key=key)
    assert len(g) == len(e)
    for (gk, gs, gn, gt, gsn), (ek, es, en, et, esn) in zip(g, e):
        assert (gk, gs, gn, gsn) == (ek, es, en, esn)
        assert abs(gt - et) < 1e-6

    # left join: customers keep their row even with zero orders
    got_l = storage_partitioned_join_agg(
        spark,
        tc,
        to,
        on=("c_custkey", "o_custkey"),
        aggs={"n_ord": ("o_orderkey", "count")},
        how="left",
    )
    exp_l = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_ord"))
    )
    assert sorted(map(tuple, got_l.collect())) == sorted(
        map(tuple, exp_l.collect())
    )


def test_spj_join_agg_plan_no_post_join_exchange(spark, sf_dir, catalog):
    """The fused plan's only shuffle is the O(buckets) task-descriptor
    repartition — no hashpartitioning on the data key, no aggregate
    exchange after the join (the star-join probe measured that cost)."""
    from iceberg_go_distributed_spark.iceberg.spj import (
        storage_partitioned_join_agg,
    )
    from iceberg_go_distributed_spark.datasets import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    to = _bucketed(catalog, "jp_ord", orders, "o_custkey")
    tc = _bucketed(catalog, "jp_cust", cust, "c_custkey")
    df = storage_partitioned_join_agg(
        spark, to, tc, on=("o_custkey", "c_custkey"),
        aggs={"tot": ("o_totalprice", "sum")},
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(o_custkey" not in plan
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan


def test_spj_join_agg_validation_and_no_split(spark, catalog):
    from iceberg_go_distributed_spark.iceberg.spj import (
        storage_partitioned_join_agg,
    )

    left = spark.createDataFrame(
        [(i % 8, float(i)) for i in range(64)], "k int, v double"
    )
    right = spark.createDataFrame(
        [(i, i * 2.0) for i in range(8)], "rk int, w double"
    )
    tl = _bucketed(catalog, "jv_l", left, "k", n=4)
    tr = _bucketed(catalog, "jv_r", right, "rk", n=4)
    with pytest.raises(ValueError, match="must include the co-located"):
        storage_partitioned_join_agg(
            spark, tl, tr, on=("k", "rk"),
            aggs={"s": ("v", "sum")}, group_keys=["w"],
        )
    with pytest.raises(ValueError, match="collides with a group key"):
        storage_partitioned_join_agg(
            spark, tl, tr, on=("k", "rk"), aggs={"k": ("v", "sum")},
        )
    with pytest.raises(ValueError, match="inner\\|left"):
        storage_partitioned_join_agg(
            spark, tl, tr, on=("k", "rk"), aggs={"s": ("v", "sum")},
            how="anti",
        )
    # a budget no fragmentation can satisfy (replicated side + biggest
    # file exceed it) still refuses — two-phase needs a feasible split
    with pytest.raises(ValueError, match="no split fits"):
        storage_partitioned_join_agg(
            spark, tl, tr, on=("k", "rk"), aggs={"s": ("v", "sum")},
            max_bucket_bytes=64,
        )
    # duplicate (column, fn) pairs: both outputs carry the value
    got = {
        r["k"]: (r["a"], r["b"])
        for r in storage_partitioned_join_agg(
            spark, tl, tr, on=("k", "rk"),
            aggs={"a": ("v", "sum"), "b": ("v", "sum")},
        ).collect()
    }
    exp = {
        r["k"]: r["s"]
        for r in left.join(right, left.k == right.rk)
        .groupBy("k").agg(F.sum("v").alias("s")).collect()
    }
    assert got == {k: (v, v) for k, v in exp.items()}


def test_spj_asof_filters(spark, catalog):
    """r12: as-of join accepts per-side row filters — right rows failing
    the filter are not as-of candidates (equal to pre-filtering the
    operator's inputs)."""
    import datetime

    from iceberg_go_distributed_spark.iceberg import expressions as E
    from iceberg_go_distributed_spark.iceberg.spj import (
        storage_partitioned_asof_join,
    )
    from iceberg_go_distributed_spark.operators.asof import asof_join

    base = datetime.datetime(2024, 5, 1)
    ts = lambda m: base + datetime.timedelta(minutes=m)
    left = spark.createDataFrame(
        [(k, ts(m), float(k * 100 + m)) for k in range(4) for m in (5, 15, 25)],
        "k int, ts timestamp, v double",
    )
    right = spark.createDataFrame(
        [(k, ts(m), float(m), m % 2 == 0) for k in range(4) for m in range(0, 30, 4)],
        "rk int, rts timestamp, rv double, keep boolean",
    )
    sl, sr = schema_from_spark(left.schema), schema_from_spark(right.schema)
    tl = catalog.create_table("db.af2_l", sl, spec=spec_from(sl, ("k", "bucket[4]")))
    tr = catalog.create_table("db.af2_r", sr, spec=spec_from(sr, ("rk", "bucket[4]")))
    tl.append(left)
    tr.append(right)
    got = storage_partitioned_asof_join(
        spark, tl, tr, on=("k", "rk"), left_ts="ts", right_ts="rts",
        right_cols=["rv"],
        left_filter=E.greater_than("v", 105.0),
        right_filter=E.equal("keep", True),
    ).select("k", "ts", "v", "rv", "_asof_gap_us")
    exp = asof_join(
        left.where("v > 105.0").withColumnRenamed("k", "jk"),
        right.where("keep").withColumnRenamed("rk", "jk"),
        on="jk", left_ts="ts", right_ts="rts", right_cols=["rv"],
    ).select(F.col("jk").alias("k"), "ts", "v", "rv", "_asof_gap_us")
    key = lambda t: tuple((x is None, str(x)) for x in t)
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, exp.collect()), key=key
    )


def test_spj_star_join_fused_agg(spark, catalog):
    """r12: star join with fused per-group aggregates equals
    star-then-groupBy exactly; oversize refuses instead of splitting."""
    from iceberg_go_distributed_spark.iceberg.spj import (
        storage_partitioned_star_join,
    )

    fact = spark.createDataFrame(
        [(i % 16, float(i)) for i in range(800)], "user_id int, amount double"
    )
    dim1 = spark.createDataFrame(
        [(i, i % 3) for i in range(16)], "p_user int, tier int"
    )
    dim2 = spark.createDataFrame(
        [(i, i % 2 == 0) for i in range(16)], "s_user int, active boolean"
    )
    tf = _bucketed(catalog, "sf_f", fact, "user_id", n=4)
    tp = _bucketed(catalog, "sf_p", dim1, "p_user", n=4)
    ts_ = _bucketed(catalog, "sf_s", dim2, "s_user", n=4)
    sides = [
        {"table": tf, "key": "user_id", "select": ["user_id", "amount"]},
        {"table": tp, "key": "p_user", "select": ["p_user", "tier"]},
        {"table": ts_, "key": "s_user", "select": ["s_user", "active"]},
    ]
    got = storage_partitioned_star_join(
        spark, sides,
        aggs={"n": ("amount", "count"), "mx": ("amount", "max")},
        group_keys=["user_id", "tier", "active"],
    )
    exp = (
        storage_partitioned_star_join(spark, sides)
        .groupBy("user_id", "tier", "active")
        .agg(F.count("amount").alias("n"), F.max("amount").alias("mx"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan and "hashpartitioning(user_id" not in plan
    with pytest.raises(ValueError, match="must include the fact key"):
        storage_partitioned_star_join(
            spark, sides, aggs={"n": ("amount", "count")}, group_keys=["tier"]
        )
    # a budget even the dimensions alone exceed still refuses (fused
    # splits now take the two-phase path, but an infeasible split must
    # name the property, not emit garbage)
    with pytest.raises(ValueError, match="no split fits"):
        storage_partitioned_star_join(
            spark, sides, aggs={"n": ("amount", "count")}, max_bucket_bytes=64
        )


# -------------------------------- r13: fused fragment split (two-phase agg)


def _bucket_layout(table):
    """{partition_value: (total_bytes, biggest_file_bytes)} from the
    plan — keyed by VALUE, not field name (the two sides' partition
    field names differ: k_bucket vs rk_bucket)."""
    sizes = {}
    for t in table.scan().plan_files():
        k = next(iter(t.file.partition.values()))
        tot, big = sizes.get(k, (0, 0))
        sz = t.file.file_size_in_bytes
        sizes[k] = (tot + sz, max(big, sz))
    return sizes


def _split_budget(tl, tr):
    """A byte budget that forces the LARGEST combined bucket to
    fragment-split while every (fragment + replicated side) still
    fits: max(lb+rb) - 1, which leaves budget >= lb-1 >= biggest
    left file whenever buckets hold >=2 files."""
    lsz, rsz = _bucket_layout(tl), _bucket_layout(tr)
    combined = {
        k: lsz[k][0] + rsz.get(k, (0, 0))[0] for k in lsz
    }
    return max(combined.values()) - 1


def test_spj_join_agg_fragment_split_two_phase(spark, catalog):
    """An over-budget bucket fragment-splits with two-phase aggregation
    (VERDICT r12 task 2): partial per fragment, final combine — results
    BIT-IDENTICAL to the unconstrained fused run and to join→groupBy,
    across count/sum/min/max and exact integer mean."""
    from iceberg_go_distributed_spark.iceberg.spj import (
        storage_partitioned_join_agg,
    )

    left = spark.createDataFrame(
        [(i % 16, i, i * 3) for i in range(4096)], "k long, v long, w long"
    )
    right = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(16)], "rk long, grp string"
    )
    tl = _bucketed(catalog, "fs_l", left.repartition(1), "k", n=4)
    # several appends -> several files per bucket, so fragments exist
    for i in range(3):
        tl.append(left.where(f"v % 3 = {i}").repartition(1))
    tr = _bucketed(catalog, "fs_r", right, "rk", n=4)

    aggs = {
        "n": ("v", "count"),
        "s": ("v", "sum"),
        "lo": ("v", "min"),
        "hi": ("v", "max"),
        "m": ("w", "mean"),
    }
    kw = dict(on=("k", "rk"), aggs=aggs, group_keys=["k", "grp"])
    unconstrained = storage_partitioned_join_agg(spark, tl, tr, **kw)
    budget = _split_budget(tl, tr)
    split_df = storage_partitioned_join_agg(
        spark, tl, tr, max_bucket_bytes=budget, **kw
    )
    # the two-phase leg is in the plan: a union with one aggregate over
    # ONLY the split buckets' partials (the unconstrained plan has none)
    plan = split_df._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan and "HashAggregate" in plan
    u_plan = unconstrained._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in u_plan

    key = lambda t: tuple((x is None, str(x)) for x in t)
    got = sorted(map(tuple, split_df.collect()), key=key)
    exp = sorted(map(tuple, unconstrained.collect()), key=key)
    assert got == exp  # bit-identical (integer aggs + exact int mean)

    # union the 4 appends the table actually holds
    full = left.unionByName(left.where("v % 3 = 0")).unionByName(
        left.where("v % 3 = 1")
    ).unionByName(left.where("v % 3 = 2"))
    two_step = (
        full.join(right, full.k == right.rk, "inner")
        .groupBy("k", "grp")
        .agg(
            F.count("v").alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.avg("w").alias("m"),
        )
    )
    assert got == sorted(map(tuple, two_step.collect()), key=key)


def test_spj_join_agg_fragment_split_left_join(spark, catalog):
    """Two-phase split under how='left': unmatched left rows land in
    exactly one fragment, so counts and means stay exact."""
    from iceberg_go_distributed_spark.iceberg.spj import (
        storage_partitioned_join_agg,
    )

    left = spark.createDataFrame(
        [(i % 8, i) for i in range(2048)], "k long, v long"
    )
    right = spark.createDataFrame(
        [(i, i * 10) for i in range(4)], "rk long, w long"  # keys 4..7 unmatched
    )
    tl = _bucketed(catalog, "fsl_l", left.repartition(1), "k", n=4)
    for i in range(3):
        tl.append(left.where(f"v % 3 = {i}").repartition(1))
    tr = _bucketed(catalog, "fsl_r", right, "rk", n=4)

    kw = dict(on=("k", "rk"), aggs={"n": ("w", "count"), "c": ("k", "count")}, how="left")
    unconstrained = storage_partitioned_join_agg(spark, tl, tr, **kw)
    budget = _split_budget(tl, tr)
    split_df = storage_partitioned_join_agg(
        spark, tl, tr, max_bucket_bytes=budget, **kw
    )
    key = lambda t: tuple((x is None, str(x)) for x in t)
    assert sorted(map(tuple, split_df.collect()), key=key) == sorted(
        map(tuple, unconstrained.collect()), key=key
    )
    # unmatched keys keep their group (count of right col = 0)
    by_k = {r["k"]: r["n"] for r in split_df.collect()}
    assert by_k[5] == 0 and by_k[1] > 0


def test_spj_star_agg_fragment_split_two_phase(spark, catalog):
    """The star join's fused aggregate fragment-splits with the same
    two-phase machinery: over-budget fact bucket → partial fragments +
    one combine, bit-identical to the unconstrained fused star run."""
    from iceberg_go_distributed_spark.iceberg.spj import (
        storage_partitioned_star_join,
    )

    fact = spark.createDataFrame(
        [(i % 16, i) for i in range(4096)], "k long, v long"
    )
    d1 = spark.createDataFrame([(i, f"g{i % 3}") for i in range(16)], "k1 long, grp string")
    d2 = spark.createDataFrame([(i, i * 2) for i in range(16)], "k2 long, w long")
    tf = _bucketed(catalog, "st_f", fact.repartition(1), "k", n=4)
    for i in range(3):
        tf.append(fact.where(f"v % 3 = {i}").repartition(1))
    t1 = _bucketed(catalog, "st_d1", d1, "k1", n=4)
    t2 = _bucketed(catalog, "st_d2", d2, "k2", n=4)

    sides = [
        {"table": tf, "key": "k", "select": ["k", "v"]},
        {"table": t1, "key": "k1", "select": ["grp"]},
        {"table": t2, "key": "k2", "select": ["w"]},
    ]
    kw = dict(
        aggs={"n": ("v", "count"), "s": ("v", "sum"), "m": ("w", "mean")},
        group_keys=["k", "grp"],
    )
    unconstrained = storage_partitioned_star_join(spark, sides, **kw)
    budget = _split_budget(tf, t1)  # largest combined fact+d1 bucket - 1
    split_df = storage_partitioned_star_join(
        spark, sides, max_bucket_bytes=budget, **kw
    )
    plan = split_df._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan and "HashAggregate" in plan
    key = lambda t: tuple((x is None, str(x)) for x in t)
    assert sorted(map(tuple, split_df.collect()), key=key) == sorted(
        map(tuple, unconstrained.collect()), key=key
    )
