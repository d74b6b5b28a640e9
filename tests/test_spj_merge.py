"""Storage-partitioned MERGE (round 12, VERDICT r11 task 3).

When the MERGE source is itself an Iceberg table co-partitioned with
the target on the merge key, `merge()` routes its three joins (matched
inner, insert anti, by-source anti) through storage-partitioned task
passes — zero exchange or broadcast of either side's data. These tests
pin:

  * result parity with the regular broadcast/AQE path across the full
    clause surface (upsert, conditional update/delete, insert
    condition, by-source delete/update, sibling re-emit);
  * the route gates: null-BEARING keys / non-co-partitioned layouts
    fall back (and still produce correct results via the scan
    fallback), while optional-typed keys whose file stats prove zero
    nulls take the route (r13);
  * the plan: no hashpartitioning / sort-merge / broadcast of table
    data in the SPJ-built join frames;
  * the zero-exchange cardinality probe still rejects duplicate keys.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_go_distributed_spark.iceberg.partitioning import spec_from
from iceberg_go_distributed_spark.iceberg.types import schema_from_spark
from iceberg_go_distributed_spark.iceberg.write import (
    MergeCardinalityError,
    _spj_merge_route,
    merge,
)


@pytest.fixture()
def catalog(tmp_path):
    from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog

    return FileSystemCatalog(str(tmp_path / "wh"))


@pytest.fixture(autouse=True)
def _force_spj_route(monkeypatch):
    # the source-size gate (r14) would send every tiny fixture here to
    # the regular broadcast path; zero the default so these tests keep
    # exercising the SPJ legs (the gate itself is tested separately)
    from iceberg_go_distributed_spark.iceberg import write as W

    monkeypatch.setattr(W, "_SPJ_MERGE_MIN_SRC_DEFAULT", 0)


_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),  # required merge key
        T.StructField("v", T.DoubleType(), True),
        T.StructField("tag", T.StringType(), True),
    ]
)

_TGT_ROWS = [(i, float(i), "old") for i in range(0, 20)]
# overlaps 10..19 (matched), new keys 20..27 (inserts); 0..9 by-source
_SRC_ROWS = [(i, i * 10.0, "new") for i in range(10, 28)]


def _mk(catalog, spark, name, src_rows=_SRC_ROWS, n=4, src_n=None):
    tgt_df = spark.createDataFrame(_TGT_ROWS, _SCHEMA)
    src_df = spark.createDataFrame(src_rows, _SCHEMA)
    ice_t = schema_from_spark(tgt_df.schema)
    ice_s = schema_from_spark(src_df.schema)
    t = catalog.create_table(
        f"db.{name}_t", ice_t, spec=spec_from(ice_t, ("k", f"bucket[{n}]"))
    )
    t.append(tgt_df)
    t2 = catalog.create_table(
        f"db.{name}_twin", ice_t, spec=spec_from(ice_t, ("k", f"bucket[{n}]"))
    )
    t2.append(tgt_df)
    s = catalog.create_table(
        f"db.{name}_s",
        ice_s,
        spec=spec_from(ice_s, ("k", f"bucket[{src_n or n}]")),
    )
    s.append(src_df)
    return t, t2, s, src_df


def _rows(table, spark):
    key = lambda r: tuple((x is None, str(x)) for x in r)
    return sorted(
        (tuple(r) for r in table.scan().to_df(spark).collect()), key=key
    )


CLAUSE_CASES = [
    # classic upsert
    dict(matched_update="*", not_matched_insert=True),
    # conditional update + gated insert
    dict(
        matched_update={"v": "target.v + source.v"},
        matched_update_condition="source.v > 120",
        not_matched_insert=True,
        not_matched_insert_condition="source.k % 2 = 0",
    ),
    # conditional delete beats update; siblings re-emit
    dict(
        matched_delete_condition="source.v >= 150",
        matched_update="*",
        not_matched_insert=False,
    ),
    # full sync: upsert + by-source delete
    dict(
        matched_update="*",
        not_matched_insert=True,
        not_matched_by_source_delete=True,
    ),
    # by-source conditional update (references target only)
    dict(
        matched_update="*",
        not_matched_insert=False,
        not_matched_by_source_update={"tag": "'stale'"},
        not_matched_by_source_update_condition="target.k < 5",
    ),
]


@pytest.mark.parametrize("case", range(len(CLAUSE_CASES)))
def test_spj_merge_matches_regular_merge(spark, catalog, case):
    actions = CLAUSE_CASES[case]
    t, t2, s, src_df = _mk(catalog, spark, f"par{case}")
    assert _spj_merge_route(t, spark, s, ["k"]) is not None
    merge(t, spark, s, on=["k"], **actions)
    merge(t2, spark, src_df, on=["k"], **actions)
    assert _rows(t, spark) == _rows(t2, spark)


def test_spj_merge_plan_has_no_table_exchange(spark, catalog):
    """The matched / insert-anti / by-source-anti frames move only
    O(buckets) task descriptors — no hashpartitioning of table data,
    no sort-merge or broadcast-hash join."""
    t, _, s, _ = _mk(catalog, spark, "plan")
    route = _spj_merge_route(t, spark, s, ["k"])
    assert route is not None
    for leg in ("matched", "unmatched", "bysrc"):
        plan = route[leg]()._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, leg
        assert "BroadcastHashJoin" not in plan, leg
        assert "hashpartitioning(k" not in plan, leg


def test_spj_merge_source_size_gate(spark, catalog, monkeypatch):
    """A broadcastable source merges cheaper on the regular path, so
    the route refuses under the threshold by default; the target
    property opts back in (0 = always) or tunes the floor."""
    from iceberg_go_distributed_spark.iceberg import write as W

    monkeypatch.setattr(W, "_SPJ_MERGE_MIN_SRC_DEFAULT", None)
    t, _t2, s, _src = _mk(catalog, spark, "szgate")
    # 18-row source is far below write.merge.broadcast-source-max-rows
    assert _spj_merge_route(t, spark, s, ["k"]) is None
    t.properties["write.merge.spj.min-source-rows"] = "0"
    assert _spj_merge_route(t, spark, s, ["k"]) is not None
    t.properties["write.merge.spj.min-source-rows"] = "5"  # 18 >= 5
    assert _spj_merge_route(t, spark, s, ["k"]) is not None
    t.properties["write.merge.spj.min-source-rows"] = "100"
    assert _spj_merge_route(t, spark, s, ["k"]) is None


def test_spj_merge_route_gates(spark, catalog):
    # nullable key holding an ACTUAL null → no route (eqNullSafe vs SQL
    # equality differ on null keys; metadata cannot prove null-freedom)
    nullable = T.StructType(
        [
            T.StructField("k", T.LongType(), True),
            T.StructField("v", T.DoubleType(), True),
            T.StructField("tag", T.StringType(), True),
        ]
    )
    tgt_df = spark.createDataFrame(
        _TGT_ROWS + [(None, -1.0, "old-null")], nullable
    )
    ice = schema_from_spark(tgt_df.schema)
    tn = catalog.create_table(
        "db.null_t", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    tn.append(tgt_df)
    sn = catalog.create_table(
        "db.null_s", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    sn.append(spark.createDataFrame(_SRC_ROWS, nullable))
    assert _spj_merge_route(tn, spark, sn, ["k"]) is None
    # nullable-key table source still merges correctly via the fallback
    assert merge(tn, spark, sn, on=["k"], matched_update="*", not_matched_insert=True)
    got = {r["k"]: r["v"] for r in tn.scan().to_df(spark).collect()}
    assert got[15] == 150.0 and got[27] == 270.0 and got[3] == 3.0
    assert got[None] == -1.0  # the null-key row survived untouched

    # mismatched bucket counts → no route, fallback still correct
    t, _, s, _ = _mk(catalog, spark, "buck", src_n=8)
    assert _spj_merge_route(t, spark, s, ["k"]) is None
    assert merge(t, spark, s, on=["k"], matched_update="*", not_matched_insert=True)
    got = {r["k"]: r["v"] for r in t.scan().to_df(spark).collect()}
    assert got[15] == 150.0 and got[27] == 270.0


def test_spj_merge_cardinality_probe(spark, catalog):
    dup_rows = _SRC_ROWS + [(10, 1.0, "dup")]
    t, _, s, _ = _mk(catalog, spark, "card", src_rows=dup_rows)
    assert _spj_merge_route(t, spark, s, ["k"]) is not None
    with pytest.raises(MergeCardinalityError, match="multiple rows"):
        merge(t, spark, s, on=["k"], matched_update="*")
    # and check_cardinality=False accepts (nondeterministic pick aside,
    # the commit itself must succeed)
    assert merge(
        t, spark, s, on=["k"], matched_update=None,
        matched_delete_condition="source.v >= 0", check_cardinality=False,
    )


def test_spj_merge_composite_key(spark, catalog):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("k2", T.LongType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    tgt = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(12)], schema
    )
    src = spark.createDataFrame(
        [(i, i % 3, i * 10.0) for i in range(6, 18)], schema
    )
    ice = schema_from_spark(schema)
    t = catalog.create_table(
        "db.comp_t", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    t.append(tgt)
    t2 = catalog.create_table(
        "db.comp_twin", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    t2.append(tgt)
    s = catalog.create_table(
        "db.comp_s", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    s.append(src)
    # co-located on k; k2 joins as plain in-task equality
    assert _spj_merge_route(t, spark, s, ["k", "k2"]) is not None
    merge(t, spark, s, on=["k", "k2"], matched_update="*", not_matched_insert=True)
    merge(t2, spark, src, on=["k", "k2"], matched_update="*", not_matched_insert=True)
    assert _rows(t, spark) == _rows(t2, spark)


def test_spj_merge_fuzz_parity(spark, catalog):
    """Seeded random targets/sources/clauses: the SPJ route and the
    regular broadcast path must produce identical table states."""
    _spj_merge_fuzz(spark, catalog, seed=1207, trials=4)


def test_spj_merge_fuzz_parity_slice(spark, catalog):
    """One seeded trial of the fuzz above for the default tier."""
    _spj_merge_fuzz(spark, catalog, seed=3, trials=1)


def _spj_merge_fuzz(spark, catalog, seed, trials):
    import random

    rnd = random.Random(seed)
    for trial in range(trials):
        n_t, n_s = rnd.randrange(5, 40), rnd.randrange(5, 40)
        lo = rnd.randrange(0, 30)
        tgt_rows = [
            (k, round(rnd.uniform(-50, 50), 2), rnd.choice(["a", "b", None]))
            for k in rnd.sample(range(0, 60), n_t)
        ]
        src_rows = [
            (k, round(rnd.uniform(-50, 50), 2), rnd.choice(["x", "y", None]))
            for k in rnd.sample(range(lo, lo + 60), n_s)
        ]
        actions = {}
        if rnd.random() < 0.8:
            actions["matched_update"] = rnd.choice(
                ["*", {"v": "target.v + source.v"}]
            )
            if rnd.random() < 0.5:
                actions["matched_update_condition"] = "source.v > 0"
        if rnd.random() < 0.5:
            actions["matched_delete_condition"] = "source.v < -10"
        actions["not_matched_insert"] = rnd.random() < 0.8
        if actions["not_matched_insert"] and rnd.random() < 0.5:
            actions["not_matched_insert_condition"] = "source.k % 2 = 0"
        if rnd.random() < 0.5:
            actions["not_matched_by_source_delete"] = True
        elif rnd.random() < 0.5:
            actions["not_matched_by_source_update"] = {"tag": "'stale'"}
            actions["not_matched_by_source_update_condition"] = "target.v < 0"
        if not any(
            actions.get(k)
            for k in (
                "matched_update",
                "matched_delete_condition",
                "not_matched_insert",
                "not_matched_by_source_delete",
                "not_matched_by_source_update",
            )
        ):
            actions["not_matched_insert"] = True
        tgt_df = spark.createDataFrame(tgt_rows, _SCHEMA)
        src_df = spark.createDataFrame(src_rows, _SCHEMA)
        ice = schema_from_spark(_SCHEMA)
        t = catalog.create_table(
            f"db.fz{trial}_t", ice, spec=spec_from(ice, ("k", "bucket[4]"))
        )
        t.append(tgt_df)
        t2 = catalog.create_table(
            f"db.fz{trial}_twin", ice, spec=spec_from(ice, ("k", "bucket[4]"))
        )
        t2.append(tgt_df)
        s = catalog.create_table(
            f"db.fz{trial}_s", ice, spec=spec_from(ice, ("k", "bucket[4]"))
        )
        s.append(src_df)
        assert _spj_merge_route(t, spark, s, ["k"]) is not None, trial
        r1 = merge(t, spark, s, on=["k"], **actions)
        r2 = merge(t2, spark, src_df, on=["k"], **actions)
        assert r1 == r2, (trial, actions)
        assert _rows(t, spark) == _rows(t2, spark), (trial, actions)


def test_spj_merge_composite_key_colocated_on_second(spark, catalog):
    """The co-location proof may come from ANY key in `on`, not the
    first: with on=["k2", "k"] and only k bucketed, the route must
    still engage (and the cardinality probe must group on k, the
    bucketed key — grouping on k2 would raise)."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("k2", T.LongType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    tgt = spark.createDataFrame([(i, i % 3, float(i)) for i in range(12)], schema)
    src = spark.createDataFrame(
        [(i, i % 3, i * 10.0) for i in range(6, 18)], schema
    )
    ice = schema_from_spark(schema)
    t = catalog.create_table(
        "db.c2_t", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    t.append(tgt)
    t2 = catalog.create_table(
        "db.c2_twin", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    t2.append(tgt)
    s = catalog.create_table(
        "db.c2_s", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    s.append(src)
    assert _spj_merge_route(t, spark, s, ["k2", "k"]) is not None
    merge(t, spark, s, on=["k2", "k"], matched_update="*", not_matched_insert=True)
    merge(t2, spark, src, on=["k2", "k"], matched_update="*", not_matched_insert=True)
    assert _rows(t, spark) == _rows(t2, spark)
    # duplicate (k2, k) tuples still rejected through the probe
    s2 = catalog.create_table(
        "db.c2_dup", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    s2.append(spark.createDataFrame([(6, 0, 1.0), (6, 0, 2.0)], schema))
    with pytest.raises(MergeCardinalityError):
        merge(t, spark, s2, on=["k2", "k"], matched_update="*")


def test_spj_merge_over_budget_falls_back(spark, catalog):
    """An over-budget bucket pair must mean 'use the regular path',
    never a mid-merge ValueError (the cardinality probe and anti legs
    cannot fragment-split)."""
    tgt_df = spark.createDataFrame(_TGT_ROWS, _SCHEMA)
    src_df = spark.createDataFrame(_SRC_ROWS, _SCHEMA)
    ice = schema_from_spark(_SCHEMA)
    t = catalog.create_table(
        "db.ob_t",
        ice,
        spec=spec_from(ice, ("k", "bucket[4]")),
        properties={"join.spj.max-bucket-bytes": "64"},
    )
    t.append(tgt_df)
    s = catalog.create_table(
        "db.ob_s", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    s.append(src_df)
    assert _spj_merge_route(t, spark, s, ["k"]) is None
    assert merge(t, spark, s, on=["k"], matched_update="*", not_matched_insert=True)
    got = {r["k"]: r["v"] for r in t.scan().to_df(spark).collect()}
    assert got[15] == 150.0 and got[27] == 270.0 and got[3] == 3.0


def test_spj_merge_unsupported_key_family_falls_back(spark, catalog):
    """A required double key identity-partitioned on both sides passes
    the transform proof but its hash family is unsupported — the route
    must decline (the SPJ planner would reject the pair mid-merge)."""
    schema = T.StructType(
        [
            T.StructField("k", T.DoubleType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    tgt = spark.createDataFrame([(float(i), float(i)) for i in range(8)], schema)
    src = spark.createDataFrame([(float(i), i * 10.0) for i in range(4, 12)], schema)
    ice = schema_from_spark(schema)
    t = catalog.create_table(
        "db.dk_t", ice, spec=spec_from(ice, ("k", "identity"))
    )
    t.append(tgt)
    s = catalog.create_table(
        "db.dk_s", ice, spec=spec_from(ice, ("k", "identity"))
    )
    s.append(src)
    assert _spj_merge_route(t, spark, s, ["k"]) is None
    assert merge(t, spark, s, on=["k"], matched_update="*", not_matched_insert=True)
    got = {r["k"]: r["v"] for r in t.scan().to_df(spark).collect()}
    assert got[6.0] == 60.0 and got[11.0] == 110.0 and got[2.0] == 2.0


def test_spj_merge_prefixed_target_column_falls_back(spark, catalog):
    """A target column already carrying the source prefix would make
    the matched() output collide inside storage_partitioned_join at
    action time — the route must decline up front (ADVICE r12)."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("__spjsrc_v", T.DoubleType(), True),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    tgt = spark.createDataFrame(
        [(i, float(i), float(i)) for i in range(8)], schema
    )
    src = spark.createDataFrame(
        [(i, i * 10.0, i * 10.0) for i in range(4, 12)], schema
    )
    ice = schema_from_spark(schema)
    t = catalog.create_table(
        "db.pfx_t", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    t.append(tgt)
    s = catalog.create_table(
        "db.pfx_s", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    s.append(src)
    assert _spj_merge_route(t, spark, s, ["k"]) is None
    assert merge(t, spark, s, on=["k"], matched_update="*", not_matched_insert=True)
    got = {r["k"]: r["v"] for r in t.scan().to_df(spark).collect()}
    assert got[6] == 60.0 and got[11] == 110.0 and got[2] == 2.0


def test_spj_merge_source_side_budget_uses_precheck_limit(spark, catalog):
    """The byte-budget pre-check reads the TARGET's limit; the legs that
    plan with left=source must use that SAME limit rather than re-derive
    a smaller one from the source's properties and raise mid-merge
    (ADVICE r12). Source declares a 64-byte budget; the target's default
    budget passes the pre-check, so the whole merge must run on the SPJ
    route without a ValueError."""
    tgt_df = spark.createDataFrame(_TGT_ROWS, _SCHEMA)
    src_df = spark.createDataFrame(_SRC_ROWS, _SCHEMA)
    ice = schema_from_spark(_SCHEMA)
    t = catalog.create_table(
        "db.sb_t", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    t.append(tgt_df)
    s = catalog.create_table(
        "db.sb_s",
        ice,
        spec=spec_from(ice, ("k", "bucket[4]")),
        properties={"join.spj.max-bucket-bytes": "64"},
    )
    s.append(src_df)
    # pre-check passes against the target's (default) budget
    assert _spj_merge_route(t, spark, s, ["k"]) is not None
    assert merge(
        t,
        spark,
        s,
        on=["k"],
        matched_update="*",
        not_matched_insert=True,
        not_matched_by_source_delete=True,
    )
    got = {r["k"]: r["v"] for r in t.scan().to_df(spark).collect()}
    assert got[15] == 150.0 and got[27] == 270.0 and 3 not in got


def test_spj_merge_optional_nullfree_keys_take_route(spark, catalog):
    """Optional-typed keys whose planned files' null_value_counts prove
    zero nulls on both sides TAKE the SPJ route (VERDICT r12 task 3);
    a twin whose source later gains a null-key row falls back. The
    eligible merge's values match the _mk fixture's required-key runs."""
    nullable = T.StructType(
        [
            T.StructField("k", T.LongType(), True),  # optional by schema
            T.StructField("v", T.DoubleType(), True),
            T.StructField("tag", T.StringType(), True),
        ]
    )
    tgt_df = spark.createDataFrame(_TGT_ROWS, nullable)
    src_df = spark.createDataFrame(_SRC_ROWS, nullable)
    ice = schema_from_spark(nullable)
    t = catalog.create_table(
        "db.opt_t", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    t.append(tgt_df)
    s = catalog.create_table(
        "db.opt_s", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    s.append(src_df)
    assert _spj_merge_route(t, spark, s, ["k"]) is not None
    assert merge(
        t,
        spark,
        s,
        on=["k"],
        matched_update="*",
        not_matched_insert=True,
        not_matched_by_source_delete=True,
    )
    got = {r["k"]: r["v"] for r in t.scan().to_df(spark).collect()}
    assert got[15] == 150.0 and got[27] == 270.0 and 3 not in got

    # twin: one null-key source row makes null-freedom unprovable
    t2 = catalog.create_table(
        "db.opt2_t", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    t2.append(tgt_df)
    s2 = catalog.create_table(
        "db.opt2_s", ice, spec=spec_from(ice, ("k", "bucket[4]"))
    )
    s2.append(src_df)
    assert _spj_merge_route(t2, spark, s2, ["k"]) is not None
    s2.append(spark.createDataFrame([(None, 0.0, "null-key")], nullable))
    s2.refresh()
    assert _spj_merge_route(t2, spark, s2, ["k"]) is None
