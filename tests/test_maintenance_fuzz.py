"""Maintained-vs-control twin fuzz: random DML histories run on TWO v3
tables; the maintained twin additionally runs a random maintenance op
(equality→DV conversion, DV consolidation, binpack compaction, z-order
recluster) after steps — the visible row set must stay bit-identical to
the untouched control after EVERY step, and structural invariants (at
most one DV per file, no eq files after conversion) must hold.

This is the interaction net for the round's new maintenance surface:
each op is individually tested, but bugs live in the seams (a conversion
after an upsert after a recluster after a delete...).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg import maintenance as M
from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
from iceberg_go_distributed_spark.iceberg.manifest import DataFileContent
from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

SCHEMA = "id long, grp long, v double"


def _batch(spark, rng, ids):
    return spark.createDataFrame(
        [(i, i % 7, float(rng.randint(0, 999))) for i in ids], SCHEMA
    )


def _rows(t, spark):
    return sorted((r.id, r.grp, r.v) for r in t.scan().to_df(spark).collect())


def _invariants(t):
    for task in t.scan().plan_files():
        dvs = [d for d in task.delete_files if d.content_offset is not None]
        assert len(dvs) <= 1, f"{task.file.file_path} has {len(dvs)} DVs"


# seed→bound routing (deterministic): 11→fast path only, 23→mixed
# per-file routing, 7→every conversion through the join path
@pytest.mark.parametrize("seed", [11, 23, 7])
def test_maintenance_never_changes_visible_rows(tmp_path, spark, seed, monkeypatch):
    _maintained_twin(tmp_path, spark, seed, 8, monkeypatch)


def test_maintenance_never_changes_visible_rows_slice(tmp_path, spark, monkeypatch):
    """Short seeded slice of the fuzz above for the default tier: seed 8
    draws the mixed per-file eq-convert routing and opens with an
    upsert."""
    _maintained_twin(tmp_path, spark, 8, 3, monkeypatch)


def _maintained_twin(tmp_path, spark, seed, steps, monkeypatch):
    rng = random.Random(seed)
    cat = FileSystemCatalog(str(tmp_path / f"wh{seed}"))
    schema = schema_from_spark(_batch(spark, rng, [0]).schema)
    a = cat.create_table("db.maintained", schema)
    b = cat.create_table("db.control", schema)
    for t in (a, b):
        t.upgrade_format_version(3)
    # randomize the eq-convert key-row bound so the fuzz exercises the
    # fast path, the distributed join path, AND mixed routing (r10):
    # 0 forces every conversion through the join path, 12 mixes
    # per-file, the default stays fast-path-only at this scale
    bound = rng.choice([0, 12, 2_000_000])
    monkeypatch.setattr(M, "_EQ_CONVERT_KEYS_MAX_ROWS", bound)

    next_id = 0
    live_ceiling = 0

    def fresh_ids(n):
        nonlocal next_id
        out = list(range(next_id, next_id + n))
        next_id += n
        return out

    maintenance = [
        lambda t: t.convert_equality_deletes(spark),
        lambda t: t.rewrite_position_deletes(spark),
        lambda t: t.rewrite_data_files(spark),
        lambda t: t.rewrite_data_files(
            spark, strategy="zorder", sort_cols=["id", "grp"]
        ),
    ]

    # seed data
    ids = fresh_ids(400)
    df = _batch(spark, rng, ids)
    for t in (a, b):
        t.append(df.repartition(3))
    live_ceiling = next_id

    for step in range(steps):
        kind = rng.choice(["append", "upsert", "delete", "merge"])
        if kind == "append":
            df = _batch(spark, rng, fresh_ids(rng.randint(50, 150)))
            for t in (a, b):
                t.append(df.coalesce(1))
        elif kind == "merge":
            ex = rng.sample(range(live_ceiling), k=min(10, live_ceiling))
            src = spark.createDataFrame(
                [(i, float(rng.randint(0, 9)), rng.random() < 0.3) for i in ex],
                "id long, delta double, closed boolean",
            )
            for t in (a, b):
                t.merge(
                    spark, src, on=["id"],
                    matched_update={"v": "target.v + source.delta"},
                    matched_delete_condition="source.closed",
                    not_matched_insert=False,
                )
        elif kind == "upsert":
            # mix of existing and brand-new keys
            existing = rng.sample(range(live_ceiling), k=min(20, live_ceiling))
            df = _batch(spark, rng, existing + fresh_ids(10))
            for t in (a, b):
                t.upsert(df, ["id"])
        else:
            lo = rng.randint(0, max(live_ceiling - 1, 1))
            hi = lo + rng.randint(5, 60)
            expr = E.and_(
                E.greater_than_or_equal("id", lo), E.less_than("id", hi)
            )
            for t in (a, b):
                t.delete_where(spark, expr)
        live_ceiling = next_id

        if rng.random() < 0.8:
            op = rng.choice(maintenance)
            op(a)
            a.refresh()

        assert _rows(a, spark) == _rows(b, spark), f"seed {seed} step {step}"
        _invariants(a)

    # terminal: full cleanup on the maintained twin, still identical
    a.convert_equality_deletes(spark)
    a.refresh()
    a.rewrite_data_files(spark)
    a.refresh()
    a.rewrite_position_deletes(spark)
    a.refresh()
    assert _rows(a, spark) == _rows(b, spark)
    for task in a.scan().plan_files():
        assert all(
            d.content != DataFileContent.EQUALITY_DELETES
            for d in task.delete_files
        )


def test_upgrade_mid_history_twin(tmp_path, spark):
    """v2-born tables: legacy positional deletes, an in-place upgrade to
    v3, then upserts — the maintained twin converts legacy positions and
    equality debt and reclusters, staying row-identical throughout."""
    rng = random.Random(7)
    cat = FileSystemCatalog(str(tmp_path / "wh_up"))
    df = _batch(spark, rng, list(range(500)))
    schema = schema_from_spark(df.schema)
    a = cat.create_table("db.up_maint", schema)
    b = cat.create_table("db.up_ctrl", schema)
    for t in (a, b):
        t.append(df.repartition(3))
        t.delete_where(spark, E.less_than("id", 60))      # v2 pos files
        t.delete_where(spark, E.greater_than("id", 460))  # more v2 pos
    assert _rows(a, spark) == _rows(b, spark)

    for t in (a, b):
        t.upgrade_format_version(3)
        t.refresh()

    assert a.convert_position_deletes(spark) is True
    a.refresh()
    assert _rows(a, spark) == _rows(b, spark)
    _invariants(a)

    up = _batch(spark, rng, list(range(100, 140)))
    for t in (a, b):
        t.upsert(up, ["id"])
    assert a.convert_equality_deletes(spark) is True
    a.refresh()
    assert _rows(a, spark) == _rows(b, spark)
    _invariants(a)

    assert a.rewrite_data_files(
        spark, strategy="zorder", sort_cols=["id", "grp"]
    ) is True
    a.refresh()
    assert _rows(a, spark) == _rows(b, spark)
    # terminal state: no delete files of any kind on the maintained twin
    assert all(not t.delete_files for t in a.scan().plan_files())
