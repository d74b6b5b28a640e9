"""Randomized pruning-soundness fuzz — the highest-stakes correctness
surface: a bug anywhere in the 4-level pruning cascade (inclusive
projection, manifest evaluator, partition-tuple eval, metrics bounds)
or the residual compiler silently LOSES rows; phantom rows mean the
residual under-filters.

Each random predicate tree is generated simultaneously in two
independent representations — our Expression algebra (drives pruning +
residual) and a native pyspark Column built directly from F.* ops
(never touches our code) — and the pruned scan must return exactly the
rows the native filter keeps on the raw parquet, across four partition
layouts (unpartitioned/metrics-only, year, bucket, truncate)."""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
from iceberg_go_distributed_spark.iceberg.partitioning import spec_from
from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

SPECS = {
    "flat": (),
    "year": (("l_shipdate", "year"),),
    "bucket": (("l_orderkey", "bucket[4]"),),
    "trunc": (("l_returnflag", "truncate[1]"),),
    # v3 merge-on-read: file metrics are PRE-delete (conservative), so
    # predicate pruning composes with the DV anti-join — fuzzed together
    "mor": (),
}


@pytest.fixture(scope="module")
def fuzz_tables(tmp_path_factory, spark, sf_dir):
    from iceberg_go_distributed_spark.datasets import load_table

    raw = load_table(spark, sf_dir, "lineitem").limit(3000).cache()
    raw.count()
    wh = str(tmp_path_factory.mktemp("fuzzwh"))
    cat = FileSystemCatalog(wh)
    schema = schema_from_spark(raw.schema)
    tables, oracles = {}, {}
    for name, defs in SPECS.items():
        spec = spec_from(schema, *defs) if defs else None
        t = cat.create_table(f"db.{name}", schema, spec=spec)
        if defs:
            t.append(raw)  # fanout: one file per partition
        else:
            # disjoint orderkey ranges → real metrics bounds per file
            ks = sorted(r[0] for r in raw.select("l_orderkey").distinct().collect())
            cuts = [ks[0], ks[len(ks) // 3], ks[2 * len(ks) // 3], ks[-1] + 1]
            for lo, hi in zip(cuts, cuts[1:]):
                t.append(
                    raw.where(f"l_orderkey >= {lo} AND l_orderkey < {hi}").coalesce(1)
                )
        oracle = raw
        if name == "mor":
            t.upgrade_format_version(3)
            t.delete_where(spark, E.equal("l_linenumber", 2))
            t.delete_where(spark, E.greater_than("l_quantity", 48.0))
            oracle = raw.where(
                "l_linenumber != 2 AND l_quantity <= 48.0"
            ).cache()
            oracle.count()
        tables[name], oracles[name] = t, oracle
    yield oracles, tables
    raw.unpersist()


def _ts(rng):
    base = datetime(1992, 1, 1)
    return base + timedelta(days=rng.randint(0, 2500), seconds=rng.randint(0, 86399))


def _leaf(rng):
    col = rng.choice(["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"])
    if col == "l_orderkey":
        v = rng.choice([rng.randint(-5, 12000), 1, 7, 9000000])  # incl. out-of-range
        mk = lambda x: F.lit(int(x))
        vals = [rng.randint(-5, 12000) for _ in range(rng.randint(1, 4))]
    elif col == "l_linenumber":
        v = rng.randint(0, 8)
        mk = lambda x: F.lit(int(x))
        vals = [rng.randint(0, 8) for _ in range(rng.randint(1, 4))]
    elif col == "l_quantity":
        v = round(rng.uniform(-1.0, 55.0), 2)
        mk = lambda x: F.lit(float(x))
        vals = [round(rng.uniform(0, 55), 2) for _ in range(rng.randint(1, 4))]
    elif col == "l_returnflag":
        v = rng.choice(["A", "N", "R", "Z", ""])
        mk = lambda x: F.lit(x)
        vals = [rng.choice(["A", "N", "R", "Z"]) for _ in range(rng.randint(1, 3))]
        # startsWith interacts with truncate(N) partition bounds — the
        # classic projection bug area; fuzz it on the string column
        if rng.random() < 0.25:
            pfx = rng.choice(["A", "N", "R", "Z", ""])
            if rng.random() < 0.5:
                return E.starts_with(col, pfx), F.col(col).startswith(pfx)
            return E.not_starts_with(col, pfx), ~F.col(col).startswith(pfx)
    else:  # l_shipdate
        v = _ts(rng)
        mk = lambda x: F.expr(f"timestamp_ntz'{x.isoformat()}'")
        vals = [_ts(rng) for _ in range(rng.randint(1, 3))]

    def ours(x):
        return x.isoformat() if isinstance(x, datetime) else x

    op = rng.random()
    c = F.col(col)
    if op < 0.15:
        return E.equal(col, ours(v)), c == mk(v)
    if op < 0.30:
        return E.not_equal(col, ours(v)), c != mk(v)
    if op < 0.45:
        return E.less_than(col, ours(v)), c < mk(v)
    if op < 0.60:
        return E.greater_than(col, ours(v)), c > mk(v)
    if op < 0.70:
        return E.less_than_or_equal(col, ours(v)), c <= mk(v)
    if op < 0.80:
        return E.greater_than_or_equal(col, ours(v)), c >= mk(v)
    if op < 0.90:
        return E.is_in(col, [ours(x) for x in vals]), c.isin([mk(x) for x in vals])
    if op < 0.97:
        return E.not_in(col, [ours(x) for x in vals]), ~c.isin([mk(x) for x in vals])
    return E.not_null(col), c.isNotNull()


def _pred(rng, depth=3):
    if depth == 0 or rng.random() < 0.45:
        return _leaf(rng)
    r = rng.random()
    ea, ca = _pred(rng, depth - 1)
    if r < 0.85:
        eb, cb = _pred(rng, depth - 1)
        if r < 0.45:
            return E.and_(ea, eb), ca & cb
        return E.or_(ea, eb), ca | cb
    return E.not_(ea), ~ca


@pytest.mark.parametrize("layout", sorted(SPECS))
def test_random_predicates_prune_soundly(fuzz_tables, spark, layout):
    _check_random_predicates(fuzz_tables, spark, layout, random.Random(hash(layout) & 0xFFFF), 40)


# the metrics-only layouts: `flat` prunes by column metrics alone, `mor`
# composes metrics pruning with deletion vectors. A short seeded slice
# of each runs in the default tier (the seed's 8 predicates prune files
# twice on each layout); the 40-predicate runs stay slow.
@pytest.mark.parametrize("layout", ["flat", "mor"])
def test_random_predicates_prune_soundly_slice(fuzz_tables, spark, layout):
    rng = random.Random(f"slice-{layout}-3")
    _check_random_predicates(fuzz_tables, spark, layout, rng, 8)


def _check_random_predicates(fuzz_tables, spark, layout, rng, n_preds):
    oracles, tables = fuzz_tables
    raw, t = oracles[layout], tables[layout]
    n_all = len(t.scan().plan_files())
    pruned_at_least_once = False
    for i in range(n_preds):
        expr, col = _pred(rng)
        want = {
            (r.l_orderkey, r.l_linenumber, r.l_quantity)
            for r in raw.where(col).select(
                "l_orderkey", "l_linenumber", "l_quantity"
            ).collect()
        }
        scan = t.scan(row_filter=expr)
        if len(scan.plan_files()) < n_all:
            pruned_at_least_once = True
        got = {
            (r.l_orderkey, r.l_linenumber, r.l_quantity)
            for r in scan.to_df(spark).select(
                "l_orderkey", "l_linenumber", "l_quantity"
            ).collect()
        }
        missing, phantom = want - got, got - want
        assert not missing and not phantom, (
            f"{layout} seed-iter {i}: expr={expr} "
            f"missing={list(missing)[:3]} phantom={list(phantom)[:3]}"
        )
    assert pruned_at_least_once, f"{layout}: fuzz never engaged pruning"
