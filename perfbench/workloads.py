"""The benchmark's three workloads.

Each is one client in a closed loop: the next op starts when the
previous one returns, and the op sequence depends only on the seed.
Every op's output is checked against an answer computed without the
engine; a wrong or raising op counts as failed.

A workload object has `setup()` (timed several times; the median is
`setup_s`), `next_op(i)` returning an `Op`, and `stored_bytes_per_row()`
read once the loop has ended.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

import data

SETUP_REPEATS = 3

# plan_cold_wide: 24 manifests x 250 files = 6,000 entries against a
# manifest cache of 3,000 entries. The cache evicts oldest-first and a
# plan reads the manifests in list order, so every plan decodes every
# manifest. Every manifest survives manifest pruning, because the
# partition summaries cover `k`, not the filtered column `v`.
WIDE_MANIFESTS = 24
WIDE_FILES_PER_MANIFEST = 250
WIDE_CACHE_ENTRIES = 3000
WIDE_ROWS_PER_FILE = 1000  # planbench.ROWS_PER_FILE
WIDE_V_STRIDE = 100  # planbench.V_STRIDE: file gid covers v in [gid*100, gid*100+99]

# query_mor / ingest_mixed: four appends of MOR_ORDERS_PER_APPEND orders
# (1-7 lines each, ~32k rows in all) into a year(l_shipdate)-partitioned
# v3 table. Append i draws l_quantity from its own band of twelve values,
# so bounds on l_quantity prune whole files by their column metrics.
MOR_APPENDS = 4
MOR_ORDERS_PER_APPEND = 2000
QTY_BAND = 12
MOR_DELETE_QTY = 45.0  # delete_where(l_quantity > 45): deletion vectors on append 3's files
MOR_UPSERT_ORDERS = 300  # upsert of append 0's first orders: equality deletes
INGEST_ORDERS_PER_APPEND = 250  # ~1k rows
INGEST_DELETE_KEYS = 20  # l_orderkey range width of one delete_where
INGEST_FIRST_KEY = 1_000_000
# stored_bytes_per_row on ingest_mixed covers the first rounds only, so
# that it does not depend on how many rounds a run completes
INGEST_STORED_ROUNDS = 4


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    prepare: Callable[[], None] | None = None  # untimed, before run


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# --------------------------------------------------------------- plan_cold_wide


def wide_expected_gids(lo: int, hi: int, n_files: int) -> set[int]:
    """Files a filter `lo <= v < hi` must plan: file gid holds
    v in [gid*100, gid*100+99], so it overlaps [lo, hi) exactly when
    gid*100 <= hi-1 and gid*100+99 >= lo."""
    first = max(0, math.ceil((lo - (WIDE_V_STRIDE - 1)) / WIDE_V_STRIDE))
    last = min(n_files - 1, (hi - 1) // WIDE_V_STRIDE)
    return set(range(first, last + 1))


def wide_gid(path: str) -> int:
    return int(path.rsplit("bench-", 1)[1].split(".", 1)[0])


class PlanColdWide:
    """Driver-only planning over metadata twice the manifest cache."""

    name = "plan_cold_wide"
    uses_spark = False
    ROUND = ("plan",)
    WARMUP_ROUNDS = 2
    env = {"SPARK_GRAFT_MANIFEST_CACHE_ENTRIES": str(WIDE_CACHE_ENTRIES)}

    def __init__(self, seed: int, workdir: str, spark=None):
        self.rng = np.random.default_rng(seed)
        self.workdir = workdir
        self.n_files = WIDE_MANIFESTS * WIDE_FILES_PER_MANIFEST
        self.seen: set = set()
        self.builds = 0

    def setup(self) -> None:
        from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
        from iceberg_go_distributed_spark.iceberg.planbench import build_wide_metadata_table

        self.builds += 1
        self.ident = f"db.wide{self.builds}"
        self.table = build_wide_metadata_table(
            self.workdir, WIDE_MANIFESTS, WIDE_FILES_PER_MANIFEST, name=self.ident
        )
        self.catalog = FileSystemCatalog(self.workdir)

    def draw_range(self) -> tuple[int, int]:
        """A `v` range selecting 1-5% of the files, never drawn before in
        this run (a repeat would be answered by the plan memo)."""
        while True:
            n_sel = int(self.rng.integers(self.n_files // 100, self.n_files // 20 + 1))
            lo = int(self.rng.integers(0, (self.n_files - n_sel) * WIDE_V_STRIDE))
            key = (lo, lo + n_sel * WIDE_V_STRIDE)
            if key not in self.seen:
                self.seen.add(key)
                return key

    def next_op(self, i: int) -> Op:
        from iceberg_go_distributed_spark.iceberg import expressions as E

        lo, hi = self.draw_range()
        expr = E.and_(E.greater_than_or_equal("v", lo), E.less_than("v", hi))

        def run():
            return self.catalog.load_table(self.ident).scan(row_filter=expr).plan_files()

        def check(tasks):
            gids = [wide_gid(t.file.file_path) for t in tasks]
            return len(gids) == len(set(gids)) and set(gids) == wide_expected_gids(
                lo, hi, self.n_files
            )

        return Op("plan", run, check)

    def stored_bytes_per_row(self) -> float:
        return dir_bytes(self.table.location) / (self.n_files * WIDE_ROWS_PER_FILE)


# ---------------------------------------------------------- MOR table fixture


class MorFixture:
    """The year(l_shipdate)-partitioned v3 table both Spark workloads start
    from: four appends, one delete_where (deletion vectors) and one upsert
    (equality deletes). `setup()` builds a fresh copy each call; the
    ledger, identical for every copy, is built once."""

    uses_spark = True
    env: dict = {}

    def __init__(self, seed: int, workdir: str, spark):
        self.rng = np.random.default_rng(seed)
        self.workdir = workdir
        self.spark = spark
        self.appends = [
            data.lineitem(
                self.rng,
                MOR_ORDERS_PER_APPEND,
                1 + i * MOR_ORDERS_PER_APPEND,
                qty=(1 + i * QTY_BAND, (i + 1) * QTY_BAND),
            )
            for i in range(MOR_APPENDS)
        ]
        upsert_src = self.appends[0].filter(
            self.appends[0]["l_orderkey"].to_numpy() <= MOR_UPSERT_ORDERS
        )
        fresh = data.lineitem(self.rng, MOR_UPSERT_ORDERS, 1, qty=(1, QTY_BAND))
        # same keys as the rows they replace, new values
        n = min(upsert_src.num_rows, fresh.num_rows)
        self.upsert_rows = fresh.slice(0, n).set_column(
            0, "l_orderkey", upsert_src["l_orderkey"].slice(0, n)
        ).set_column(3, "l_linenumber", upsert_src["l_linenumber"].slice(0, n))
        self.ledger = data.Ledger()
        for a in self.appends:
            self.ledger.append(a)
        self.ledger.delete(f"l_quantity > {MOR_DELETE_QTY}")
        self.ledger.upsert(self.upsert_rows)
        # the same frames serve every build: converting rows to Spark is
        # the client's work, not the engine's, so it stays out of setup_s
        self.frames = [data.to_spark(spark, a) for a in self.appends]
        self.upsert_frame = data.to_spark(spark, self.upsert_rows)
        self.builds = 0
        self.filters = read_filters(self.rng)
        self.order: list[int] = []

    def next_filter(self) -> int:
        """Index of the next read filter: each block of six reads is a
        seeded permutation of the filter set, so every run reads the same
        mix and later blocks repeat earlier filters."""
        if not self.order:
            self.order = [int(j) for j in self.rng.permutation(len(self.filters))]
        return self.order.pop()

    def setup(self) -> None:
        from iceberg_go_distributed_spark.iceberg import expressions as E
        from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
        from iceberg_go_distributed_spark.iceberg.partitioning import spec_from
        from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

        self.builds += 1
        self.ident = f"db.lineitem{self.builds}"
        self.catalog = FileSystemCatalog(self.workdir)
        schema = schema_from_spark(self.frames[0].schema)
        t = self.catalog.create_table(
            self.ident, schema, spec=spec_from(schema, ("l_shipdate", "year"))
        )
        t.upgrade_format_version(3)
        for df in self.frames:
            t.append(df)
        t.delete_where(self.spark, E.greater_than("l_quantity", MOR_DELETE_QTY))
        t.upsert(self.upsert_frame, ["l_orderkey", "l_linenumber"])
        self.table = t

    def load(self):
        return self.catalog.load_table(self.ident)

    def query(self, expr):
        from pyspark.sql import functions as F

        scan = self.load().scan(row_filter=expr) if expr is not None else self.load().scan()
        return (
            scan.to_df(self.spark)
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.count("*").alias("n"),
                F.sum("l_quantity").alias("qty"),
                F.sum("l_extendedprice").alias("price"),
            )
            .collect()
        )

    def stored_bytes_per_row(self) -> float:
        return dir_bytes(self.table.location) / max(self.ledger.count(), 1)


def same_aggregate(rows, expected: dict) -> bool:
    got = {(r[0], r[1]): (r[2], r[3], r[4]) for r in rows}
    if got.keys() != expected.keys():
        return False
    for k, (n, qty, price) in got.items():
        en, eqty, eprice = expected[k]
        if n != en or not math.isclose(qty, eqty, rel_tol=1e-9):
            return False
        if not math.isclose(price, eprice, rel_tol=1e-9):
            return False
    return True


def read_filters(rng: np.random.Generator):
    """Six (engine expression, SQL) read filters of fixed shape with
    seeded constants: none; two two-year l_shipdate windows (partition
    pruning); an upper and a lower l_quantity bound that keep one append
    band (file-metrics pruning); a window and a bound together."""
    from iceberg_go_distributed_spark.iceberg import expressions as E

    def years(y):
        lo, hi = f"{y}-01-01", f"{y + 2}-01-01"
        return (
            E.and_(E.greater_than_or_equal("l_shipdate", lo), E.less_than("l_shipdate", hi)),
            f"l_shipdate >= DATE '{lo}' AND l_shipdate < DATE '{hi}'",
        )

    y1, y2 = (int(y) for y in rng.choice(np.arange(1992, 1997), 2, replace=False))
    q_lo = int(rng.integers(4, QTY_BAND))
    q_hi = int(rng.integers(3 * QTY_BAND + 2, 4 * QTY_BAND))
    w_expr, w_sql = years(int(rng.integers(1992, 1997)))
    return [
        (None, "TRUE"),
        years(y1),
        years(y2),
        (E.less_than("l_quantity", float(q_lo)), f"l_quantity < {q_lo}"),
        (E.greater_than_or_equal("l_quantity", float(q_hi)), f"l_quantity >= {q_hi}"),
        (E.and_(w_expr, E.less_than("l_quantity", float(q_lo))), f"{w_sql} AND l_quantity < {q_lo}"),
    ]


# --------------------------------------------------------------------- query_mor


class QueryMor(MorFixture):
    """Merge-on-read queries on metadata that fits the manifest cache,
    with the filters of `next_filter`. A round is one block of six
    queries, one per filter, so every round does the same work and the
    untimed first round compiles each filter's query plan. The table does
    not change, so each filter's expected answer is computed once."""

    name = "query_mor"
    ROUND = ("query",) * 6
    WARMUP_ROUNDS = 1

    def __init__(self, seed: int, workdir: str, spark):
        super().__init__(seed, workdir, spark)
        self.expected: dict = {}

    def next_op(self, i: int) -> Op:
        fi = self.next_filter()
        expr, sql = self.filters[fi]
        if fi not in self.expected:
            self.expected[fi] = self.ledger.aggregate(sql)
        return Op("query", lambda: self.query(expr), lambda rows: same_aggregate(rows, self.expected[fi]))


# ------------------------------------------------------------------ ingest_mixed


class IngestMixed(MorFixture):
    """Writes beside reads on the same table: each round is two ~1k-row
    appends, one delete_where on a 20-key l_orderkey range that holds live
    rows, then an aggregate over a seeded two-year l_shipdate window (the
    same window every round, so rounds differ only by the debt the
    writes leave). Every write is applied to the ledger too, and the
    aggregate must match the ledger. A write's own check only confirms
    its snapshot recorded the rows it added or deleted."""

    name = "ingest_mixed"
    ROUND = ("append", "append", "delete", "query")
    WARMUP_ROUNDS = 1

    def __init__(self, seed: int, workdir: str, spark):
        super().__init__(seed, workdir, spark)
        self.next_key = INGEST_FIRST_KEY
        self.read_filter = self.filters[1]
        self.rounds = 0
        self.rows_appended = 0
        self.base_bytes = self.stored = None

    def setup(self) -> None:
        super().setup()
        self.base_bytes = dir_bytes(self.table.location)

    def next_op(self, i: int) -> Op:
        kind = self.ROUND[i % len(self.ROUND)]
        return getattr(self, f"_{kind}_op")()

    def _append_op(self) -> Op:
        rows = data.lineitem(self.rng, INGEST_ORDERS_PER_APPEND, self.next_key)
        self.next_key += INGEST_ORDERS_PER_APPEND
        frame = {}

        def prepare():
            frame["df"] = data.to_spark(self.spark, rows)

        def run():
            self.load().append(frame["df"])

        def check(_):
            self.ledger.append(rows)
            self.rows_appended += rows.num_rows
            summary = self.load().current_snapshot().summary
            return summary.properties.get("added-records") == str(rows.num_rows)

        return Op("append", run, check, prepare)

    def _delete_op(self) -> Op:
        from iceberg_go_distributed_spark.iceberg import expressions as E

        # the range starts at a live order with a row in the read window,
        # so it always hits rows and the next read sees them gone
        lo = int(self.rng.choice(self.ledger.orderkeys(self.read_filter[1])))
        hi = lo + INGEST_DELETE_KEYS
        expr = E.and_(E.greater_than_or_equal("l_orderkey", lo), E.less_than("l_orderkey", hi))

        def run():
            self.load().delete_where(self.spark, expr)

        def check(_):
            self.ledger.delete(f"l_orderkey >= {lo} AND l_orderkey < {hi}")
            props = self.load().current_snapshot().summary.properties
            removed = int(props.get("deleted-records", 0))
            return removed + int(props.get("added-position-deletes", 0)) > 0

        return Op("delete", run, check)

    def _query_op(self) -> Op:
        expr, sql = self.read_filter

        def check(rows):
            self.rounds += 1
            if self.rounds <= INGEST_STORED_ROUNDS:
                self.stored = (dir_bytes(self.table.location) - self.base_bytes) / self.rows_appended
            return same_aggregate(rows, self.ledger.aggregate(sql))

        return Op("query", lambda: self.query(expr), check)

    def stored_bytes_per_row(self) -> float:
        """Bytes the first rounds added to the table (data, deletion
        vectors, manifests, metadata) per row they appended."""
        return self.stored


WORKLOADS = {w.name: w for w in (PlanColdWide, QueryMor, IngestMixed)}

