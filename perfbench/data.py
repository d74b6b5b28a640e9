"""Seeded inputs for the benchmark: lineitem-shaped rows and the
DuckDB ledger that every read is checked against.

The rows follow the shape of TPC-H `lineitem` with the eleven columns
the repository's own test data carries. They are generated here from
the workload seed, so a run needs nothing outside its checkout and the
same seed always gives the same rows.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pyarrow as pa

SHIP_START = _dt.date(1992, 1, 2)
SHIP_DAYS = 2525  # through 1998-12-01, as in TPC-H
MAX_LINES_PER_ORDER = 7

LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.date32()),
    ]
)


def lineitem(
    rng: np.random.Generator, n_orders: int, first_orderkey: int = 1, qty=(1, 50)
) -> pa.Table:
    """Rows for orders `first_orderkey .. first_orderkey + n_orders - 1`,
    each with 1 to 7 lines, drawn from `rng`; l_quantity is a whole number
    in the inclusive range `qty`."""
    lines = rng.integers(1, MAX_LINES_PER_ORDER + 1, n_orders)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(first_orderkey, first_orderkey + n_orders), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    quantity = rng.integers(qty[0], qty[1] + 1, n).astype(np.float64)
    price = rng.integers(90_000, 200_000, n) / 100.0
    shipdate = np.datetime64(SHIP_START) + rng.integers(0, SHIP_DAYS, n).astype(
        "timedelta64[D]"
    )
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(1, 200_000, n),
            "l_suppkey": rng.integers(1, 10_000, n),
            "l_linenumber": linenumber,
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * price, 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": shipdate.astype("datetime64[D]"),
        },
        schema=LINEITEM_SCHEMA,
    )


def to_spark(spark, table: pa.Table):
    """A Spark DataFrame over an Arrow table, through pandas with Arrow
    transfer on (the session's default)."""
    return spark.createDataFrame(table.to_pandas(date_as_object=True))


class Ledger:
    """The rows a table should hold, kept in an in-memory DuckDB table.

    Each write the benchmark sends to the engine is applied here too, and
    each read is answered here with the same aggregate, so an answer is
    checked against a second engine rather than against itself."""

    def __init__(self):
        import duckdb

        self.db = duckdb.connect(":memory:")
        self.db.execute("SET threads = 1")
        self.db.execute(
            "CREATE TABLE live (l_orderkey BIGINT, l_partkey BIGINT, "
            "l_suppkey BIGINT, l_linenumber INTEGER, l_quantity DOUBLE, "
            "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
            "l_returnflag VARCHAR, l_linestatus VARCHAR, l_shipdate DATE)"
        )

    def append(self, rows: pa.Table) -> None:
        self.db.register("staged", rows)
        try:
            self.db.execute("INSERT INTO live SELECT * FROM staged")
        finally:
            self.db.unregister("staged")

    def delete(self, where_sql: str) -> None:
        self.db.execute(f"DELETE FROM live WHERE {where_sql}")

    def upsert(self, rows: pa.Table) -> None:
        """Replace the rows whose (l_orderkey, l_linenumber) appear in
        `rows`, as the engine's key-based upsert does."""
        self.db.register("staged", rows)
        try:
            self.db.execute(
                "DELETE FROM live USING staged WHERE live.l_orderkey = staged.l_orderkey "
                "AND live.l_linenumber = staged.l_linenumber"
            )
            self.db.execute("INSERT INTO live SELECT * FROM staged")
        finally:
            self.db.unregister("staged")

    def count(self, where_sql: str = "TRUE") -> int:
        return self.db.execute(f"SELECT COUNT(*) FROM live WHERE {where_sql}").fetchone()[0]

    def orderkeys(self, where_sql: str = "TRUE") -> np.ndarray:
        return self.db.execute(
            f"SELECT DISTINCT l_orderkey FROM live WHERE {where_sql} ORDER BY 1"
        ).fetchnumpy()["l_orderkey"]

    def aggregate(self, where_sql: str = "TRUE") -> dict:
        """The benchmark's read, by (l_returnflag, l_linestatus): row
        count, sum of l_quantity, sum of l_extendedprice."""
        rows = self.db.execute(
            "SELECT l_returnflag, l_linestatus, COUNT(*), SUM(l_quantity), "
            f"SUM(l_extendedprice) FROM live WHERE {where_sql} "
            "GROUP BY l_returnflag, l_linestatus"
        ).fetchall()
        return {(r[0], r[1]): (r[2], r[3], r[4]) for r in rows}
