from __future__ import annotations

import os

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_SLOW_LIST = os.path.join(os.path.dirname(__file__), "slow_tests.txt")


def _slow_nodeids() -> frozenset:
    try:
        with open(_SLOW_LIST) as f:
            return frozenset(
                line.split("#", 1)[0].strip()
                for line in f
                if line.strip() and not line.lstrip().startswith("#")
            )
    except OSError:
        return frozenset()


def pytest_collection_modifyitems(config, items):
    """Apply the `slow` marker from tests/slow_tests.txt — the long
    e2e/fuzz/example tier deselected by the default `-m "not slow"`
    (pytest.ini) so the external driver's test gate finishes inside its
    budget. `pytest -m slow` runs the tier; `pytest -m ""` runs all."""
    slow = _slow_nodeids()
    if not slow:
        return
    for item in items:
        if item.nodeid in slow:
            item.add_marker(pytest.mark.slow)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from iceberg_go_distributed_spark.session import build_spark

    spark = build_spark(app_name="tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def ducks():
    """DuckDB connection with the testdata tables registered as views."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def executor_plan(spark, monkeypatch):
    """`plan(scan)`: `scan.plan_files_auto(spark)` with the collected
    planner's executor leg forced — `_EXECUTOR_PLAN_MIN_ENTRIES` lowered
    to 0 and the driver's manifest cache emptied, so every surviving
    data manifest is cold and goes to the one executor job. Asserts
    that `plan_files_distributed` ran exactly once; the constant and
    the cache are restored when `plan` returns."""
    from iceberg_go_distributed_spark.iceberg import manifest as M
    from iceberg_go_distributed_spark.iceberg import table as T

    def plan(scan):
        calls = []
        orig = T.plan_files_distributed
        with monkeypatch.context() as mp:
            mp.setattr(T, "_EXECUTOR_PLAN_MIN_ENTRIES", 0)
            mp.setattr(M, "_OCF_CACHE", {})
            mp.setattr(M, "_OCF_CACHE_ENTRY_COUNT", 0)
            mp.setattr(
                T,
                "plan_files_distributed",
                lambda s, sp, ms: calls.append(ms) or orig(s, sp, ms),
            )
            T._PLAN_CACHE.clear()
            T._FRAME_MEMO.clear()
            tasks = scan.plan_files_auto(spark)
        T._PLAN_CACHE.clear()
        T._FRAME_MEMO.clear()
        assert len(calls) == 1, f"executor leg ran {len(calls)} times"
        return tasks

    return plan
