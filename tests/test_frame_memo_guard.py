"""Guard for the frame memo (IMPLEMENTATION.md "One frame per snapshot"):
a second `to_df` of an unchanged merge-on-read snapshot reuses the frame
the first one built, so the driver makes only the py4j calls of the
residual filter, not those of a relation build over every data and
delete file. A change that builds the relation again on
every scan fails here, in the default tier, not only in the benchmark."""
from __future__ import annotations

from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

# a rebuild of this table's frame takes over 200 calls
MAX_PY4J_CALLS = 80


def test_second_to_df_of_an_unchanged_snapshot_reuses_its_frame(
    tmp_path, spark, monkeypatch
):
    from py4j.clientserver import ClientServerConnection

    cat = FileSystemCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, f"k{i % 4}", float(i)) for i in range(80)], "id long, k string, v double"
    )
    t = cat.create_table("db.guard", schema_from_spark(df.schema))
    t.upgrade_format_version(3)
    for lo in range(0, 80, 20):
        t.append(df.where(f"id >= {lo} AND id < {lo + 20}").coalesce(1))
    t.delete_where(spark, E.less_than("v", 5.0))
    t.refresh()
    t.delete_by_keys(spark.createDataFrame([("k1",)], "k string"), ["k"])

    def query():
        scan = cat.load_table("db.guard").scan(row_filter=E.greater_than("v", 10.0))
        return scan.to_df(spark)

    query()
    calls = []
    send = ClientServerConnection.send_command

    def counted(self, *a, **kw):
        calls.append(1)
        return send(self, *a, **kw)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    again = query()
    monkeypatch.undo()
    assert 0 < len(calls) < MAX_PY4J_CALLS, f"{len(calls)} py4j calls"
    assert sorted(r.id for r in again.collect()) == [
        i for i in range(11, 80) if i % 4 != 1
    ]
