"""Object-store end-to-end: the whole table lives on an S3-compatible
endpoint (moto), exercising every metadata-plane IO seam — metadata
JSON, Avro manifests/manifest lists, executor Parquet writes, footer
stats, Puffin — plus scans through the distributed Arrow reader.

Backs the reference's io/s3.go:59 + io/s3_integration_test.go intent:
in a real cluster Spark's data plane rides s3a:// (hadoop-aws); this
container has no Hadoop S3 connector, so scans take the documented
Arrow fallback while the pure-Python metadata plane talks to S3
directly via pyarrow.fs.
"""

from __future__ import annotations

import os

import pytest

boto3 = pytest.importorskip("boto3")
pytest.importorskip("moto")

from iceberg_go_distributed_spark.iceberg import expressions as E
from iceberg_go_distributed_spark.iceberg.catalog import SqlCatalog

from tests.test_table_e2e import LINEITEM_SCHEMA

BUCKET = "test-warehouse"


@pytest.fixture(scope="module")
def s3_endpoint():
    from moto.server import ThreadedMotoServer

    server = ThreadedMotoServer(port=0)
    server.start()
    host, port = server.get_host_and_port()
    endpoint = f"http://{host}:{port}"
    old_env = {
        k: os.environ.get(k)
        for k in (
            "AWS_ENDPOINT_URL",
            "AWS_ACCESS_KEY_ID",
            "AWS_SECRET_ACCESS_KEY",
            "AWS_DEFAULT_REGION",
            "AWS_EC2_METADATA_DISABLED",
            "SPARK_GRAFT_S3_COMPAT_PUT",
        )
    }
    os.environ["AWS_ENDPOINT_URL"] = endpoint
    os.environ["AWS_ACCESS_KEY_ID"] = "testing"
    os.environ["AWS_SECRET_ACCESS_KEY"] = "testing"
    os.environ["AWS_DEFAULT_REGION"] = "us-east-1"
    os.environ["AWS_EC2_METADATA_DISABLED"] = "true"
    # moto's multipart completion is rejected by the bundled aws-sdk-cpp;
    # route writes through the single-PUT compatibility mode
    os.environ["SPARK_GRAFT_S3_COMPAT_PUT"] = "1"
    boto3.client("s3", endpoint_url=endpoint).create_bucket(Bucket=BUCKET)
    yield endpoint
    server.stop()
    for k, v in old_env.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v
    from iceberg_go_distributed_spark.iceberg import fileio

    fileio._FS_CACHE.clear()


@pytest.fixture()
def s3_catalog(s3_endpoint, tmp_path):
    cat = SqlCatalog(str(tmp_path / "cat.db"), warehouse=f"s3://{BUCKET}")
    cat.create_namespace("db")
    return cat


@pytest.fixture()
def lineitem_df(spark, sf_dir):
    from iceberg_go_distributed_spark.datasets import load_table

    return load_table(spark, sf_dir, "lineitem")


def test_s3_append_scan_roundtrip(s3_catalog, spark, lineitem_df):
    li = lineitem_df.limit(300).cache()
    t = s3_catalog.create_table(
        "db.li_s3", LINEITEM_SCHEMA, location=f"s3://{BUCKET}/db/li_s3"
    )
    assert t.metadata_location.startswith("s3://")
    t.append(li.coalesce(1))

    # metadata plane really lives on S3
    t2 = s3_catalog.load_table("db.li_s3")
    snap = t2.current_snapshot()
    assert snap.manifest_list.startswith("s3://")
    files = [e.data_file for m in snap.manifests() for e in __import__(
        "iceberg_go_distributed_spark.iceberg.manifest", fromlist=["read_manifest"]
    ).read_manifest(m.manifest_path)]
    assert files and all(f.file_path.startswith("s3://") for f in files)
    assert all(f.record_count > 0 and f.lower_bounds for f in files)  # footer stats

    # full scan + filtered scan (metrics pruning still runs off S3 manifests)
    assert t2.scan().to_df(spark).count() == 300
    want = li.where("l_quantity > 30.0").count()
    got = (
        t2.scan(row_filter=E.greater_than("l_quantity", 30.0)).to_df(spark).count()
    )
    assert got == want
    li.unpersist()


def test_s3_second_append_and_time_travel(s3_catalog, spark, lineitem_df):
    li = lineitem_df.limit(200).cache()
    t = s3_catalog.create_table(
        "db.li_s3_tt", LINEITEM_SCHEMA, location=f"s3://{BUCKET}/db/li_s3_tt"
    )
    t.append(li.where("l_orderkey % 2 = 0").coalesce(1))
    first = t.current_snapshot().snapshot_id
    t.append(li.where("l_orderkey % 2 = 1").coalesce(1))
    n_first = li.where("l_orderkey % 2 = 0").count()
    assert t.scan(snapshot_id=first).to_df(spark).count() == n_first
    assert t.scan().to_df(spark).count() == li.count()
    li.unpersist()


def test_s3_positional_deletes(s3_catalog, spark, lineitem_df):
    li = lineitem_df.limit(250).cache()
    t = s3_catalog.create_table(
        "db.li_s3_del", LINEITEM_SCHEMA, location=f"s3://{BUCKET}/db/li_s3_del"
    )
    t.append(li.coalesce(1))
    t.delete_where(spark, E.greater_than("l_quantity", 40.0))
    want = li.where("NOT (l_quantity > 40.0)").count()
    assert t.scan().to_df(spark).count() == want
    li.unpersist()


def test_s3_initial_default_through_arrow_fallbacks(s3_catalog, spark):
    """No Hadoop connector for s3:// here, so both scans take the
    per-file Arrow fallback: the delete-free read and the merge-on-read
    read. Both fill a v3 initial-default for files that predate the
    column (they used to refuse defaulted schemas)."""
    from iceberg_go_distributed_spark.iceberg import types as ty
    from iceberg_go_distributed_spark.iceberg.transaction import (
        AddSchemaUpdate,
        SetCurrentSchema,
    )
    from iceberg_go_distributed_spark.iceberg.types import (
        NestedField,
        Schema,
        schema_from_spark,
    )

    df = spark.createDataFrame([(i, f"v{i}") for i in range(20)], "id long, v string")
    t = s3_catalog.create_table(
        "db.s3_defaults",
        schema_from_spark(df.schema),
        location=f"s3://{BUCKET}/db/s3_defaults",
    )
    t.upgrade_format_version(3)
    t.append(df.coalesce(1))
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
        ),
    )
    tx = t.transaction()
    tx.apply(
        [AddSchemaUpdate(new_schema), SetCurrentSchema(new_schema.schema_id)], []
    )
    tx.commit()
    t.refresh()

    rows = sorted(tuple(r) for r in t.scan().to_df(spark).collect())
    assert rows == [(i, f"v{i}", "unknown") for i in range(20)]

    t.delete_where(spark, E.less_than("id", 5))
    assert any(task.delete_files for task in t.scan().plan_files())
    rows = sorted(tuple(r) for r in t.scan().to_df(spark).collect())
    assert rows == [(i, f"v{i}", "unknown") for i in range(5, 20)]


def test_s3_equality_keys_read_by_field_id_after_rename(s3_catalog, spark):
    """Equality-delete key files on an object store are read by field
    id: after the key column is renamed, the upsert's deletes still
    apply (a read by the current name finds no such column in the key
    file)."""
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, v string"
    )
    t = s3_catalog.create_table(
        "db.s3_eq_rename",
        schema_from_spark(df.schema),
        location=f"s3://{BUCKET}/db/s3_eq_rename",
    )
    t.append(df.coalesce(1))
    t.upsert(
        spark.createDataFrame([(3, "new3"), (5, "new5")], "id long, v string"),
        ["id"],
    )
    t.update_schema().rename_column("id", "key").commit()
    rows = sorted(tuple(r) for r in t.scan().to_df(spark).collect())
    want = {i: f"v{i}" for i in range(10)} | {3: "new3", 5: "new5"}
    assert rows == sorted(want.items())


def test_s3_eq_conversion_join_path_keeps_keys_above_2_53_exact(s3_catalog, spark, monkeypatch):
    """The join route's key frame on an object store (executor Arrow
    reads of the key file) keeps long keys exact: a key file holding
    {2**53+1, null} converts to DVs that delete exactly the rows the
    scan's anti-join deleted, never the row whose id is 2**53."""
    from iceberg_go_distributed_spark.iceberg import maintenance
    from iceberg_go_distributed_spark.iceberg.manifest import DataFileContent
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    big = 2**53
    df = spark.createDataFrame(
        [(big, "a"), (big + 1, "b"), (5, "c"), (None, "n")], "id long, v string"
    )
    t = s3_catalog.create_table(
        "db.s3_eq_big", schema_from_spark(df.schema), location=f"s3://{BUCKET}/db/s3_eq_big"
    )
    t.upgrade_format_version(3)
    t.append(df.coalesce(1))
    t.delete_by_keys(spark.createDataFrame([(big + 1,), (None,)], "id long"), ["id"])
    monkeypatch.setattr(maintenance, "_EQ_CONVERT_KEYS_MAX_ROWS", 1)

    def rows():
        return sorted(tuple(r) for r in t.scan().to_df(spark).collect())

    before = rows()
    assert before == [(5, "c"), (big, "a")]
    assert t.convert_equality_deletes(spark) is True
    t.refresh()
    deletes = [d for task in t.scan().plan_files() for d in task.delete_files]
    assert deletes and all(
        d.content != DataFileContent.EQUALITY_DELETES
        and d.file_path.endswith("-eqconvj.puffin")  # the join route wrote it
        for d in deletes
    )
    assert rows() == before


def test_s3_v3_deletion_vector_write(s3_catalog, spark, lineitem_df):
    """v3 write plane against the object store: the upgrade commit, the
    lineage-assigning manifest list, the executor-written puffin DV,
    and the DV merge-on-read scan all ride the S3 seams."""
    from iceberg_go_distributed_spark.iceberg.manifest import (
        ManifestContent,
        read_manifest,
    )
    from iceberg_go_distributed_spark.iceberg.puffin import read_deletion_vector

    li = lineitem_df.limit(250).cache()
    t = s3_catalog.create_table(
        "db.li_s3_v3", LINEITEM_SCHEMA, location=f"s3://{BUCKET}/db/li_s3_v3"
    )
    t.upgrade_format_version(3)
    t.append(li.coalesce(1))
    assert t.metadata.next_row_id == 250
    t.delete_where(spark, E.equal("l_linenumber", 1))
    want = li.where("l_linenumber != 1").count()
    assert t.scan().to_df(spark).count() == want

    snap = t.current_snapshot()
    dvs = [
        e.data_file
        for m in snap.manifests()
        if m.content == ManifestContent.DELETES
        for e in read_manifest(m.manifest_path)
        if e.data_file.content_offset is not None
    ]
    assert len(dvs) == 1 and dvs[0].file_path.startswith("s3://")
    positions = read_deletion_vector(
        dvs[0].file_path, dvs[0].content_offset, dvs[0].content_size_in_bytes
    )
    assert len(positions) == 250 - want
    li.unpersist()


def test_s3_puffin_statistics(s3_catalog, spark, lineitem_df):
    from iceberg_go_distributed_spark.iceberg.puffin import (
        compute_ndv_statistics,
        read_puffin,
    )

    t = s3_catalog.create_table(
        "db.li_s3_stats", LINEITEM_SCHEMA, location=f"s3://{BUCKET}/db/li_s3_stats"
    )
    t.append(lineitem_df.limit(100).coalesce(1))
    entry = compute_ndv_statistics(t, spark, columns=["l_returnflag"])
    assert entry["statistics-path"].startswith("s3://")
    metas, _, _ = read_puffin(entry["statistics-path"])
    assert metas and int(metas[0].properties["ndv"]) == 3


def test_s3_parquet_file_closes_remote_source(s3_endpoint):
    """parquet_file on a remote path must release the pre-opened input
    stream on close() — pyarrow's own close() only closes sources it
    opened itself, which is what leaked one handle per matched file per
    task before the explicit-ownership wrapper."""
    import contextlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_go_distributed_spark.iceberg import fileio

    path = f"s3://{BUCKET}/probe/one.parquet"
    with fileio.parquet_writer(path, pa.schema([("x", pa.int64())])) as w:
        w.write_table(pa.table({"x": [1, 2, 3]}))
    pf = fileio.parquet_file(path)
    src = pf._source
    assert not src.closed
    with contextlib.closing(pf) as p:
        assert sum(b.num_rows for b in p.iter_batches()) == 3
    assert src.closed, "remote input stream must be closed with the file"


class TestSchemeRouting:
    """URI → filesystem routing for every scheme the reference's io
    package handles (io/s3.go, io/gcs.go, io/azure.go). Azure/GCS have
    no in-container fake, so these pin the parse + cache behavior; the
    S3 path is exercised for real against moto above."""

    def test_azure_uri_parses_account_and_container(self, monkeypatch):
        import pyarrow.fs as pafs

        from iceberg_go_distributed_spark.iceberg import fileio

        created = {}

        class FakeAzure:
            def __init__(self, **kw):
                created.update(kw)

        monkeypatch.setattr(pafs, "AzureFileSystem", FakeAzure)
        fileio._FS_CACHE.pop("azure:myacct", None)
        fs, p = fileio.resolve(
            "abfss://data@myacct.dfs.core.windows.net/wh/db/t/metadata/v1.json"
        )
        assert isinstance(fs, FakeAzure)
        assert created == {"account_name": "myacct"}
        assert p == "data/wh/db/t/metadata/v1.json"
        # cached per account
        fs2, _ = fileio.resolve("abfss://other@myacct.dfs.core.windows.net/x")
        assert fs2 is fs
        fileio._FS_CACHE.pop("azure:myacct", None)

    def test_azure_env_account_and_key(self, monkeypatch):
        import pyarrow.fs as pafs

        from iceberg_go_distributed_spark.iceberg import fileio

        created = {}

        class FakeAzure:
            def __init__(self, **kw):
                created.update(kw)

        monkeypatch.setattr(pafs, "AzureFileSystem", FakeAzure)
        monkeypatch.setenv("AZURE_STORAGE_ACCOUNT_NAME", "envacct")
        monkeypatch.setenv("AZURE_STORAGE_ACCOUNT_KEY", "sekrit")
        fileio._FS_CACHE.pop("azure:envacct", None)
        _, p = fileio.resolve("az://cont/a/b")
        assert created == {"account_name": "envacct", "account_key": "sekrit"}
        assert p == "cont/a/b"
        fileio._FS_CACHE.pop("azure:envacct", None)

    def test_azure_without_account_fails_loudly(self, monkeypatch):
        import pytest

        from iceberg_go_distributed_spark.iceberg import fileio

        monkeypatch.delenv("AZURE_STORAGE_ACCOUNT_NAME", raising=False)
        with pytest.raises(ValueError, match="storage account"):
            fileio.resolve("az://cont/a/b")

    def test_unknown_scheme_fails_loudly(self):
        import pytest

        from iceberg_go_distributed_spark.iceberg import fileio

        with pytest.raises(ValueError, match="unsupported filesystem scheme"):
            fileio.resolve("ftp://host/x")
