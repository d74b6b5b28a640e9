"""Pluggable file IO for the metadata plane — ref io/io.go (FileIO
interface), io/s3.go:59, io/gcs.go:41, io/azure.go:54.

Spark's *data plane* rides the Hadoop FS connectors (s3a://, gs://,
abfss://) wherever the cluster ships them; this module covers everything
the pure-Python metadata plane opens itself — metadata JSON, Avro
manifests, Parquet footers, and the executor-side Parquet writers — so a
table whose location is an object-store URI works end-to-end without any
Hadoop jars. Local paths keep plain Python IO (zero overhead, exact
rolling-size checks); object-store URIs resolve to pyarrow filesystems.

S3 configuration comes from the standard AWS env/config chain; a
non-AWS endpoint (minio, moto, on-prem) is honored via AWS_ENDPOINT_URL.
The filesystem instance is cached per process (driver and each executor
build it once).
"""

from __future__ import annotations

import io
import os
from typing import BinaryIO, Optional
from urllib.parse import urlparse

_FS_CACHE: dict[str, object] = {}


_CONFIG_KEYS = (
    "AWS_ENDPOINT_URL",
    "AWS_ACCESS_KEY_ID",
    "AWS_SECRET_ACCESS_KEY",
    "AWS_SESSION_TOKEN",
    "AWS_DEFAULT_REGION",
    "AWS_EC2_METADATA_DISABLED",
    "SPARK_GRAFT_S3_COMPAT_PUT",
    "AZURE_STORAGE_ACCOUNT_NAME",
    "AZURE_STORAGE_ACCOUNT_KEY",
)


def env_config() -> dict[str, str]:
    """Snapshot of the driver's object-store config to ship inside task
    closures: Spark's Python workers inherit the env the JVM was started
    with, not the driver's current env, so endpoint/creds set after
    session start would otherwise never reach executors."""
    return {k: v for k in _CONFIG_KEYS if (v := os.environ.get(k)) is not None}


def apply_config(cfg: dict[str, str]) -> None:
    """Executor-side: fill missing object-store env from the shipped
    driver snapshot. setdefault only — an executor's own credentials
    (instance role, pod identity) always win over shipped values."""
    for k, v in (cfg or {}).items():
        os.environ.setdefault(k, v)


def shipped(fn):
    """`fn`, an executor function of one argument (a `mapInArrow`
    iterator or an `applyInPandas` group), wrapped so that it first
    applies the driver's object-store config, snapshotted here."""
    cfg = env_config()

    def run(arg):
        apply_config(cfg)
        return fn(arg)

    return run


def scheme_of(path: str) -> str:
    return urlparse(path).scheme


def is_local(path: str) -> bool:
    return scheme_of(path) in ("", "file")


def local_path(path: str) -> str:
    u = urlparse(path)
    return u.path if u.scheme == "file" else path


def resolve(path: str):
    """(pyarrow FileSystem, fs-relative path) for an object-store URI."""
    from pyarrow import fs as pafs

    u = urlparse(path)
    if u.scheme in ("s3", "s3a", "s3n"):
        key = "s3"
        if key not in _FS_CACHE:
            kwargs = {}
            endpoint = os.environ.get("AWS_ENDPOINT_URL")
            if endpoint:
                kwargs["endpoint_override"] = endpoint
                if endpoint.startswith("http://"):
                    kwargs["scheme"] = "http"
            _FS_CACHE[key] = pafs.S3FileSystem(**kwargs)
        return _FS_CACHE[key], f"{u.netloc}{u.path}"
    if u.scheme in ("gs", "gcs"):
        if "gcs" not in _FS_CACHE:
            _FS_CACHE["gcs"] = pafs.GcsFileSystem()
        return _FS_CACHE["gcs"], f"{u.netloc}{u.path}"
    if u.scheme in ("abfs", "abfss", "az", "wasb", "wasbs"):
        # abfss://container@account.dfs.core.windows.net/path — ref
        # io/azure.go:54 URI shape; account from the authority, else
        # AZURE_STORAGE_ACCOUNT_NAME; key/SAS from the standard env.
        if "@" in u.netloc:
            container, host = u.netloc.split("@", 1)
            account = host.split(".", 1)[0]
        else:
            container = u.netloc
            account = os.environ.get("AZURE_STORAGE_ACCOUNT_NAME", "")
        if not account:
            raise ValueError(
                f"{path}: no storage account in the URI authority and "
                "AZURE_STORAGE_ACCOUNT_NAME is unset"
            )
        key = f"azure:{account}"
        if key not in _FS_CACHE:
            kwargs = {"account_name": account}
            if os.environ.get("AZURE_STORAGE_ACCOUNT_KEY"):
                kwargs["account_key"] = os.environ["AZURE_STORAGE_ACCOUNT_KEY"]
            _FS_CACHE[key] = pafs.AzureFileSystem(**kwargs)
        return _FS_CACHE[key], f"{container}{u.path}"
    raise ValueError(f"unsupported filesystem scheme {u.scheme!r} for {path}")


def open_input(path: str) -> BinaryIO:
    """Seekable binary reader for any supported URI."""
    if is_local(path):
        return open(local_path(path), "rb")
    fs, p = resolve(path)
    return fs.open_input_file(p)


class _SimplePutOutput(io.BytesIO):
    """Buffer-then-single-PUT writer for S3 fakes/gateways whose
    multipart-upload completion the bundled aws-sdk-cpp rejects (moto,
    some on-prem gateways). Enabled with SPARK_GRAFT_S3_COMPAT_PUT=1;
    real S3/minio should keep pyarrow's streaming multipart writer.
    Memory is bounded by the write target file size."""

    def __init__(self, bucket: str, key: str):
        super().__init__()
        self._bucket, self._key = bucket, key

    def close(self) -> None:
        if not self.closed:
            import boto3

            boto3.client(
                "s3", endpoint_url=os.environ.get("AWS_ENDPOINT_URL")
            ).put_object(Bucket=self._bucket, Key=self._key, Body=self.getvalue())
            super().close()


def _compat_put_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_S3_COMPAT_PUT", "") not in ("", "0", "false")


def open_output(path: str) -> BinaryIO:
    if is_local(path):
        lp = local_path(path)
        os.makedirs(os.path.dirname(lp), exist_ok=True)
        return open(lp, "wb")
    u = urlparse(path)
    if u.scheme in ("s3", "s3a", "s3n") and _compat_put_enabled():
        return _SimplePutOutput(u.netloc, u.path.lstrip("/"))
    fs, p = resolve(path)
    return fs.open_output_stream(p)


def size(path: str) -> int:
    if is_local(path):
        return os.path.getsize(local_path(path))
    fs, p = resolve(path)
    return fs.get_file_info(p).size


def exists(path: str) -> bool:
    if is_local(path):
        return os.path.exists(local_path(path))
    from pyarrow import fs as pafs

    fs, p = resolve(path)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def makedirs(path: str) -> None:
    """mkdir -p for local dirs; object stores have no directories."""
    if is_local(path):
        os.makedirs(local_path(path), exist_ok=True)


def remove(path: str) -> None:
    if is_local(path):
        os.unlink(local_path(path))
    else:
        fs, p = resolve(path)
        fs.delete_file(p)


def write_bytes(path: str, data: bytes) -> None:
    with open_output(path) as f:
        f.write(data)


def read_bytes(path: str) -> bytes:
    with open_input(path) as f:
        return f.read()


class _BufferedParquetWriter:
    """ParquetWriter over a buffered output whose close() uploads."""

    def __init__(self, sink, schema, **kwargs):
        import pyarrow.parquet as pq

        self._sink = sink
        self._writer = pq.ParquetWriter(sink, schema, **kwargs)

    def write_table(self, tbl, **kwargs) -> None:
        self._writer.write_table(tbl, **kwargs)

    def close(self) -> None:
        self._writer.close()
        self._sink.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def parquet_writer(path: str, schema, **kwargs):
    """pq.ParquetWriter targeting any supported URI."""
    import pyarrow.parquet as pq

    if is_local(path):
        lp = local_path(path)
        os.makedirs(os.path.dirname(lp), exist_ok=True)
        return pq.ParquetWriter(lp, schema, **kwargs)
    u = urlparse(path)
    if u.scheme in ("s3", "s3a", "s3n") and _compat_put_enabled():
        return _BufferedParquetWriter(
            _SimplePutOutput(u.netloc, u.path.lstrip("/")), schema, **kwargs
        )
    fs, p = resolve(path)
    return pq.ParquetWriter(p, schema, filesystem=fs, **kwargs)


def read_parquet_metadata(path: str):
    import pyarrow.parquet as pq

    if is_local(path):
        return pq.read_metadata(local_path(path))
    with open_input(path) as f:
        return pq.read_metadata(f)


def read_parquet_table(path: str, columns: Optional[list] = None, filters=None):
    """filters: optional pyarrow compute Expression pushed into the read
    (row-group statistics pruning + exact row filtering). Callers that
    need FILE-ORDER row positions (positional-delete application) must
    not pass filters — filtering renumbers rows."""
    import pyarrow.parquet as pq

    if is_local(path):
        return pq.read_table(local_path(path), columns=columns, filters=filters)
    fs, p = resolve(path)
    return pq.read_table(p, columns=columns, filesystem=fs, filters=filters)


class _OwnedParquetFile:
    """A pq.ParquetFile whose close() also closes the pre-opened remote
    source. pyarrow's own close() only closes sources IT opened; poking
    the private ``_close_source`` flag to flip that would silently stop
    working (re-leaking one remote handle per matched file per task) if
    pyarrow ever renamed it — owning the source explicitly cannot."""

    def __init__(self, pf, source):
        self._pf = pf
        self._source = source

    def __getattr__(self, name):
        return getattr(self._pf, name)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def close(self):
        try:
            self._pf.close()
        finally:
            if not self._source.closed:
                self._source.close()


def parquet_file(path: str):
    """Open a streaming pq.ParquetFile (iter_batches) so callers can
    evaluate predicates batch-wise with memory bounded by batch size,
    not file size. Caller closes (contextlib.closing / with).

    For remote paths the input stream is opened HERE and wrapped in
    :class:`_OwnedParquetFile`, whose close() releases the remote handle
    explicitly instead of leaking one per matched file per task."""
    import pyarrow.parquet as pq

    if is_local(path):
        return pq.ParquetFile(local_path(path))
    fs, p = resolve(path)
    source = fs.open_input_file(p)
    return _OwnedParquetFile(pq.ParquetFile(source), source)
