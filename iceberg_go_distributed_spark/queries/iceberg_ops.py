"""Driver-visible correctness entries for the Iceberg table layer.

Each query builds a real table under /tmp (FileSystemCatalog), writes
driver testdata through the distributed-snapshot append, reads it back
through `Table.scan` (four-level pruning + Spark execution), and
aggregates — and the DuckDB oracle computes the same answer directly on
the raw parquet. A value match therefore proves write→commit→plan→scan
round-trip fidelity, not just query algebra.

Determinism notes: appends `repartition(1)` (single writer task) or
repartition by the partition key (one file per partition), so file
counts are stable across executors; money sums use exact DECIMAL.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from . import query
from ..datasets import load_table

_WH_ROOT = "/tmp/iceberg_go_distributed_spark_wh"


def _fresh_catalog(name: str, sf_dir: str):
    from ..iceberg.catalog import FileSystemCatalog

    wh = os.path.join(_WH_ROOT, name, os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(wh, ignore_errors=True)
    return FileSystemCatalog(wh)


def _lineitem_table(spark, sf_dir, name, spec_defs=(), single_file=True):
    from ..iceberg.partitioning import spec_from
    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog(name, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    schema = schema_from_spark(li.schema)
    spec = spec_from(schema, *spec_defs) if spec_defs else None
    t = cat.create_table(f"db.{name}", schema, spec=spec)
    t.append(li.coalesce(1) if single_file and not spec_defs else li)
    return t, li


@query(
    "ice_write_scan_filter",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_quantity > 30.0
    GROUP BY l_returnflag
    """,
    doc="table round-trip: parallel append via distributed snapshot, filtered scan back",
)
def ice_write_scan_filter(spark, sf_dir):
    from ..iceberg import expressions as E
    from ..iceberg.types import schema_from_spark

    # parallel writers are the point of the distributed-snapshot design
    # (coordinator reserves the snapshot, every task writes its own
    # files); 8 fixed partitions keep the file count deterministic
    cat = _fresh_catalog("ice_rt", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    t = cat.create_table("db.ice_rt", schema_from_spark(li.schema))
    t.append(li.repartition(8))
    df = t.scan(row_filter=E.greater_than("l_quantity", 30.0)).to_df(spark)
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)").alias(
            "sum_price"
        ),
    )


@query(
    "ice_partition_prune",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
    doc="transform-aware partition pruning: year(l_shipdate) spec, pruned scan == raw filter",
)
def ice_partition_prune(spark, sf_dir):
    from ..iceberg import expressions as E

    t, _ = _lineitem_table(
        spark, sf_dir, "ice_part", spec_defs=(("l_shipdate", "year"),), single_file=False
    )
    scan = t.scan(row_filter=E.greater_than_or_equal("l_shipdate", "1997-01-01T00:00:00"))
    # the plan must actually prune: planned files < total files
    n_all = len(t.scan().plan_files())
    n_pruned = len(scan.plan_files())
    assert n_pruned < n_all, f"partition pruning inactive: {n_pruned}/{n_all}"
    return scan.to_df(spark).groupBy("l_returnflag").agg(F.count("*").alias("n"))


@query(
    "ice_prune_soundness",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_orderkey < 700
    """,
    doc="metrics pruning soundness: pruned file set loses no qualifying rows",
)
def ice_prune_soundness(spark, sf_dir):
    from ..iceberg import expressions as E

    cat = _fresh_catalog("ice_sound", sf_dir)
    from ..iceberg.types import schema_from_spark

    li = load_table(spark, sf_dir, "lineitem")
    schema = schema_from_spark(li.schema)
    t = cat.create_table("db.ice_sound", schema)
    # three appends with disjoint orderkey ranges → disjoint file bounds
    for lo, hi in ((0, 500), (500, 1000), (1000, 1 << 60)):
        t.append(li.where(f"l_orderkey >= {lo} AND l_orderkey < {hi}").coalesce(1))
    scan = t.scan(row_filter=E.less_than("l_orderkey", 700))
    n_all = len(t.scan().plan_files())
    n_hit = len(scan.plan_files())
    assert n_hit < n_all, f"metrics pruning inactive: {n_hit}/{n_all}"
    return scan.to_df(spark).agg(
        F.count("*").alias("n_rows"),
        F.expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)").alias(
            "sum_price"
        ),
    )


@query(
    "ice_time_travel",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM orders WHERE o_orderkey < 2000) AS snap1_rows,
      (SELECT COUNT(*) FROM orders) AS snap2_rows,
      (SELECT COUNT(*) FROM orders WHERE o_orderkey < 2000) AS tag_rows
    """,
    doc="time travel: snapshot-id, current, and tag reads of the same table",
)
def ice_time_travel(spark, sf_dir):
    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog("ice_tt", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    schema = schema_from_spark(orders.schema)
    t = cat.create_table("db.ice_tt", schema)
    t.append(orders.where("o_orderkey < 2000").coalesce(1))
    first = t.current_snapshot()
    tx = t.transaction()
    tx.set_ref("v1", first.snapshot_id, ref_type="tag")
    tx.commit()
    t.append(orders.where("o_orderkey >= 2000").coalesce(1))

    snap1 = t.scan(snapshot_id=first.snapshot_id).to_df(spark).count()
    snap2 = t.scan().to_df(spark).count()
    tag = t.scan(use_ref="v1").to_df(spark).count()
    return spark.createDataFrame(
        [(snap1, snap2, tag)], "snap1_rows bigint, snap2_rows bigint, tag_rows bigint"
    )


@query(
    "ice_snapshot_summary",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS total_records,
           CAST(2 AS INT) AS n_snapshots,
           CAST(COUNT(DISTINCT year(l_shipdate)) AS BIGINT) AS n_files
    FROM lineitem
    """,
    doc="snapshot summary counters + files metadata table vs raw facts",
)
def ice_snapshot_summary(spark, sf_dir):
    from ..iceberg.partitioning import spec_from
    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog("ice_sum", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    schema = schema_from_spark(li.schema)
    spec = spec_from(schema, ("l_shipdate", "year"))
    t = cat.create_table("db.ice_sum", schema, spec=spec)
    half = li.where("l_orderkey % 2 = 0")
    other = li.where("l_orderkey % 2 = 1")
    t.append(half)
    t.append(other)
    total = int(t.current_snapshot().summary.properties["total-records"])
    n_snapshots = len(t.metadata.snapshots)
    # files metadata table: year-partitioned fanout → distinct years per append;
    # count distinct partitions (both appends cover every year)
    files_df = t.inspect_files(spark)
    n_partitions = files_df.select("partition").distinct().count()
    return spark.createDataFrame(
        [(total, n_snapshots, n_partitions)],
        "total_records bigint, n_snapshots int, n_files bigint",
    )


@query(
    "ice_bucket_partitioning",
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(SUM(CASE WHEN s_acctbal >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
    FROM supplier
    """,
    doc="bucket[8] fanout write + full scan round-trip (bit-exact murmur3 bucketing)",
)
def ice_bucket_partitioning(spark, sf_dir):
    from ..iceberg.partitioning import spec_from
    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog("ice_bkt", sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    schema = schema_from_spark(supp.schema)
    spec = spec_from(schema, ("s_suppkey", "bucket[8]"))
    t = cat.create_table("db.ice_bkt", schema, spec=spec)
    t.append(supp)
    # buckets must match the driver-side pure-Python transform bit-for-bit
    from ..iceberg.manifest import read_manifest
    from ..iceberg.transforms import BucketTransform
    from ..iceberg.types import LongType

    bt = BucketTransform(8)
    for m in t.current_snapshot().manifests():
        for e in read_manifest(m.manifest_path):
            b = e.data_file.partition["s_suppkey_bucket"]
            assert 0 <= b < 8
    # round-trip scan + a bucket-pruned point lookup
    from ..iceberg import expressions as E

    probe_key = 3
    expected_bucket = bt.apply(probe_key, LongType())
    tasks = t.scan(row_filter=E.equal("s_suppkey", probe_key)).plan_files()
    assert all(
        x.file.partition["s_suppkey_bucket"] == expected_bucket for x in tasks
    ), "bucket pruning planned a wrong bucket"
    df = t.scan().to_df(spark)
    return df.agg(
        F.count("*").alias("n"),
        F.expr("CAST(SUM(CASE WHEN s_acctbal >= 0 THEN 1 ELSE 0 END) AS BIGINT)").alias(
            "n_pos"
        ),
    )


@query(
    "ice_positional_deletes",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE NOT (l_quantity > 45.0)
    GROUP BY l_returnflag
    """,
    doc="merge-on-read: positional-delete write + anti-join scan == raw filter",
)
def ice_positional_deletes(spark, sf_dir):
    from ..iceberg import expressions as E

    t, _ = _lineitem_table(spark, sf_dir, "ice_del")
    t.delete_where(spark, E.greater_than("l_quantity", 45.0))
    assert t.current_snapshot().summary.operation == "delete"
    # the scan must be applying real delete files (MOR), not a rewrite
    tasks = t.scan().plan_files()
    assert any(x.delete_files for x in tasks), "expected positional delete files"
    df = t.scan().to_df(spark)
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)").alias(
            "sum_price"
        ),
    )


@query(
    "ice_overwrite",
    oracle="""
    SELECT
      CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows,
      CAST((SELECT COUNT(*) FROM lineitem WHERE l_linenumber = 1) AS BIGINT) AS n_replaced,
      CAST(0 AS BIGINT) AS n_nonzero_replaced
    """,
    doc="copy-on-write overwrite: replace matching rows, preserve the rest",
)
def ice_overwrite(spark, sf_dir):
    from ..iceberg import expressions as E

    t, li = _lineitem_table(spark, sf_dir, "ice_ow")
    replacement = li.where("l_linenumber = 1").withColumn("l_quantity", F.lit(0.0))
    t.overwrite_where(replacement, E.equal("l_linenumber", 1))
    assert t.current_snapshot().summary.operation == "overwrite"
    df = t.scan().to_df(spark)
    return spark.createDataFrame(
        [
            (
                df.count(),
                df.where("l_linenumber = 1").count(),
                df.where("l_linenumber = 1 AND l_quantity != 0.0").count(),
            )
        ],
        "n_rows bigint, n_replaced bigint, n_nonzero_replaced bigint",
    )


@query(
    "ice_equality_deletes",
    oracle="""
    SELECT
      CAST((SELECT COUNT(*) FROM lineitem
            WHERE l_orderkey NOT IN (SELECT DISTINCT l_orderkey FROM lineitem
                                     WHERE l_linenumber = 7)) AS BIGINT) AS n_after,
      CAST(0 AS BIGINT) AS n_deleted_keys_present
    """,
    doc="equality deletes (CDC shape): key-file anti-join on scan",
)
def ice_equality_deletes(spark, sf_dir):
    t, li = _lineitem_table(spark, sf_dir, "ice_eq")
    victims = li.where("l_linenumber = 7").select("l_orderkey").distinct()
    t.delete_by_keys(victims, ["l_orderkey"])
    df = t.scan().to_df(spark)
    remaining = df.count()
    present = df.join(victims, "l_orderkey", "left_semi").count()
    return spark.createDataFrame(
        [(remaining, present)], "n_after bigint, n_deleted_keys_present bigint"
    )


@query(
    "ice_nan_roundtrip",
    oracle="""
    SELECT
      CAST(SUM(CASE WHEN l_orderkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
      CAST(SUM(CASE WHEN l_orderkey % 7 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      CAST(SUM(CASE WHEN l_orderkey % 7 IN (0, 1) THEN 0
                    ELSE CAST(l_discount AS DECIMAL(12,2)) END) AS DOUBLE) AS sum_finite
    FROM lineitem
    """,
    doc="NaN-preserving append: NaN stays NaN (not null) through write+scan; real nan_value_counts",
)
def ice_nan_roundtrip(spark, sf_dir):
    """The write path must not fold float NaN into null (the pandas
    bridge does; mapInArrow keeps them distinct — ref manifest.go:
    1925-1991 tracks NaN counts separately from null counts)."""
    from ..iceberg import expressions as E
    from ..iceberg.manifest import read_manifest
    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog("ice_nan", sf_dir)
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "l_discount",
        F.when(F.col("l_orderkey") % 7 == 0, F.lit(float("nan")))
        .when(F.col("l_orderkey") % 7 == 1, F.lit(None).cast("double"))
        .otherwise(F.col("l_discount")),
    )
    schema = schema_from_spark(li.schema)
    t = cat.create_table("db.ice_nan", schema)
    t.append(li.coalesce(1))

    expected_nan = li.where("isnan(l_discount)").count()
    # manifest metrics must carry the *real* NaN count, not a guess
    fid = next(f.field_id for f in schema.fields if f.name == "l_discount")
    manifest_nans = sum(
        e.data_file.nan_value_counts.get(fid, 0)
        for m in t.current_snapshot().manifests()
        for e in read_manifest(m.manifest_path)
    )
    assert manifest_nans == expected_nan, (
        f"manifest nan_value_counts {manifest_nans} != written NaNs {expected_nan}"
    )
    # NaN-predicate scan goes through the evaluators + residual filter
    n_nan_scan = t.scan(row_filter=E.is_nan("l_discount")).to_df(spark).count()
    assert n_nan_scan == expected_nan, "is_nan scan lost NaN rows (folded to null?)"

    df = t.scan().to_df(spark)
    return df.agg(
        F.sum(F.when(F.isnan("l_discount"), 1).otherwise(0)).cast("bigint").alias("n_nan"),
        F.sum(F.when(F.col("l_discount").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null"),
        F.expr(
            "CAST(SUM(CASE WHEN isnan(l_discount) OR l_discount IS NULL THEN 0 "
            "ELSE CAST(l_discount AS DECIMAL(12,2)) END) AS DOUBLE)"
        ).alias("sum_finite"),
    )


@query(
    "ice_upsert",
    oracle="""
    SELECT
      CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows,
      CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey % 10 = 0) AS BIGINT) AS n_upserted,
      CAST(0 AS BIGINT) AS n_stale
    """,
    doc="single-snapshot MERGE/upsert: keyed replace + insert commit atomically",
)
def ice_upsert(spark, sf_dir):
    t, li = _lineitem_table(spark, sf_dir, "ice_up")
    n_snaps = len(t.metadata.snapshots)
    batch = li.where("l_orderkey % 10 = 0").withColumn("l_tax", F.lit(9.99))
    t.upsert(batch, ["l_orderkey"])
    assert len(t.metadata.snapshots) == n_snaps + 1, "upsert must be ONE snapshot"
    df = t.scan().to_df(spark)
    return spark.createDataFrame(
        [
            (
                df.count(),
                df.where("l_tax = 9.99").count(),
                df.where("l_orderkey % 10 = 0 AND l_tax != 9.99").count(),
            )
        ],
        "n_rows bigint, n_upserted bigint, n_stale bigint",
    )


@query(
    "ice_deletion_vector",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_orderkey % 13 != 0
    GROUP BY l_returnflag
    """,
    doc="v3 deletion vector applied at scan: puffin roaring bitmap MOR",
)
def ice_deletion_vector(spark, sf_dir):
    """Simulates a table written by an external v3 writer: a puffin
    deletion vector (portable Roaring bitmap of row positions, Iceberg
    spec Deletion Vectors) over our own appended data file, applied at
    scan through the positional MOR anti-join. Positions are chosen as
    the physical rows where l_orderkey % 13 == 0, so the DV-filtered
    scan must equal the SQL complement predicate."""
    import copy
    import time as _time

    import numpy as np
    import pyarrow.parquet as pq

    from ..iceberg.manifest import (
        DataFile,
        DataFileContent,
        ManifestContent,
        ManifestEntry,
        ManifestEntryStatus,
        write_manifest,
        write_manifest_list,
    )
    from ..iceberg.metadata import Snapshot, SnapshotLogEntry, SnapshotRef, Summary
    from ..iceberg.puffin import BlobMetadata, serialize_deletion_vector, write_puffin
    from ..iceberg.table import Table

    t, _ = _lineitem_table(spark, sf_dir, "ice_dv")
    [task] = t.scan().plan_files()
    data_path = task.file.file_path
    keys = pq.read_table(data_path, columns=["l_orderkey"])["l_orderkey"].to_numpy(
        zero_copy_only=False
    )
    positions = np.flatnonzero(keys % 13 == 0)

    loc = t.location
    dv_path = os.path.join(loc, "data", "dv.puffin")
    meta = BlobMetadata(
        "deletion-vector-v1", [], 99, 2,
        properties={
            "referenced-data-file": data_path,
            "cardinality": str(len(positions)),
        },
    )
    info = write_puffin(dv_path, [(meta, serialize_deletion_vector(positions))])
    dv_file = DataFile(
        file_path=dv_path,
        file_format="PUFFIN",
        content=DataFileContent.POSITION_DELETES,
        record_count=len(positions),
        file_size_in_bytes=info["size"],
        referenced_data_file=data_path,
        content_offset=meta.offset,
        content_size_in_bytes=meta.length,
    )
    entry = ManifestEntry(
        status=ManifestEntryStatus.ADDED,
        snapshot_id=99,
        sequence_number=2,
        file_sequence_number=2,
        data_file=dv_file,
    )
    dm_path = os.path.join(loc, "metadata", "dv-m0.avro")
    mf = write_manifest(
        dm_path, t.metadata.default_spec(), t.schema(), 99, [entry],
        content=ManifestContent.DELETES,
    )
    old = t.current_snapshot()
    ml_path = os.path.join(loc, "metadata", "dv-list.avro")
    write_manifest_list(ml_path, list(old.manifests()) + [mf])
    md = copy.deepcopy(t.metadata)
    snap = Snapshot(99, 2, int(_time.time() * 1000), ml_path, Summary("delete"),
                    parent_snapshot_id=old.snapshot_id, schema_id=t.schema().schema_id)
    md.snapshots.append(snap)
    md.current_snapshot_id = 99
    md.last_sequence_number = 2
    md.refs["main"] = SnapshotRef(99, "branch")
    md.snapshot_log.append(SnapshotLogEntry(99, snap.timestamp_ms))
    t_dv = Table(t.identifier, md, t.metadata_location, t.catalog)

    df = t_dv.scan().to_df(spark)
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.expr(
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)"
        ).alias("sum_price"),
    )


@query(
    "ice_v3_write",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_quantity >= 10.0
    GROUP BY l_returnflag
    """,
    doc="v3 write path: upgrade, row-lineage appends, DV delete, MOR scan",
)
def ice_v3_write(spark, sf_dir):
    """Full v3 round trip through OUR writer (the reference only parses
    this surface — manifest.go:1791-1793, metadata.go:1789-1856): create
    a table, upgrade to format-version 3, append twice (the manifest
    list writer assigns first-row-id per data manifest and the commit
    advances next-row-id), then delete_where — which on v3 writes a
    puffin deletion vector per touched data file, not parquet position
    deletes — and scan back through the DV merge-on-read path."""
    from ..iceberg import expressions as E
    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog("ice_v3w", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    t = cat.create_table("db.ice_v3w", schema_from_spark(li.schema))
    t.upgrade_format_version(3)
    t.append(li.where("l_orderkey % 2 = 0").coalesce(1))
    t.append(li.where("l_orderkey % 2 = 1").coalesce(1))
    t.delete_where(spark, E.less_than("l_quantity", 10.0))

    md = t.metadata
    total = li.count()
    if md.next_row_id != total:
        raise AssertionError(
            f"row lineage drift: next-row-id {md.next_row_id} != {total}"
        )
    df = t.scan().to_df(spark)
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.expr(
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)"
        ).alias("sum_price"),
    )


@query(
    "ice_row_lineage",
    oracle="""
    WITH numbered AS (
      SELECT l_returnflag, l_linenumber,
             ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS rid
      FROM lineitem
    )
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(rid) AS BIGINT) AS sum_row_id
    FROM numbered
    WHERE l_linenumber != 3
    GROUP BY l_returnflag
    """,
    doc="v3 row lineage: _row_id stable through a DV delete",
)
def ice_row_lineage(spark, sf_dir):
    """Proves the _row_id virtual column end to end: rows written in a
    known total order get positional ids (ROW_NUMBER parity with the
    oracle), and a deletion-vector delete removes ids WITHOUT
    renumbering survivors — the oracle numbers the full table first and
    filters after, so any renumbering would break the hash match.
    (l_orderkey, l_linenumber) is a unique key, making the order total
    and the ids deterministic."""
    from ..iceberg import expressions as E
    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog("ice_rid", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    t = cat.create_table("db.ice_rid", schema_from_spark(li.schema))
    t.upgrade_format_version(3)
    # orderBy then coalesce(1): partitions merge in order, so the file's
    # physical row order — and therefore _row_id — is the sort order
    t.append(li.orderBy("l_orderkey", "l_linenumber").coalesce(1))
    t.delete_where(spark, E.equal("l_linenumber", 3))
    df = t.scan().with_row_lineage().to_df(spark)
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("_row_id").cast("bigint").alias("sum_row_id"),
    )


@query(
    "ice_theta_ndv",
    oracle="""
    SELECT 'l_linestatus' AS col, COUNT(DISTINCT l_linestatus) AS ndv FROM lineitem
    UNION ALL
    SELECT 'l_orderkey' AS col, COUNT(DISTINCT l_orderkey) AS ndv FROM lineitem
    UNION ALL
    SELECT 'l_returnflag' AS col, COUNT(DISTINCT l_returnflag) AS ndv FROM lineitem
    """,
    doc="statistics: theta-sketch NDV blobs match exact distinct counts",
)
def ice_theta_ndv(spark, sf_dir):
    """Driver-visible proof of the apache-datasketches-theta-v1 blobs:
    compute_ndv_statistics writes the puffin file, the sketch payloads
    are parsed back with the independent wire-format reader, and each
    estimate is checked against the exact count — equal in exact mode
    (NDV <= k), within 5×RSE in KMV estimation mode (l_orderkey at
    sf >= 0.01 exceeds k = 4096, so estimation mode runs under the
    driver). The hash-matched result is the exact properties.ndv the
    consumption path reads."""
    from ..iceberg.puffin import compute_ndv_statistics, read_puffin
    from ..iceberg.theta import _MAX_THETA, parse_compact_theta
    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog("ice_theta", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    t = cat.create_table("db.ice_theta", schema_from_spark(li.schema))
    t.append(li.coalesce(1))
    cols = ["l_linestatus", "l_orderkey", "l_returnflag"]
    entry = compute_ndv_statistics(t, spark, columns=cols)

    by_id = {f.field_id: f.name for f in t.schema().fields}
    metas, _, payloads = read_puffin(entry["statistics-path"])
    rows = []
    for i, m in enumerate(metas):
        sketch = parse_compact_theta(payloads[i])
        ndv = int(m.properties["ndv"])
        est = sketch["estimate"]
        if sketch["theta"] == _MAX_THETA:
            ok = int(round(est)) == ndv  # exact mode
        else:
            ok = abs(est - ndv) / ndv <= 5 / 64  # 5 × RSE at lg_k=12
        if not ok:
            raise AssertionError(
                f"sketch estimate {est} inconsistent with exact ndv {ndv}"
            )
        rows.append((by_id[m.fields[0]], ndv))
    return spark.createDataFrame(sorted(rows), "col string, ndv bigint")


@query(
    "ice_changelog",
    oracle="""
    WITH first AS (
      SELECT l_returnflag, l_linenumber,
             ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS rid
      FROM lineitem WHERE l_orderkey % 2 = 0
    ), second AS (
      SELECT l_returnflag,
             (SELECT COUNT(*) FROM first)
               + ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS rid
      FROM lineitem WHERE l_orderkey % 2 = 1
    )
    SELECT 'delete' AS change_type, l_returnflag,
           COUNT(*) AS n, CAST(SUM(rid) AS BIGINT) AS sum_rid
    FROM first WHERE l_linenumber = 2 GROUP BY l_returnflag
    UNION ALL
    SELECT 'insert' AS change_type, l_returnflag,
           COUNT(*) AS n, CAST(SUM(rid) AS BIGINT) AS sum_rid
    FROM second GROUP BY l_returnflag
    """,
    doc="CDC changelog between snapshots via row lineage (insert/delete rows)",
)
def ice_changelog(spark, sf_dir):
    """Row-level CDC on a v3 table: append (checkpoint), DV-delete,
    append again, then `changelog_scan(checkpoint)` must emit exactly
    the deleted rows (with their ORIGINAL row ids — numbering first,
    filtering after, so survivor renumbering would break the match)
    and the second append's rows as inserts (fresh ids)."""
    from ..iceberg import expressions as E
    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog("ice_cdc", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    t = cat.create_table("db.ice_cdc", schema_from_spark(li.schema))
    t.upgrade_format_version(3)
    t.append(
        li.where("l_orderkey % 2 = 0")
        .orderBy("l_orderkey", "l_linenumber")
        .coalesce(1)
    )
    checkpoint = t.current_snapshot().snapshot_id
    t.delete_where(spark, E.equal("l_linenumber", 2))
    t.append(
        li.where("l_orderkey % 2 = 1")
        .orderBy("l_orderkey", "l_linenumber")
        .coalesce(1)
    )

    df = t.changelog_scan(spark, from_snapshot_id=checkpoint)
    return df.groupBy(
        F.col("_change_type").alias("change_type"), F.col("l_returnflag")
    ).agg(
        F.count("*").alias("n"),
        F.sum("_row_id").cast("bigint").alias("sum_rid"),
    )


@query(
    "ice_incremental_scan",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_orderkey % 3 != 0
    GROUP BY l_returnflag
    """,
    doc="incremental append scan: rows added after a checkpoint snapshot",
)
def ice_incremental_scan(spark, sf_dir):
    """Changelog-consumer read: three appends, checkpoint after the
    first, incremental scan returns exactly the later two batches."""
    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog("ice_inc", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    t = cat.create_table("db.ice_inc", schema_from_spark(li.schema))
    t.append(li.where("l_orderkey % 3 = 0").coalesce(1))
    checkpoint = t.current_snapshot().snapshot_id
    t.append(li.where("l_orderkey % 3 = 1").coalesce(1))
    t.append(li.where("l_orderkey % 3 = 2").coalesce(1))

    df = t.incremental_append_scan(from_snapshot_id=checkpoint).to_df(spark)
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.expr(
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)"
        ).alias("sum_price"),
    )


@query(
    "ice_partitions_table",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS record_count
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="partitions metadata table: per-partition rollup matches raw data",
)
def ice_partitions_table(spark, sf_dir):
    """inspect_partitions over an identity-partitioned table must equal
    a plain GROUP BY on the raw data — proves the fanout writer routed
    every row to its partition and manifests carry true counts.

    The partition tuple renders as ``{'l_returnflag': 'A'}``; we project
    the bare value so the oracle SQL stays free of literal braces (which
    some templating layers treat as placeholders).
    """
    t, _ = _lineitem_table(
        spark, sf_dir, "ice_pt", spec_defs=(("l_returnflag", "identity"),),
        single_file=False,
    )
    return t.inspect_partitions(spark).select(
        F.regexp_extract("partition", r"'l_returnflag': '([^']*)'", 1).alias(
            "l_returnflag"
        ),
        "record_count",
    )


@query(
    "ice_partitioned_write_mor",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND NOT (l_quantity > 45.0)
    GROUP BY l_returnflag
    """,
    doc="partitioned fanout v3 write + delete_where DVs + pruned MOR scan",
)
def ice_partitioned_write_mor(spark, sf_dir):
    """The write/read paths a 100 TB deployment actually runs, in one
    round trip (BENCH headline since r7 — VERDICT r6 task 4): fanout
    append onto a year(l_shipdate)-partitioned v3 table (one exchange on
    the partition key, one file per partition per task group), a
    row-level delete_where that writes puffin deletion vectors, then a
    partition-PRUNED merge-on-read scan that applies the DVs. The
    oracle is the complement predicate on raw parquet, so a value match
    proves fanout routing, DV positions, sequence gating, and pruning
    soundness together. Ref anchors: fanout writing mirrors the
    planner's partition grouping (table/scanner.go:343-406); the
    DV read side follows the Iceberg v3 spec (Deletion Vectors)."""
    from ..iceberg import expressions as E

    from ..iceberg.partitioning import spec_from
    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog("ice_pmor", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    schema = schema_from_spark(li.schema)
    spec = spec_from(schema, ("l_shipdate", "year"))
    t = cat.create_table("db.ice_pmor", schema, spec=spec)
    t.upgrade_format_version(3)
    # production skew config: a year-partitioned fact table has hot
    # years — salt the fanout so each partition is written by 4 tasks
    # instead of 1 (write.distribution-mode=hash stays the router)
    tx = t.transaction()
    tx.set_properties({"write.fanout.salt-tasks": "4"})
    tx.commit()
    t.append(li)
    t.delete_where(spark, E.greater_than("l_quantity", 45.0))

    scan = t.scan(
        row_filter=E.greater_than_or_equal("l_shipdate", "1996-01-01T00:00:00")
    )
    tasks = scan.plan_files()
    n_all = len(t.scan().plan_files())
    assert len(tasks) < n_all, f"partition pruning inactive: {len(tasks)}/{n_all}"
    # the scan must be applying real v3 deletion vectors (MOR), not a rewrite
    dvs = [
        d
        for x in tasks
        for d in x.delete_files
        if d.content_offset is not None
    ]
    assert dvs, "expected puffin deletion vectors on the pruned tasks"
    return scan.to_df(spark).groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)").alias(
            "sum_price"
        ),
    )


@query(
    "ice_stream_cdc",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) AS qty, 'insert' AS _change_type,
           'percommit' AS run
    FROM lineitem WHERE l_orderkey % 7 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) AS qty, 'delete' AS _change_type,
           'percommit' AS run
    FROM lineitem WHERE l_orderkey % 7 = 0 AND CAST(l_quantity AS DOUBLE) > 45.0
    UNION ALL
    -- the upsert's equality delete names KEYS; only rows still live
    -- (not already DV-deleted) emit a delete event
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) AS qty, 'delete' AS _change_type,
           'percommit' AS run
    FROM lineitem WHERE l_orderkey % 21 = 0 AND CAST(l_quantity AS DOUBLE) <= 45.0
    UNION ALL
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) + 1000.0 AS qty, 'insert' AS _change_type,
           'percommit' AS run
    FROM lineitem WHERE l_orderkey % 21 = 0
    UNION ALL
    -- NETTED run (cdc_net, r11): one range-netted plan over the whole
    -- history from the beginning = exactly the rows live at head, as
    -- inserts, with NO intermediate events — original survivors the
    -- delete predicate spared and the upsert didn't re-key...
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) AS qty, 'insert' AS _change_type,
           'netted' AS run
    FROM lineitem WHERE l_orderkey % 7 = 0
      AND CAST(l_quantity AS DOUBLE) <= 45.0 AND l_orderkey % 21 <> 0
    UNION ALL
    -- ...plus every upserted replacement version
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) + 1000.0 AS qty, 'insert' AS _change_type,
           'netted' AS run
    FROM lineitem WHERE l_orderkey % 21 = 0
    """,
    doc="readStream CDC: per-commit row events AND the netted catch-up plan (r11)",
)
def ice_stream_cdc(spark, sf_dir):
    """First-class CDC readStream (streaming `mode='cdc'`, new r8; r9
    adds the equality-delete commit shape): build a v3 table with an
    append, a deletion-vector delete_where, AND an upsert (whose commit
    pairs an equality-delete manifest with its data manifest), then
    consume the WHOLE history as a bounded CDC stream (availableNow)
    and return the delivered row events. The oracle reconstructs the
    same event set in plain SQL — every appended row is an 'insert',
    every row the delete predicate matched is a 'delete', every key the
    upsert re-named emits a 'delete' for its STILL-LIVE version (rows
    the DV already killed must not re-emit: the executor subtracts
    prior-dead positions) plus an 'insert' of the replacement — so a
    value-hash match proves the DV-position diff, the eq-key expansion
    with already-dead subtraction, and payload fidelity end-to-end.

    R11 extends in place (r9 precedent, no rotation): the SAME history
    is consumed a second time with `cdc_net=true` — the catch-up netted
    plan (range diff of the two end states) — tagged `run='netted'`.
    From the beginning, the net effect is exactly the head's live rows
    as inserts with zero intermediate events, which the oracle states
    in two plain-SQL blocks; a value-hash match proves the netted
    planner (live-file diff, deletions pre-subtracted from mid-range
    files) end-to-end against DuckDB. Ref anchor: the poll-loop CDC
    surface this upgrades is table/table.go:123-130's append-stream
    read as a first-class Structured Streaming source."""
    import tempfile
    import uuid as _uuid

    from ..iceberg import expressions as E
    from ..iceberg.types import schema_from_spark
    from ..streaming import iceberg_stream

    cat = _fresh_catalog("ice_cdc_stream", sf_dir)
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 7 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("qty"),
        )
    )
    t = cat.create_table("db.cdcs", schema_from_spark(li.schema))
    t.upgrade_format_version(3)
    t.append(li.coalesce(2))
    t.delete_where(spark, E.greater_than("qty", 45.0))
    # upsert (the MERGE commit shape: data + equality-delete manifests
    # in one snapshot) over a key subset — some of whose old versions
    # the DV above already deleted
    t.upsert(
        li.where(F.col("l_orderkey") % 21 == 0)
        .withColumn("qty", F.col("qty") + F.lit(1000.0)),
        key_columns=["l_orderkey", "l_linenumber"],
    )

    def consume(run, **opts):
        name = f"ice_cdc_{_uuid.uuid4().hex[:10]}"
        q = (
            iceberg_stream(spark, cat.warehouse, "db.cdcs", mode="cdc", **opts)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ice_cdc_ck"))
            .start()
        )
        if not q.awaitTermination(300):
            # a wedged bounded stream must not leak into the caller's
            # next query — stop it and fail loudly instead of returning
            # a partially-filled sink
            q.stop()
            raise TimeoutError("bounded stream did not finish within 300s")
        return spark.table(name).select(
            "l_orderkey", "l_linenumber", "qty", "_change_type"
        ).withColumn("run", F.lit(run))

    return consume("percommit").unionByName(consume("netted", cdc_net="true"))


@query(
    "ice_zorder_prune",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_orderkey BETWEEN 100 AND 160 AND l_partkey BETWEEN 20 AND 60
    """,
    doc="z-order layout rewrite: 2-col box filter prunes files only after clustering",
)
def ice_zorder_prune(spark, sf_dir):
    """Z-order clustering payoff round trip: append in random row order
    (every file spans ~the full range of BOTH keys, so a 2-column box
    filter prunes nothing), rewrite with strategy='zorder' on
    (l_orderkey, l_partkey), and scan the SAME box — the rewrite must
    make metrics pruning bite (asserted), and the aggregate must still
    match DuckDB on the raw parquet bit-for-bit."""
    from ..iceberg import expressions as E
    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog("ice_zorder", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    t = cat.create_table("db.ice_zorder", schema_from_spark(li.schema))
    # round-robin repartition: each of the 8 files covers ~the whole
    # (orderkey, partkey) plane, so the box filter prunes nothing yet
    t.append(li.repartition(8))
    box = E.and_(
        E.and_(
            E.greater_than_or_equal("l_orderkey", 100),
            E.less_than_or_equal("l_orderkey", 160),
        ),
        E.and_(
            E.greater_than_or_equal("l_partkey", 20),
            E.less_than_or_equal("l_partkey", 60),
        ),
    )
    n_before = len(t.scan(row_filter=box).plan_files())
    total = sum(task.file.file_size_in_bytes for task in t.scan().plan_files())
    assert t.rewrite_data_files(
        spark,
        target_file_size=max(total // 12, 1),
        strategy="zorder",
        sort_cols=["l_orderkey", "l_partkey"],
    )
    t.refresh()
    n_all = len(t.scan().plan_files())
    n_hit = len(t.scan(row_filter=box).plan_files())
    assert n_hit <= n_all // 2, f"zorder pruning inactive: {n_hit}/{n_all}"
    assert n_hit <= n_before, f"no improvement: {n_hit} vs {n_before}"
    return (
        t.scan(row_filter=box)
        .to_df(spark)
        .agg(
            F.count("*").alias("n_rows"),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)"
            ).alias("sum_price"),
        )
    )


@query(
    "ice_merge",
    oracle="""
    WITH src AS (
      SELECT o_orderkey AS k, (o_orderkey % 9 = 0) AS closed
      FROM orders WHERE o_orderkey % 3 = 0),
    merged AS (
      SELECT o.o_orderstatus AS st,
             CASE WHEN s.k IS NULL THEN CAST(o.o_totalprice AS DECIMAL(12,2))
                  ELSE CAST(o.o_totalprice AS DECIMAL(12,2))
                       + CAST(10.00 AS DECIMAL(4,2)) END AS price
      FROM orders o LEFT JOIN src s ON o.o_orderkey = s.k
      WHERE (s.k IS NOT NULL AND NOT s.closed)
         OR (s.k IS NULL AND o.o_orderkey % 7 <> 0)
      UNION ALL
      SELECT 'NEW' AS st, CAST(1.00 AS DECIMAL(12,2)) AS price
      FROM orders WHERE o_orderkey % 500 = 0)
    SELECT st AS o_orderstatus, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS total
    FROM merged GROUP BY st
    """,
    doc=(
        "multi-action MERGE INTO: conditional update + delete + insert "
        "+ NOT MATCHED BY SOURCE delete in one snapshot — r14: target "
        "and source co-partitioned bucket[8] on the key, so the merge "
        "joins run as storage-partitioned task passes (route + "
        "no-shuffle plan asserted in-query)"
    ),
)
def ice_merge(spark, sf_dir):
    """MERGE round trip: every third order gets +10.00 on its total
    (update), every ninth is closed (delete), a few synthetic new
    orders insert, and unmatched-by-source orders divisible by 7 are
    purged (WHEN NOT MATCHED BY SOURCE AND ... THEN DELETE) — all in
    ONE merge-on-read snapshot; the scan-back aggregate must equal
    DuckDB reconstructing the same end state from the raw parquet.

    r14: target and source are both Iceberg tables bucket[8] on the
    merge key, so the MERGE routes through the storage-partitioned
    legs (`_spj_merge_route`): the matched/insert/by-source joins run
    as per-bucket task passes with ZERO exchange or broadcast of
    either side — cross-checked in-query (route engaged + the matched
    leg's physical plan holds no shuffle join). The merge keys are
    declared OPTIONAL, so eligibility rests on the planned files'
    null_value_counts proving both sides null-free (metadata proof,
    r12). The end state is route-invariant — the oracle is unchanged."""
    from ..iceberg.partitioning import spec_from
    from ..iceberg.types import schema_from_spark
    from ..iceberg.write import _spj_merge_route

    cat = _fresh_catalog("ice_merge", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    oschema = schema_from_spark(orders.schema)
    t = cat.create_table(
        "db.ice_merge",
        oschema,
        spec=spec_from(oschema, ("o_orderkey", "bucket[8]")),
    )
    t.append(orders.repartition(4))
    src = (
        orders.where("o_orderkey % 3 = 0")
        .select(
            "o_orderkey", F.expr("o_orderkey % 9 = 0").alias("closed")
        )
        .unionByName(
            orders.where("o_orderkey % 500 = 0").select(
                (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
                F.lit(False).alias("closed"),
            )
        )
    )
    sschema = schema_from_spark(src.schema)
    ts = cat.create_table(
        "db.ice_merge_src",
        sschema,
        spec=spec_from(sschema, ("o_orderkey", "bucket[8]")),
    )
    ts.append(src)
    # the r14 source-size gate would broadcast this small-SF source;
    # force the SPJ legs so the driver row keeps exercising them
    t.properties["write.merge.spj.min-source-rows"] = "0"
    # in-query cross-check: the co-partitioned table source must route
    # through the SPJ merge legs, and the matched leg's plan must hold
    # no shuffle join of table data (only O(buckets) task descriptors)
    spj = _spj_merge_route(t, spark, ts, ["o_orderkey"])
    assert spj is not None, "SPJ merge route did not engage"
    mplan = spj["matched"]()._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in mplan and "ShuffledHashJoin" not in mplan
    assert "BroadcastHashJoin" not in mplan, "SPJ merge must not broadcast"
    assert t.merge(
        spark,
        ts,
        on=["o_orderkey"],
        matched_update={
            "o_totalprice": (
                "CAST(CAST(target.o_totalprice AS DECIMAL(12,2))"
                " + CAST(10.00 AS DECIMAL(4,2)) AS DOUBLE)"
            )
        },
        matched_delete_condition="source.closed",
        not_matched_insert={
            "o_orderkey": "source.o_orderkey",
            "o_orderstatus": "'NEW'",
            "o_totalprice": "CAST(1.00 AS DOUBLE)",
        },
        # ANSI WHEN NOT MATCHED BY SOURCE AND ... THEN DELETE (r10):
        # target orders absent from the source whose key divides by 7
        # are purged in the SAME snapshot — evaluated against the FULL
        # target scan (pruning is gated per-clause)
        not_matched_by_source_delete_condition="target.o_orderkey % 7 = 0",
    )
    t.refresh()
    return (
        t.scan()
        .to_df(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)"
            ).alias("total"),
        )
    )


@query(
    "ice_partition_evolution",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-01-01'
    GROUP BY l_returnflag
    """,
    doc="partition-spec evolution: scan prunes and reads across year() and month() spec files",
)
def ice_partition_evolution(spark, sf_dir):
    """Partition evolution round trip (ref table/update_spec.go): half
    the rows land under the ORIGINAL year(l_shipdate) spec, the spec
    evolves to month(l_shipdate), the other half lands under it, and one
    date-filtered scan must prune manifests of BOTH specs (each manifest
    evaluates against its own spec) and still return exactly the raw
    parquet's answer."""
    from ..iceberg import expressions as E
    from ..iceberg.partitioning import spec_from
    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog("ice_spec_evo", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    schema = schema_from_spark(li.schema)
    t = cat.create_table(
        "db.ice_spec_evo", schema, spec=spec_from(schema, ("l_shipdate", "year"))
    )
    t.append(li.where("l_orderkey % 2 = 0"))
    t.update_spec().add_field("l_shipdate", "month", name="ship_month").remove_field(
        "l_shipdate_year"
    ).commit()
    t.refresh()
    assert t.metadata.default_spec_id != 0
    t.append(li.where("l_orderkey % 2 = 1"))

    scan = t.scan(
        row_filter=E.greater_than_or_equal("l_shipdate", "2000-01-01T00:00:00")
    )
    n_all = len(t.scan().plan_files())
    n_hit = len(scan.plan_files())
    assert n_hit < n_all, f"cross-spec pruning inactive: {n_hit}/{n_all}"
    return (
        scan.to_df(spark)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.expr(
                "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)"
            ).alias("sum_qty"),
        )
    )


@query(
    "ice_metadata_minmax",
    oracle="""
    SELECT MIN(l_orderkey) AS min_orderkey, MAX(l_orderkey) AS max_orderkey,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
           MIN(l_shipdate) AS min_shipdate, MAX(l_shipdate) AS max_shipdate
    FROM lineitem
    """,
    doc="metadata-only MIN/MAX folded from manifest bounds: zero executor reads",
)
def ice_metadata_minmax(spark, sf_dir):
    """Aggregate pushdown to table metadata (Scan.min_max): the answer
    folds from manifest bound bytes on the driver — no data file is
    opened at ANY table size — and must equal DuckDB scanning every raw
    row. The method refuses (tested in pytest) whenever deletes, NaNs,
    truncated string bounds, or missing metrics would make the fold
    unsound; this table is clean so the fast path applies."""
    import datetime

    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog("ice_minmax", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    t = cat.create_table("db.ice_minmax", schema_from_spark(li.schema))
    t.append(li.repartition(8))
    mm = t.scan().min_max(spark, "l_orderkey", "l_quantity", "l_shipdate")

    def ts(micros):
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=micros
        )

    row = (
        mm["l_orderkey"][0], mm["l_orderkey"][1],
        mm["l_quantity"][0], mm["l_quantity"][1],
        ts(mm["l_shipdate"][0]), ts(mm["l_shipdate"][1]),
    )
    return spark.createDataFrame(
        [row],
        "min_orderkey long, max_orderkey long, min_qty double, "
        "max_qty double, min_shipdate timestamp_ntz, max_shipdate timestamp_ntz",
    )


@query(
    "ice_eq_convert",
    oracle="""
    WITH merged AS (
      SELECT o_orderstatus AS st, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      FROM orders WHERE o_orderkey % 5 <> 0
      UNION ALL
      SELECT 'UP' AS st,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DECIMAL(13,2)) AS price
      FROM orders WHERE o_orderkey % 5 = 0)
    SELECT st AS o_orderstatus, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS total
    FROM merged GROUP BY st
    """,
    doc="equality-delete to DV conversion: upsert debt materialized, rows bit-identical",
)
def ice_eq_convert(spark, sf_dir):
    """Upsert (equality deletes) followed by convert_equality_deletes:
    the conversion must drop every equality-delete file, leave only
    deletion vectors, and keep the visible row set bit-identical to
    DuckDB reconstructing the upsert's end state from the raw parquet —
    proving the sequence-gated key matching and DV union are exact."""
    from ..iceberg.manifest import DataFileContent
    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog("ice_eqconv", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    t = cat.create_table("db.ice_eqconv", schema_from_spark(orders.schema))
    t.upgrade_format_version(3)
    t.append(orders.repartition(4))
    up = orders.where("o_orderkey % 5 = 0").select(
        "o_orderkey",
        "o_custkey",
        F.lit("UP").alias("o_orderstatus"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DOUBLE)"
        ).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    t.upsert(up, ["o_orderkey"])

    def kinds():
        out = set()
        for task in t.scan().plan_files():
            for d in task.delete_files:
                out.add(
                    "eq"
                    if d.content == DataFileContent.EQUALITY_DELETES
                    else "dv"
                )
        return out

    assert "eq" in kinds(), "upsert should leave equality-delete debt"
    assert t.convert_equality_deletes(spark) is True
    t.refresh()
    k = kinds()
    assert "eq" not in k, f"conversion left equality deletes: {k}"
    assert "dv" in k, "matched keys must materialize as deletion vectors"
    return (
        t.scan()
        .to_df(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(13,2))) AS DOUBLE)"
            ).alias("total"),
        )
    )


@query(
    "ice_spj",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS tot,
           CAST(SUM(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_vip
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE NOT (o_totalprice > 400000.0)
    GROUP BY c_mktsegment
    """,
    doc=(
        "storage-partitioned join + 3-way star join + fused join→agg: "
        "bucket[8]-co-located orders⋈customer⋈flags joined per-bucket "
        "in-task (zero table exchange), MOR deletes applied during the "
        "bucket read, fused per-key aggregate cross-checked exactly — "
        "r14: distributed (executor-grouped blob-frame) planning "
        "cross-checked in-query against the driver-planned join, and "
        "the oracle-hashed star output rides the distributed route"
    ),
)
def ice_spj(spark, sf_dir):
    """Write customer and orders bucket[8] on the customer key, delete
    the priciest orders (merge-on-read), then join the two tables with
    the storage-partitioned join (iceberg/spj.py): each bucket's files
    from both sides meet in ONE task, so the plan holds no join operator
    and no hashpartitioning of table data — the shuffle a fact⋈fact join
    pays at 100 TB is eliminated by the write-time layout.  The
    per-bucket no-exchange aggregate is cross-checked in-query against
    the table's own scan count."""
    from ..iceberg import expressions as E
    from ..iceberg.partitioning import spec_from
    from ..iceberg.spj import (
        storage_partitioned_agg,
        storage_partitioned_join,
        storage_partitioned_join_agg,
        storage_partitioned_star_join,
    )
    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog("ice_spj", sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    flags = cust.select(
        F.col("c_custkey").alias("f_custkey"),
        (F.col("c_custkey") % 3 == 0).alias("vip"),
    )
    cs = schema_from_spark(cust.schema)
    osch = schema_from_spark(orders.schema)
    fs = schema_from_spark(flags.schema)
    tc = cat.create_table("db.cust_spj", cs, spec=spec_from(cs, ("c_custkey", "bucket[8]")))
    to = cat.create_table("db.ord_spj", osch, spec=spec_from(osch, ("o_custkey", "bucket[8]")))
    tf = cat.create_table("db.flag_spj", fs, spec=spec_from(fs, ("f_custkey", "bucket[8]")))
    tc.append(cust)
    to.append(orders)
    tf.append(flags)
    to.delete_where(spark, E.greater_than("o_totalprice", 400000.0))
    assert any(t.delete_files for t in to.scan().plan_files()), "expected MOR tasks"

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
    assert "hashpartitioning" not in plan, "SPJ must not exchange table data"

    # layout cross-check: the per-bucket (no-exchange) agg accounts for
    # every surviving order exactly once
    per_key = storage_partitioned_agg(
        spark, to, on="o_custkey", aggs={"n": ("o_orderkey", "count")}
    )
    total = per_key.agg(F.sum("n")).first()[0]
    assert total == to.scan().count(spark), "per-bucket agg lost/duplicated rows"

    # fused join→aggregate (r12): join + final per-key counts in ONE
    # task pass; must account for exactly the 2-way join's rows, and
    # its plan must hold no join/aggregate exchange either
    fused = storage_partitioned_join_agg(
        spark,
        to,
        tc,
        on=("o_custkey", "c_custkey"),
        aggs={"n": ("o_totalprice", "count")},
        left_select=["o_custkey", "o_totalprice"],
        right_select=["c_custkey"],
    )
    fplan = fused._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(o_custkey" not in fplan and "SortMergeJoin" not in fplan
    fused_total = fused.agg(F.sum("n")).first()[0]
    assert fused_total == df.count(), "fused join→agg lost/duplicated rows"

    # r14: the same join above the executor-planning constant must
    # route through executor-side bucket grouping (blob frames — the
    # driver never collects a file descriptor) and return exactly the
    # driver-planned rows: count + price checksum cross-checked. The
    # constant is lowered only while the frames are built: each join
    # picks its route when it is called.
    from ..iceberg import table as T
    from ..iceberg.spj import _spj_wide

    saved = T._EXECUTOR_PLAN_MIN_ENTRIES
    T._EXECUTOR_PLAN_MIN_ENTRIES = 1
    try:
        assert _spj_wide(to, spark), "distributed SPJ planning did not engage"
        dist_df = storage_partitioned_join(
            spark,
            to,
            tc,
            on=("o_custkey", "c_custkey"),
            left_select=["o_custkey", "o_totalprice"],
            right_select=["c_custkey", "c_mktsegment"],
        )
        dplan = dist_df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in dplan
        assert "hashpartitioning(o_custkey" not in dplan
        chk = [
            F.count("*").alias("n"),
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(18,2))"
            ).alias("s"),
        ]
        assert dist_df.agg(*chk).collect() == df.agg(*chk).collect(), (
            "distributed SPJ planning diverged from the driver-planned join"
        )

        # 3-way star (orders⋈customer⋈flags, one task pass) carries the
        # vip count into the oracle-hashed output; the flags side has
        # every custkey, so row multiplicity equals the 2-way join's.
        # The sides are still above the lowered constant, so the star's
        # buckets ALSO group executor-side — the oracle hash rides the
        # r14 route.
        star = storage_partitioned_star_join(
            spark,
            [
                {"table": to, "key": "o_custkey",
                 "select": ["o_custkey", "o_totalprice"]},
                {"table": tc, "key": "c_custkey",
                 "select": ["c_custkey", "c_mktsegment"]},
                {"table": tf, "key": "f_custkey", "select": ["f_custkey", "vip"]},
            ],
        )
    finally:
        T._EXECUTOR_PLAN_MIN_ENTRIES = saved
    return star.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)").alias("tot"),
        F.expr("CAST(SUM(CASE WHEN vip THEN 1 ELSE 0 END) AS BIGINT)").alias("n_vip"),
    )


@query(
    "ice_wide_scan",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_heavy
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc=(
        "wide-scan read routes (r13, extended r14): a multi-file table "
        "above read.spark.max-listed-files takes the STREAMING "
        "plan→read (pruned-descriptor frame → mapInArrow, descriptors "
        "never collect — plan-asserted); the filtered twin streams too "
        "(gate on MATCHED count, r14); a projected scan hands the "
        "reader a PRUNED schema (r14); filter-free count() folds "
        "record counts inside the prune job; all cross-checked in-query"
    ),
)
def ice_wide_scan(spark, sf_dir):
    """Driver evidence for the r13 scan-execution work (SCALE.md r13:
    1M files, plan-to-first-row 146 s → 13 s, driver RSS 2.9 GB → flat).
    The threshold property is lowered so the routes engage at test
    scale; the routes themselves are the production code paths."""
    from ..iceberg import expressions as E
    from ..iceberg.types import schema_from_spark

    cat = _fresh_catalog("ice_wide_scan", sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_orderkey"
    )
    t = cat.create_table("db.wide", schema_from_spark(li.schema))
    for i in range(3):  # several snapshots → several manifests + files
        t.append(li.where(F.col("l_orderkey") % 3 == i).repartition(4))
        t.refresh()
    t.properties["read.spark.max-listed-files"] = "1"

    scan = t.scan()
    assert scan._stream_plan_eligible(), "expected streaming eligibility"
    df = scan.to_df(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "MapInPandas" in plan, (
        "expected the streaming plan→read route (prune job feeding the "
        "distributed Arrow reader)"
    )
    # metadata-only count folds record counts inside the prune job —
    # must equal the executed count exactly
    assert t.scan().count(spark) == df.count(), "metadata count diverged"
    # the filtered twin STREAMS too (r14): its matched set still
    # exceeds the listing threshold, so the gate on MATCHED count keeps
    # it on the streaming route rather than collecting descriptors
    fdf = t.scan(
        row_filter=E.greater_than_or_equal("l_quantity", 25.0)
    ).to_df(spark)
    fplan = fdf._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in fplan and "MapInPandas" in fplan, (
        "expected the streaming plan→read route for the wide-matched "
        "filtered scan"
    )
    n_heavy = fdf.count()
    # projected streamed scan: the reader receives a PRUNED schema
    # (projection ∪ filter fields — Catalyst cannot push a projection
    # through mapInArrow); cross-check its aggregate against the full
    # read
    rs = t.scan(
        row_filter=E.greater_than_or_equal("l_quantity", 25.0)
    ).select("l_returnflag")
    assert {f.name for f in rs._read_schema().fields} == {
        "l_returnflag",
        "l_quantity",
    }, "expected the pruned reader schema on the projected scan"
    pdf = rs.to_df(spark)
    assert pdf.columns == ["l_returnflag"], "projection lost"
    assert pdf.count() == n_heavy, "projected streamed scan diverged"
    out = df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
        F.sum((F.col("l_quantity") >= 25).cast("long")).alias("n_heavy"),
    )
    assert out.agg(F.sum("n_heavy")).first()[0] == n_heavy, (
        "collected wide read diverged from the streamed scan"
    )
    return out
