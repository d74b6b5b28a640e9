"""Storage-partitioned join & aggregation over bucket-partitioned tables.

The reference engine has no joins (SURVEY §0: scan-side filter/project/
limit only) — Spark supplies them.  But a plain ``to_df().join()``
shuffles BOTH fact tables on the join key even when both tables were
written with the same ``bucket[N]`` partition transform on that key,
i.e. when the storage layout already co-locates matching rows.  Spark's
own storage-partitioned join (SPARK-37375) exploits that for V2
datasources; our table format is metadata-driven on the Python side, so
we implement the same idea directly over planned file tasks:

  1. plan both scans (full four-level pruning applies),
  2. group the planned files of each side by their partition value
     under a SHARED transform on the join key — any deterministic
     transform proves co-location (equal keys ⇒ equal transform
     values): bucket[N] (bit-exact murmur3), identity, truncate[W],
     hour/day/month/year all qualify, and the finest shared transform
     wins when several fields derive from the key,
  3. one Spark task per partition value reads that group's files from
     both sides (Arrow), applies positional deletes / DVs and equality
     deletes (key frames LRU-cached per worker, NULL==NULL matching —
     the conversion's own matcher), and joins locally — no exchange of
     table data, ever.  The only shuffle in the plan is the O(groups)
     task-descriptor repartition.

Memory per task is one bucket pair, bounded up front from manifest
file sizes (``join.spj.max-bucket-bytes``, default 4 GiB).  A skewed
bucket above the bound SPLITS (fragment-replicate: one side's files
fan out across tasks, the other side's bucket replicates) instead of
refusing; only a bucket whose replicated side alone exceeds the budget
refuses, naming the shuffle join — same bounded-or-refused discipline
as the CDC eq-key and eq-convert bounds.

``storage_partitioned_agg`` reuses the layout for exact groupBy on the
bucketed key: every group lives wholly inside one bucket, so each task
computes FINAL aggregates locally — no partial/merge, no exchange.
"""

from __future__ import annotations

import json
from typing import Optional

from .manifest import DataFileContent
from .reader import _cast_bridge, delete_entry, mapped_names
from .types import (
    BinaryType,
    DateType,
    DecimalType,
    FixedType,
    IntegerType,
    LongType,
    Schema,
    StringType,
    TimestampNsType,
    TimestampType,
    TimestampTzNsType,
    TimestampTzType,
    schema_to_spark_struct,
)

DEFAULT_MAX_BUCKET_BYTES = 4 << 30  # join.spj.max-bucket-bytes
# identity/day layouts can yield one task row per distinct partition
# value; cap the Spark partition count so a worker streams several
# bucket tasks sequentially (memory stays one bucket pair) instead of
# paying one Python-worker round per tiny task
_MAX_TASK_PARTITIONS = 2048

# blob-frame memo (see _side_blobs): keyed like the plan cache —
# metadata location + snapshot id invalidate on commit — plus the
# Spark applicationId (persisted frames die with their session)
_BLOB_FRAME_MEMO: dict = {}
_BLOB_FRAME_MEMO_MAX = 8


def _hash_family(t) -> str:
    """Iceberg bucket hashing groups types into families that hash
    identically for equal values (spec: int/long/date hash as long;
    timestamp/timestamptz as micros; string/binary as utf8/bytes).
    Cross-family joins cannot reuse bucket co-location."""
    if isinstance(t, (IntegerType, LongType, DateType)):
        return "long"
    if isinstance(t, (TimestampType, TimestampTzType)):
        return "micros"
    if isinstance(t, (TimestampNsType, TimestampTzNsType)):
        return "nanos"
    if isinstance(t, StringType):
        return "string"
    if isinstance(t, (BinaryType, FixedType)):
        return "bytes"
    if isinstance(t, DecimalType):
        return f"decimal[{t.scale}]"
    return f"other[{type(t).__name__}]"


# pick the finest matching transform when several fields derive from
# the join key (more groups = more parallelism; identity is finest)
_TRANSFORM_PREFERENCE = {
    "identity": 0,
    "bucket": 1,
    "hour": 2,
    "day": 3,
    "month": 4,
    "year": 5,
    "truncate": 6,
}


def _partition_fields_on(table, key: str):
    """All non-void partition fields deriving from `key` under the
    table's default spec, plus the source field."""
    from .transforms import VoidTransform

    schema = table.schema()
    ident = getattr(table, "identifier", "<table>")
    src = schema.find_field(key)
    if src is None:
        raise ValueError(f"{ident}: no column {key!r}")
    fields = [
        pf
        for pf in table.spec().fields
        if pf.source_id == src.field_id and not isinstance(pf.transform, VoidTransform)
    ]
    if not fields:
        raise ValueError(
            f"{ident}: column {key!r} is not bucket-partitioned "
            f"under the default spec; storage-partitioned join needs "
            f"the same partition transform (bucket[N] / identity / "
            f"truncate[W] / hour / day / month / year) on the join key "
            f"on both sides (use a regular to_df().join() otherwise)"
        )
    return fields, src


def _pick_copart_pair(lfields, rfields):
    """The matching (left_field, right_field) transform pair — equal
    keys map to equal values under ANY deterministic transform, so any
    SHARED transform proves co-location; prefer the finest."""
    pairs = [
        (lp, rp)
        for lp in lfields
        for rp in rfields
        if str(lp.transform) == str(rp.transform)
    ]
    if not pairs:
        raise ValueError(
            "no shared partition transform on the join keys: left has "
            f"{[str(f.transform) for f in lfields]}, right has "
            f"{[str(f.transform) for f in rfields]}; bucket counts "
            "differ or the transforms do not match — co-location needs "
            "the identical transform on both sides"
        )
    return min(
        pairs,
        key=lambda p: _TRANSFORM_PREFERENCE.get(str(p[0].transform).split("[")[0], 9),
    )


def _key_pairs(on) -> list:
    """Normalize the `on` argument to [(left_key, right_key), ...]:
    a string, a 2-tuple (left, right), or a list of strings/2-tuples."""
    if isinstance(on, str):
        return [(on, on)]
    if isinstance(on, tuple):
        return [(on[0], on[1])]
    out = []
    for k in on:
        out.append((k, k) if isinstance(k, str) else (k[0], k[1]))
    return out


def _side_tasks(table, pf, row_filter, spark=None):
    """Plan one side under its chosen co-partition field: tasks grouped
    by partition value, and the bound residual row filter (None when no
    filter) — applied in-task on the Arrow rows, since pruning only
    eliminates FILES (other keys share a partition's files).

    With a `spark` handle the planning itself routes through
    `plan_files_auto`: small snapshots plan on the driver, wide ones
    (the 100 TB case SPJ exists for) fan the manifest decode out across
    executors and hit the plan memo on repeated joins — the bucketed
    fact table's 500k-file planning drops from ~40 s local to ~4 s
    distributed (SCALE.md r12)."""
    from .expressions import AlwaysTrue, bind_expr, rewrite_not

    scan = table.scan(row_filter=row_filter) if row_filter is not None else table.scan()
    tasks = scan.plan_files_auto(spark) if spark is not None else scan.plan_files()
    resid = None
    if row_filter is not None:
        bound = bind_expr(rewrite_not(row_filter), table.schema())
        if not isinstance(bound, AlwaysTrue):
            resid = bound
    by_bucket: dict = {}
    foreign = 0
    for t in tasks:
        # a file written under an OLDER spec (pre-evolution) has no
        # entry for this field at all — that is "layout unknown", not
        # "null key"; grouping it into the null bucket would silently
        # drop its rows from inner joins
        if pf.name not in t.file.partition:
            foreign += 1
            continue
        b = t.file.partition.get(pf.name)
        by_bucket.setdefault(b, []).append(t)
    if foreign:
        raise ValueError(
            f"{foreign} planned file(s) predate the {pf.name!r} partition "
            "field (partition-spec evolution): their layout is unknown, so "
            "the storage-partitioned path cannot co-locate them. Run "
            "rewrite_data_files() to rewrite the table under the current "
            "spec, or use a regular to_df().join()"
        )
    return by_bucket, resid


def _spj_wide(table, spark) -> bool:
    """True when this side's snapshot is wide enough that grouping its
    planned tasks in driver Python would be the O(files) collect the
    streaming plan→read eliminated for plain scans (VERDICT r13
    task 2). Same thresholds as distributed planning, so the prune
    job the blobs path rides was going to run anyway."""
    if spark is None:
        return False
    snap = table.metadata.current_snapshot()
    if snap is None:
        return False
    props = table.metadata.properties

    def prop_int(key, default):
        try:
            return int(props.get(key, default))
        except (TypeError, ValueError):
            return int(default)

    min_manifests = prop_int("read.distributed-planning.min-manifests", "64")
    min_files = prop_int("read.distributed-planning.min-files", "50000")
    from .manifest import ManifestContent

    manifests = [
        m for m in snap.manifests() if m.content == ManifestContent.DATA
    ]
    n_files = sum(
        m.added_files_count + m.existing_files_count for m in manifests
    )
    return (0 < min_manifests <= len(manifests)) or (0 < min_files <= n_files)


def _side_blobs(table, pf, row_filter, spark):
    """Executor-side bucket grouping for WIDE sides (VERDICT r13
    task 2): the distributed prune frame's descriptors group by
    partition value in a Spark job and come back as ONE compressed
    blob row per bucket — (part, files, bytes, nfiles) — so the driver
    never materializes O(files) descriptors per join side (the same
    move `_stream_plan_route` made for plain scans). Delete
    descriptors are O(small) and collect driver-side; sequence-gated
    matching (`build_delete_matcher`) runs inside the grouping task.

    Returns (frame, residual) — the same residual contract as
    `_side_tasks`."""
    import pandas as pd
    from pyspark.sql import functions as F

    from .expressions import AlwaysTrue, bind_expr, rewrite_not
    from .table import _distributed_prune_frame_cached, _keep_persisted
    from .write import _decode_descriptor

    scan = (
        table.scan(row_filter=row_filter)
        if row_filter is not None
        else table.scan()
    )
    resid = None
    if row_filter is not None:
        bound = bind_expr(rewrite_not(row_filter), table.schema())
        if not isinstance(bound, AlwaysTrue):
            resid = bound
    # memo the (persisted, O(buckets)) blob frame alongside the prune
    # frame: the several legs a MERGE plans (pre-check, matched,
    # insert-anti, by-source-anti, cardinality probe) then share ONE
    # grouping job per side on top of the one prune job
    memo_key = None
    snap = table.metadata.current_snapshot()
    loc = getattr(table, "metadata_location", None)
    if snap is not None and loc is not None:
        memo_key = (
            spark.sparkContext.applicationId,
            loc,
            snap.snapshot_id,
            repr(row_filter),
            pf.name,
        )
        hit = _BLOB_FRAME_MEMO.get(memo_key)
        if hit is not None:
            return hit, resid
    out_schema = "part string, files string, bytes long, nfiles long"
    # the memoized frame is persisted, so the several SPJ legs a MERGE
    # plans (and the delete collect below) share ONE prune job per side
    frame, n_del = _distributed_prune_frame_cached(scan, spark)
    if frame is None:
        return spark.createDataFrame([], out_schema), resid
    delete_rows = []
    if n_del:
        delete_rows = sorted(
            (
                (r.seq, _decode_descriptor(r.descriptor))
                for r in frame.where(F.col("kind") == 1).collect()
            ),
            key=lambda t: t[0],
        )
    pf_name = pf.name
    data = frame.where(F.col("kind") == 0).select("seq", "descriptor")

    # the blob entries need only (partition value, path, size); one
    # light json parse per descriptor extracts them and the grouping
    # shuffle carries ~100-byte rows instead of full ~1 KB descriptors
    # (a full DataFile decode converts bounds/stats maps nobody reads)
    def add_part(batches):
        import json as _json

        from .write import _decode_partition

        for pdf in batches:
            parts, paths, sizes = [], [], []
            for desc in pdf["descriptor"]:
                d = _json.loads(desc)
                p = _decode_partition(d.get("partition"))
                if pf_name not in p:
                    # same refusal as _side_tasks: a file written under
                    # an older spec has unknown layout for this field
                    raise ValueError(
                        f"planned file(s) predate the {pf_name!r} "
                        "partition field (partition-spec evolution): "
                        "their layout is unknown, so the storage-"
                        "partitioned path cannot co-locate them. Run "
                        "rewrite_data_files() to rewrite the table under "
                        "the current spec, or use a regular "
                        "to_df().join()"
                    )
                parts.append(repr(p.get(pf_name)))
                paths.append(d["file_path"])
                sizes.append(d["file_size_in_bytes"])
            yield pd.DataFrame(
                {
                    "part": parts,
                    "seq": pdf["seq"],
                    "path": paths,
                    "size": sizes,
                }
            )

    keyed = data.mapInPandas(
        add_part, "part string, seq long, path string, size long"
    )

    def to_blob(pdf):
        from .table import build_delete_matcher

        match = build_delete_matcher(delete_rows)
        entries, total = [], 0
        for seq, path, size in zip(pdf["seq"], pdf["path"], pdf["size"]):
            matched = match(int(seq), path)
            dels, eqs = _delete_entries(matched)
            nbytes = int(size) + sum(
                x.file_size_in_bytes for x in matched
            )
            entries.append(
                {"path": path, "dels": dels, "eqs": eqs, "bytes": nbytes}
            )
            total += nbytes
        return pd.DataFrame(
            {
                "part": [pdf["part"].iloc[0]],
                "files": [_entries_json(entries)],
                "bytes": [total],
                "nfiles": [len(entries)],
            }
        )

    blob = keyed.groupBy("part").applyInPandas(to_blob, out_schema)
    if memo_key is not None:
        blob = _keep_persisted(blob)
        _BLOB_FRAME_MEMO[memo_key] = blob
        while len(_BLOB_FRAME_MEMO) > _BLOB_FRAME_MEMO_MAX:
            _BLOB_FRAME_MEMO.pop(next(iter(_BLOB_FRAME_MEMO)))
    return blob, resid


def _bucket_task_frame(spark, lframe, rframe, how, limit):
    """Join the two sides' per-bucket blob frames Spark-side and apply
    the fragment-split budget in an executor pass — the distributed
    twin of the driver planning loop in `storage_partitioned_join`.
    Emits (part, left_files, right_files, split) where split=1 marks
    fragment rows of an over-budget bucket (fused callers route those
    to the partial-aggregate pipeline; plain joins treat them as
    ordinary tasks). The only data that ever moves here is O(buckets)
    compressed descriptor blobs — never file descriptors to the
    driver, never table rows."""
    import pandas as pd
    from pyspark.sql import functions as F

    none_part = repr(None)
    lf = lframe.select(
        F.col("part"),
        F.col("files").alias("lf"),
        F.col("bytes").alias("lb"),
    )
    rf = rframe.select(
        F.col("part"),
        F.col("files").alias("rf"),
        F.col("bytes").alias("rb"),
    ).where(F.col("part") != none_part)
    if how in ("inner", "semi"):
        joined = lf.where(F.col("part") != none_part).join(rf, "part", "inner")
    else:  # left/anti: every left bucket; the null bucket joins nothing
        joined = lf.join(rf, "part", "left")

    def plan_rows(batches):
        cols = {"part": [], "left_files": [], "right_files": [], "split": []}

        def emit(part, ljson, rjson, split):
            cols["part"].append(part)
            cols["left_files"].append(ljson)
            cols["right_files"].append(rjson)
            cols["split"].append(split)

        for pdf in batches:
            for part, ljson, lb, rjson, rb in zip(
                pdf["part"], pdf["lf"], pdf["lb"], pdf["rf"], pdf["rb"]
            ):
                if rjson is None or not isinstance(rjson, str):
                    rjson, rb = "[]", 0
                lb, rb = int(lb), int(rb or 0)
                if lb + rb <= limit:
                    emit(part, ljson, rjson, 0)
                    continue
                # fragment-replicate, same rules as the driver loop:
                # left/semi/anti need the COMPLETE right bucket per task
                lentries = _task_loads(ljson)
                rentries = _task_loads(rjson)
                split_left = how != "inner" or lb >= rb
                frag, keep = (
                    (lentries, rjson) if split_left else (rentries, ljson)
                )
                keep_bytes = rb if split_left else lb
                budget = limit - keep_bytes
                biggest = max(e["bytes"] for e in frag)
                if budget < biggest:
                    raise ValueError(
                        f"bucket {part}: replicated side holds "
                        f"{keep_bytes} bytes and the largest fragment "
                        f"file is {biggest} — no split fits "
                        f"join.spj.max-bucket-bytes={limit}; raise the "
                        "property, rewrite with more buckets, or use a "
                        "regular to_df().join()"
                    )

                def emit_chunk(chunk):
                    cj = _entries_json(chunk)
                    if split_left:
                        emit(part, cj, keep, 1)
                    else:
                        emit(part, keep, cj, 1)

                chunk, cb = [], 0
                for e in frag:
                    if chunk and cb + e["bytes"] > budget:
                        emit_chunk(chunk)
                        chunk, cb = [], 0
                    chunk.append(e)
                    cb += e["bytes"]
                if chunk:
                    emit_chunk(chunk)
            yield pd.DataFrame(cols)
            cols = {k: [] for k in cols}

    return _spread_tasks(
        joined.mapInPandas(
            plan_rows,
            "part string, left_files string, right_files string, split int",
        ),
        spark,
    )


def _spread_tasks(df, spark):
    """One bucket task per Spark task: the planned task frame is tiny
    (O(buckets) rows of a few KB), so AQE coalesces its exchange into
    one or two partitions — and the heavy per-bucket file reads of the
    downstream mapInArrow pipeline into them, serializing a
    million-file join behind a single core (measured: the 1M-file
    probe's first dist run sat 9+ min in ONE task). An explicit
    repartition count is exempt from AQE coalescing and round-robins
    the task rows; empty partitions at small scale are scheduling
    noise only. Mirrors the driver path's repartition(min(len(rows),
    _MAX_TASK_PARTITIONS)) without needing a driver-side row count."""
    n = min(
        _MAX_TASK_PARTITIONS,
        max(64, spark.sparkContext.defaultParallelism * 4),
    )
    return df.repartition(n)


def _wide_merge_precheck(table, source, t_pf, s_pf, optional_fids, limit, spark):
    """Executor-side twin of the MERGE pre-check's driver loops
    (write.py `_spj_merge_route`) for WIDE sides: per-bucket byte sums
    come from the blob frames (O(buckets) rows, matched delete sizes
    included, the prune job shared with the merge legs via the
    prune-frame memo) and the optional-key null proof is one decode
    pass over the memoized descriptor frame — the driver never holds a
    file descriptor. optional_fids: [(table_fid, source_fid), ...].
    Returns False → the caller falls back to the regular merge path."""
    import pandas as pd
    from pyspark.sql import functions as F

    from .manifest import ManifestContent
    from .table import _distributed_prune_frame_cached
    from .write import _decode_descriptor

    # spec-evolution eligibility, manifest-level: a manifest whose spec
    # lacks the co-partition field holds files of unknown layout. The
    # driver path learns this from _side_tasks' per-file ValueError;
    # here it must be known BEFORE a Spark job would raise it from an
    # executor (merge wants a fallback, not a crash).
    for t, pf in ((table, t_pf), (source, s_pf)):
        md = t.metadata
        snap = md.current_snapshot()
        if snap is None:
            continue
        for m in snap.manifests():
            if m.content != ManifestContent.DATA:
                continue
            spec = md.spec_by_id(m.partition_spec_id)
            if spec is None or all(f.name != pf.name for f in spec.fields):
                return False

    tframe, _ = _side_blobs(table, t_pf, None, spark)
    sframe, _ = _side_blobs(source, s_pf, None, spark)
    worst = (
        tframe.select("part", F.col("bytes").alias("tb"))
        .join(
            sframe.select("part", F.col("bytes").alias("sb")), "part", "outer"
        )
        .agg(
            F.max(
                F.coalesce(F.col("tb"), F.lit(0))
                + F.coalesce(F.col("sb"), F.lit(0))
            )
        )
        .first()[0]
    )
    if worst is not None and worst > limit:
        return False

    if optional_fids:
        for t, fids in (
            (table, tuple(p[0] for p in optional_fids)),
            (source, tuple(p[1] for p in optional_fids)),
        ):
            frame, _n = _distributed_prune_frame_cached(t.scan(), spark)
            if frame is None:
                continue

            def check(batches, _fids=fids):
                ok = True
                for pdf in batches:
                    for desc in pdf["descriptor"]:
                        nvc = _decode_descriptor(desc).null_value_counts
                        for fid in _fids:
                            if not nvc or nvc.get(fid) is None or nvc[fid] > 0:
                                ok = False
                yield pd.DataFrame({"ok": [ok]})

            flags = (
                frame.where("kind = 0")
                .select("descriptor")
                .mapInPandas(check, "ok boolean")
                .collect()
            )
            if not all(r.ok for r in flags):
                return False
    return True


def _star_task_frame(spark, frames, limit):
    """N-way star planning Spark-side: inner-join every side's blob
    frame on the bucket value (a star is inner on all sides; null
    buckets never match) and apply the fact-only fragment budget in
    the same executor pass — the distributed twin of the driver loop
    in `storage_partitioned_star_join`. Emits (part, sides, split)
    where `sides` is the task row's JSON list of per-side file sets
    and split=1 marks fact fragments of an over-budget bucket (fused
    callers route those to the partial pipeline; plain stars treat
    them as ordinary tasks). Only O(buckets) blob rows ever move."""
    import pandas as pd
    from pyspark.sql import functions as F

    none_part = repr(None)
    n = len(frames)
    joined = None
    for i, fr in enumerate(frames):
        side = fr.select(
            F.col("part"),
            F.col("files").alias(f"f{i}"),
            F.col("bytes").alias(f"b{i}"),
        ).where(F.col("part") != none_part)
        joined = side if joined is None else joined.join(side, "part", "inner")

    def plan_rows(batches):
        cols = {"part": [], "sides": [], "split": []}
        for pdf in batches:
            for row in pdf.to_dict("records"):
                part = row["part"]
                side_jsons = [row[f"f{i}"] for i in range(n)]
                dims_bytes = sum(int(row[f"b{i}"]) for i in range(1, n))
                if dims_bytes + int(row["b0"]) <= limit:
                    cols["part"].append(part)
                    cols["sides"].append(json.dumps(side_jsons))
                    cols["split"].append(0)
                    continue
                budget = limit - dims_bytes
                fact = _task_loads(side_jsons[0])
                biggest = max(e["bytes"] for e in fact)
                if budget < biggest:
                    raise ValueError(
                        f"bucket {part}: dimension sides hold "
                        f"{dims_bytes} bytes and the largest fact file "
                        f"is {biggest} — no split fits "
                        f"join.spj.max-bucket-bytes={limit}"
                    )
                dims_tail = side_jsons[1:]

                def emit_chunk(chunk):
                    cols["part"].append(part)
                    cols["sides"].append(
                        json.dumps([_entries_json(chunk)] + dims_tail)
                    )
                    cols["split"].append(1)

                chunk, cb = [], 0
                for e in fact:
                    if chunk and cb + e["bytes"] > budget:
                        emit_chunk(chunk)
                        chunk, cb = [], 0
                    chunk.append(e)
                    cb += e["bytes"]
                if chunk:
                    emit_chunk(chunk)
            yield pd.DataFrame(cols)
            cols = {k: [] for k in cols}

    return _spread_tasks(
        joined.mapInPandas(plan_rows, "part string, sides string, split int"),
        spark,
    )


# compress large task descriptors: one bucket of a 1M-file table holds
# tens of thousands of file entries whose paths share long prefixes —
# raw JSON is ~10 MB per task row ("very large task" warnings and an
# O(buckets × MB) driver→executor ship), zlib shrinks it 10-20×. Small
# buckets stay plain JSON (readable, and "[]" keeps meaning empty).
_TASK_COMPRESS_MIN = 8 << 10


def _delete_entries(delete_files):
    """The per-file delete descriptor lists the task JSON carries —
    shared by the driver-side encoder (FileScanTasks) and the
    executor-side bucket grouper (matched descriptor lists)."""
    return (
        [
            delete_entry(d)
            for d in delete_files
            if d.content == DataFileContent.POSITION_DELETES
        ],
        [
            {"path": d.file_path, "ids": list(d.equality_ids or [])}
            for d in delete_files
            if d.content == DataFileContent.EQUALITY_DELETES
        ],
    )


def _task_entries(tasks) -> list:
    """FileScanTasks → the task-JSON entry dicts. `bytes` (data +
    delete sizes) rides along so executor-side fragment splitting can
    budget without re-decoding descriptors; the bucket reader ignores
    unknown keys."""
    out = []
    for t in tasks:
        dels, eqs = _delete_entries(t.delete_files)
        out.append(
            {
                "path": t.file.file_path,
                "dels": dels,
                "eqs": eqs,
                "bytes": _task_bytes(t),
            }
        )
    return out


def _entries_json(entries) -> str:
    payload = json.dumps(entries)
    if len(payload) >= _TASK_COMPRESS_MIN:
        import base64
        import zlib

        return "zb64:" + base64.b64encode(
            zlib.compress(payload.encode(), level=6)
        ).decode()
    return payload


def _task_json(tasks) -> str:
    return _entries_json(_task_entries(tasks))


def _task_loads(s: str) -> list:
    if s.startswith("zb64:"):
        import base64
        import zlib

        return json.loads(zlib.decompress(base64.b64decode(s[5:])))
    return json.loads(s)


def _task_bytes(t) -> int:
    # budget the delete files too: eq key frames and positional files
    # are materialized in-task alongside the data
    return t.file.file_size_in_bytes + sum(
        d.file_size_in_bytes for d in t.delete_files
    )


def _bucket_bytes(tasks) -> int:
    return sum(_task_bytes(t) for t in tasks)


def _ts_to_us(c):
    """A timestamp (any unit) or integer column as int64 microseconds.
    ns→us must FLOOR: Arrow's integer divide truncates toward zero,
    which rounds pre-epoch (negative) values the wrong way — an
    off-by-one microsecond that can flip a boundary as-of match or
    tolerance check. Shifting negatives down by 999 makes truncation
    equal floor for every value."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if pa.types.is_timestamp(c.type):
        unit = c.type.unit
        mult = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": 1}[unit]
        v = c.cast(pa.int64())
        if unit == "ns":
            adj = pc.if_else(pc.less(v, 0), pc.subtract(v, 999), v)
            return pc.divide(adj, 1000)
        return pc.multiply(v, mult) if mult != 1 else v
    return c.cast(pa.int64())


def _cast_to_schema(tbl, target):
    """Column-wise `tbl.cast(target)` that routes each column through
    _cast_bridge (a widened int64 key narrows back to the output
    schema's date32/int32 type)."""
    import pyarrow as pa

    return pa.table(
        {
            f.name: _cast_bridge(tbl.column(f.name), f.type)
            for f in target
        }
    )


def _bucket_read(table, names: list, types: dict):
    """What _read_bucket_arrow needs for one side: reader `fields` for
    the columns `names` of `table` — resolved by FIELD ID, so a renamed
    column still finds its stored values — typed by `types` (the side's
    Arrow read types, key-widened), plus the table's name mapping."""
    schema = table.schema()
    fields = []
    for n in names:
        f = schema.find_field(n)
        fields.append((f.field_id, n, types[n], f.initial_default))
    return fields, mapped_names(table.properties)


def _read_bucket_arrow(files: list, read, resid=None):
    """One bucket side as a pyarrow Table: each file through
    reader.read_file (`read` is _bucket_read's (fields, name mapping)),
    positional deletes / DVs and equality deletes dropped by file
    position, then the bound residual row filter applied per file
    (pruning removed FILES; other keys still share the bucket's files)."""
    import numpy as np
    import pyarrow as pa

    from . import fileio
    from .reader import delete_positions, read_file

    fields, mapped = read
    arrow_filter = None
    filter_cols: set = set()
    if resid is not None:
        from .expressions import extract_field_names, to_arrow_expression

        arrow_filter = to_arrow_expression(resid)
        filter_cols = extract_field_names(resid)
    parts = []
    for f in files:
        drop = None
        if f["dels"] or f.get("eqs"):
            drop = delete_positions(f["path"], f["dels"])
        if f.get("eqs"):
            # equality deletes: key frames LRU-cached per worker, rows
            # matched by field id with NULL==NULL semantics — the same
            # matcher the eq→DV conversion uses (maintenance.py)
            from .maintenance import _eq_convert_key_frame, _eq_matched_positions

            eq_sets = [
                (tuple(e["ids"]), _eq_convert_key_frame(e["path"], e["ids"]))
                for e in f["eqs"]
            ]
            with fileio.parquet_file(f["path"]) as pf:
                drop = np.union1d(
                    drop, _eq_matched_positions(pf, eq_sets).astype("int64")
                )
        out = read_file(
            f["path"], fields, mapped, arrow_filter, filter_cols, drop=drop
        )
        if arrow_filter is not None:
            out = out.filter(arrow_filter)
        parts.append(out)
    if not parts:
        return None
    return pa.concat_tables(parts)


def _out_struct(
    left_schema: Schema, right_schema: Schema, rkeys, left_cols, right_cols,
    r_out_name=None,
):
    from pyspark.sql import types as st

    rn = r_out_name or {}
    ls = {f.name: f for f in schema_to_spark_struct(left_schema).fields}
    rs = {f.name: f for f in schema_to_spark_struct(right_schema).fields}
    fields = [st.StructField(c, ls[c].dataType, True) for c in left_cols]
    fields += [
        st.StructField(rn.get(c, c), rs[c].dataType, True)
        for c in right_cols
        if c not in rkeys
    ]
    return st.StructType(fields)


def storage_partitioned_join(
    spark,
    left,
    right,
    on,
    how: str = "inner",
    left_filter=None,
    right_filter=None,
    left_select: Optional[list] = None,
    right_select: Optional[list] = None,
    max_bucket_bytes: Optional[int] = None,
    right_prefix: Optional[str] = None,
    _fused_agg: Optional[dict] = None,
):
    """Join two tables bucket-partitioned on the join key without
    shuffling either side: one Spark task per bucket does an in-task
    Arrow join of that bucket's (pruned, delete-applied) files.

    on: a column name present in both tables, a ``(left_key,
    right_key)`` pair (e.g. ``("c_custkey", "o_custkey")``), or a LIST
    of names/pairs for composite keys — co-location only needs a
    shared transform on ONE of the key pairs (tasks group by it); the
    remaining pairs join as plain equality conditions in-task.  The
    output keeps the LEFT key columns.

    how: 'inner', 'left', 'semi' (left semi: left rows with a match,
    left columns only) or 'anti' (left anti: left rows with NO match,
    left columns only — null-key rows are unmatched by definition and
    kept).  NULL values of the PARTITIONED key live in the NULL bucket
    (transforms map null to a null partition value) and never match —
    inner/semi drop them file-level, left/anti emit them without
    reading the other side; nulls in secondary keys never match inside
    the task join, standard SQL equality.

    right_prefix: rename every non-key right output column to
    ``<prefix><name>`` — lets two same-schema tables join without
    projecting to disjoint names (the storage-partitioned MERGE path
    joins target and source this way).
    """
    if how not in ("inner", "left", "semi", "anti"):
        raise ValueError(f"how={how!r}: expected inner|left|semi|anti")
    pairs = _key_pairs(on)
    lkeys = [p[0] for p in pairs]
    rkeys = [p[1] for p in pairs]
    picked = None
    errors = []
    for i, (lk, rk) in enumerate(pairs):
        try:
            lfields, lsrc = _partition_fields_on(left, lk)
            rfields, rsrc = _partition_fields_on(right, rk)
            lpf, rpf = _pick_copart_pair(lfields, rfields)
        except ValueError as e:
            errors.append(str(e))
            continue
        lf, rf = _hash_family(lsrc.field_type), _hash_family(rsrc.field_type)
        if lf != rf or lf.startswith("other"):
            errors.append(
                f"join-key hash families differ or unsupported ({lf} vs {rf}); "
                "equal keys would not share partitions"
            )
            continue
        picked = (i, lpf, rpf, lf)
        break
    if picked is None:
        raise ValueError("; ".join(errors))
    _, lpf, rpf, lf = picked
    # the grouping pair drives partition semantics (null-bucket rules)
    lkey, rkey = pairs[picked[0]]
    # wide sides group their buckets executor-side (blob frames); small
    # ones plan on the driver exactly as before — mixing is never
    # needed because the blobs path handles small snapshots too
    distributed = _spj_wide(left, spark) or _spj_wide(right, spark)
    if distributed:
        lframe, l_resid = _side_blobs(left, lpf, left_filter, spark)
        rframe, r_resid = _side_blobs(right, rpf, right_filter, spark)
        lbuckets = rbuckets = None
    else:
        lbuckets, l_resid = _side_tasks(left, lpf, left_filter, spark)
        rbuckets, r_resid = _side_tasks(right, rpf, right_filter, spark)

    left_cols = list(left_select) if left_select else [f.name for f in left.schema().fields]
    left_cols = [k for k in lkeys if k not in left_cols] + left_cols
    if how in ("semi", "anti"):
        right_cols = list(rkeys)  # the keys are all a semi/anti probe needs
    else:
        right_cols = (
            list(right_select) if right_select else [f.name for f in right.schema().fields]
        )
        right_cols = [k for k in rkeys if k not in right_cols] + right_cols
    r_out_name = {
        c: (right_prefix + c if right_prefix and c not in rkeys else c)
        for c in right_cols
    }
    out_names = left_cols + [r_out_name[c] for c in right_cols if c not in rkeys]
    dup = {c for c in out_names if out_names.count(c) > 1}
    if dup:
        raise ValueError(
            f"output column collision {sorted(dup)}; project with "
            "left_select/right_select to disjoint names (or set "
            "right_prefix)"
        )
    if _fused_agg is not None and how not in ("inner", "left"):
        # fused join→aggregate (storage_partitioned_join_agg): final
        # per-group aggregates are only sound when every group lives
        # wholly inside one task — the grouping tuple must contain the
        # co-located key (validated in _fused_agg_plan below) and the
        # join must not multiply left rows beyond its bucket
        # (inner/left). Oversized buckets fragment-split with TWO-PHASE
        # aggregation (decomposed partials + one Spark combine over just
        # those buckets' groups) — see the planning loop below.
        raise ValueError(f"fused aggregate supports inner|left, got {how!r}")

    limit = max_bucket_bytes
    if limit is None:
        limit = int(
            left.properties.get("join.spj.max-bucket-bytes", DEFAULT_MAX_BUCKET_BYTES)
        )

    # task list: one row per bucket that can produce output; an
    # oversized (skewed) bucket SPLITS instead of refusing — fragment
    # one side's files across tasks, replicate the other side's bucket
    # (fragment-replicate): each split-side row lands in exactly ONE
    # task, so no output duplicates.  For 'left', only the left side
    # may split (splitting the right would re-emit unmatched left rows
    # per fragment); inner joins split whichever side is bigger.
    # In FUSED mode a split bucket's groups span fragments, so its
    # fragments route to `partial_rows`: those tasks emit DECOMPOSED
    # partial aggregates (count/sum/min/max as themselves, mean as
    # sum+count) and a Spark-side combine finalizes them — an exchange
    # over only the oversized buckets' groups, never the join rows
    # (VERDICT r12 task 2). Unsplit buckets stay exchange-free.
    rows = []
    partial_rows = []
    if distributed:
        buckets = []  # planned Spark-side below (_bucket_task_frame)
    elif how in ("inner", "semi"):
        buckets = {b for b in lbuckets if b in rbuckets and b is not None}
    else:  # left/anti: every left bucket; null bucket joins nothing
        buckets = set(lbuckets)
    for b in sorted(buckets, key=lambda x: (x is None, x)):
        lt = lbuckets.get(b, [])
        rt = rbuckets.get(b, []) if b is not None else []
        if not lt:
            continue
        bid = repr(b)  # partition value label (int bucket, date ordinal, string prefix)
        lb, rb = _bucket_bytes(lt), _bucket_bytes(rt)
        if lb + rb <= limit:
            rows.append((bid, _task_json(lt), _task_json(rt)))
            continue
        # left/semi/anti need the COMPLETE right bucket per task (a
        # fragmented right would re-emit unmatched rows per fragment /
        # emit semi matches once per matching fragment)
        split_left = how != "inner" or lb >= rb
        frag, keep = (lt, rt) if split_left else (rt, lt)
        keep_bytes = rb if split_left else lb
        budget = limit - keep_bytes
        biggest = max(_task_bytes(t) for t in frag)
        if budget < biggest:
            raise ValueError(
                f"bucket {b}: replicated side holds {keep_bytes} bytes and "
                f"the largest fragment file is {biggest} — no split fits "
                f"join.spj.max-bucket-bytes={limit}; raise the property, "
                "rewrite with more buckets, or use a regular to_df().join()"
            )
        sink = rows if _fused_agg is None else partial_rows
        chunk, chunk_bytes = [], 0
        for t in frag:
            sz = _task_bytes(t)
            if chunk and chunk_bytes + sz > budget:
                sink.append(
                    (bid, _task_json(chunk), _task_json(rt))
                    if split_left
                    else (bid, _task_json(lt), _task_json(chunk))
                )
                chunk, chunk_bytes = [], 0
            chunk.append(t)
            chunk_bytes += sz
        if chunk:
            sink.append(
                (bid, _task_json(chunk), _task_json(rt))
                if split_left
                else (bid, _task_json(lt), _task_json(chunk))
            )

    out_struct = _out_struct(
        left.schema(), right.schema(), set(rkeys), left_cols, right_cols, r_out_name
    )
    fused_struct = fg_keys = fg_items = None
    if _fused_agg is not None:
        fused_struct, fg_keys, fg_items = _fused_agg_plan(
            out_struct,
            _fused_agg["group_keys"],
            _fused_agg["aggs"],
            lkey,
            "co-located join key",
        )
    result_struct = fused_struct if fused_struct is not None else out_struct
    if not distributed and not rows and not partial_rows:
        return spark.createDataFrame([], result_struct)

    from . import fileio as _fileio

    fileio_cfg = _fileio.env_config()
    ptask_df = None
    if distributed:
        task_frame = _bucket_task_frame(spark, lframe, rframe, how, limit)
        if _fused_agg is not None:
            # split rows route to the partial pipeline; persist so the
            # two filters share one planning pass (O(buckets) rows)
            from .table import _keep_persisted

            task_frame = _keep_persisted(task_frame)
            task_df = task_frame.where("split = 0").drop("split")
            pdf_frame = task_frame.where("split = 1").drop("split")
            has_partials = pdf_frame.limit(1).count() > 0
            if has_partials:
                ptask_df = pdf_frame
        else:
            task_df = task_frame.drop("split")
            has_partials = False
    else:
        task_df = spark.createDataFrame(
            rows or [],
            "part string, left_files string, right_files string",
        ).repartition(min(max(len(rows), 1), _MAX_TASK_PARTITIONS))
        has_partials = bool(partial_rows)
    right_data_cols = [r_out_name[c] for c in right_cols if c not in rkeys]
    right_read_names = [r_out_name[c] for c in right_cols]
    out_name_list = [f.name for f in out_struct.fields]

    # per-side read types; when the two sides' physical key types
    # DIFFER (int vs long vs date bucket siblings — the Iceberg spec
    # hashes all three as long), widen both to int64 so the Arrow join
    # runs on one physical type; equal types (date32==date32,
    # int32==int32) join natively, avoiding casts Arrow lacks kernels
    # for. The final cast narrows a widened key back to the left
    # schema's type (date32 bridges through int32, _cast_bridge).
    import pyarrow as _pa
    from pyspark.sql.pandas.types import to_arrow_schema as _taschema

    l_types = {
        f.name: f.type for f in _taschema(schema_to_spark_struct(left.schema()))
    }
    r_types = {
        f.name: f.type for f in _taschema(schema_to_spark_struct(right.schema()))
    }
    for lk, rk in pairs:
        flk = _hash_family(left.schema().find_field(lk).field_type)
        frk = _hash_family(right.schema().find_field(rk).field_type)
        if flk != frk:
            raise ValueError(
                f"key pair ({lk!r}, {rk!r}): hash families differ "
                f"({flk} vs {frk}); equal values cannot exist"
            )
        if flk == "long" and l_types[lk] != r_types[rk]:
            l_types[lk] = r_types[rk] = _pa.int64()

    # residual filters may reference columns outside the projection:
    # read them too, filter, then project back to the selected columns
    from .expressions import extract_field_names

    l_read = _bucket_read(left, left_cols + sorted(
        (extract_field_names(l_resid) if l_resid is not None else set()) - set(left_cols)
    ), l_types)
    r_read = _bucket_read(right, right_cols + sorted(
        (extract_field_names(r_resid) if r_resid is not None else set()) - set(right_cols)
    ), r_types)
    fused_names = [f.name for f in fused_struct.fields] if fused_struct else None

    def _joined_buckets(batches, pa, target):
        """Shared per-task join: yield one joined Arrow table (selected
        to the flat output columns) per bucket/fragment row."""
        for batch in batches:
            for row in batch.to_pylist():
                lt = _read_bucket_arrow(
                    _task_loads(row["left_files"]), l_read, l_resid
                )
                if lt is None or len(lt) == 0:
                    continue
                lt = lt.select(left_cols)
                rt = (
                    _read_bucket_arrow(
                        _task_loads(row["right_files"]), r_read, r_resid
                    )
                    if row["right_files"] != "[]"
                    else None
                )
                if rt is not None:
                    rt = rt.select(right_cols).rename_columns(right_read_names)
                if rt is None or len(rt) == 0:
                    if how in ("inner", "semi"):
                        continue
                    if how == "anti":  # nothing to match: keep all left
                        joined = lt.select(out_name_list)
                    else:
                        # left join, empty right: null-fill right columns
                        arrays = [lt.column(c) for c in left_cols] + [
                            pa.nulls(len(lt), target.field(c).type)
                            for c in right_data_cols
                        ]
                        joined = pa.table(dict(zip(out_name_list, arrays)))
                else:
                    jt = {
                        "inner": "inner",
                        "left": "left outer",
                        "semi": "left semi",
                        "anti": "left anti",
                    }[how]
                    joined = lt.join(rt, keys=lkeys, right_keys=rkeys, join_type=jt)
                    joined = joined.select(out_name_list)
                yield joined

    def join_task(batches):
        import pyarrow as pa

        from . import fileio

        fileio.apply_config(fileio_cfg)
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(out_struct)
        fused_target = to_arrow_schema(fused_struct) if fused_struct else None
        for joined in _joined_buckets(batches, pa, target):
            if fused_target is not None:
                # FINAL aggregates in the same task pass: every group
                # tuple contains the co-located key, so the whole group
                # is in this bucket (split buckets route to the partial
                # task instead — planning keeps them out of `rows`)
                if len(joined) == 0:
                    continue
                out = _fold_fused_agg(
                    joined, fg_keys, fg_items, fused_names, fused_target
                )
                yield from out.to_batches(max_chunksize=1 << 16)
                continue
            joined = _cast_to_schema(joined, target)
            yield from joined.to_batches(max_chunksize=1 << 16)

    final_df = task_df.mapInArrow(join_task, result_struct)
    if not has_partials:
        return final_df

    # two-phase path for the oversized buckets (fused mode only):
    # fragments emit decomposed partials; one Spark groupBy combines —
    # the exchange carries only these buckets' aggregate rows
    partial_struct, p_items = _fused_partial_plan(out_struct, fg_keys, fg_items)
    p_names = [f.name for f in partial_struct.fields]
    if ptask_df is None:
        ptask_df = spark.createDataFrame(
            partial_rows, "part string, left_files string, right_files string"
        ).repartition(min(len(partial_rows), _MAX_TASK_PARTITIONS))

    def join_task_partial(batches):
        import pyarrow as pa

        from . import fileio

        fileio.apply_config(fileio_cfg)
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(out_struct)
        p_target = to_arrow_schema(partial_struct)
        for joined in _joined_buckets(batches, pa, target):
            if len(joined) == 0:
                continue
            out = _fold_fused_partial(joined, fg_keys, p_items, p_names, p_target)
            yield from out.to_batches(max_chunksize=1 << 16)

    combine = _fused_combine_exprs(fused_struct, fg_items)
    combined = (
        ptask_df.mapInArrow(join_task_partial, partial_struct)
        .groupBy(*fg_keys)
        .agg(*combine)
        .select(fused_names)
    )
    return final_df.unionByName(combined)


def storage_partitioned_join_agg(
    spark,
    left,
    right,
    on,
    aggs: dict,
    group_keys: Optional[list] = None,
    how: str = "inner",
    left_filter=None,
    right_filter=None,
    left_select: Optional[list] = None,
    right_select: Optional[list] = None,
    max_bucket_bytes: Optional[int] = None,
    right_prefix: Optional[str] = None,
):
    """Join + FINAL aggregate in ONE task pass — the chained-pipeline
    closer for SPJ (VERDICT r11 task 5): `storage_partitioned_join`
    returns a plain DataFrame, so a downstream groupBy on the join key
    re-shuffles rows that were already co-located. Fusing the aggregate
    into the join task removes that exchange entirely: each bucket task
    joins its pair in Arrow and immediately folds it to per-group
    aggregates, so only FINISHED aggregate rows leave the task.

    Soundness: `group_keys` (default: the left join key alone) must
    include the co-located join key — every group tuple containing it
    lives wholly inside one bucket, making per-task aggregates final.
    An over-budget bucket fragment-splits with TWO-PHASE aggregation
    (r12 task 2): its fragments emit decomposed partials (count/sum/
    min/max self-decompose; mean becomes an exact sum+count pair) and
    one Spark-side groupBy finalizes them — the exchange carries only
    the oversized buckets' aggregate rows, never join rows; unsplit
    buckets stay exchange-free and final.
    `how` is inner|left. `aggs`: {output_name: (column, fn)} over the
    JOIN's output columns (left names + right names, prefixed when
    `right_prefix` is set), fn in count|sum|min|max|mean.
    """
    pairs = _key_pairs(on)
    # default: group by every left join key — always contains the
    # co-located key whichever pair the planner picks
    gk = list(group_keys) if group_keys is not None else [p[0] for p in pairs]
    return storage_partitioned_join(
        spark,
        left,
        right,
        on,
        how=how,
        left_filter=left_filter,
        right_filter=right_filter,
        left_select=left_select,
        right_select=right_select,
        max_bucket_bytes=max_bucket_bytes,
        right_prefix=right_prefix,
        _fused_agg={"group_keys": gk, "aggs": dict(aggs)},
    )


_AGG_FNS = {"count", "sum", "min", "max", "mean"}


def _fused_agg_plan(out_struct, group_keys, aggs, anchor_key, anchor_desc):
    """Validate a fused-aggregate spec against a join's output schema
    and build its output StructType. `anchor_key` must be among the
    group keys — it is the co-located key whose bucket containment
    makes per-task aggregates FINAL. Returns (fused_struct, fg_keys,
    fg_items) with fg_items as [(output_name, (column, fn)), ...]."""
    from pyspark.sql import types as st

    fg_keys = list(group_keys)
    fg_aggs = dict(aggs)
    if anchor_key not in fg_keys:
        raise ValueError(
            f"fused aggregate group keys must include the {anchor_desc} "
            f"{anchor_key!r} (got {fg_keys}); any coarser grouping "
            "spans buckets and needs a shuffle — use df.groupBy()"
        )
    out_types = {f.name: f.dataType for f in out_struct.fields}
    missing = [c for c in fg_keys if c not in out_types]
    if missing:
        raise ValueError(
            f"group keys {missing} not in join output {list(out_types)}"
        )
    f_fields = [st.StructField(k, out_types[k], True) for k in fg_keys]
    for name, (col, fn) in fg_aggs.items():
        if fn not in _AGG_FNS:
            raise ValueError(f"{name}: fn {fn!r} not in {sorted(_AGG_FNS)}")
        if col not in out_types:
            raise ValueError(f"{name}: column {col!r} not in join output")
        if name in fg_keys:
            raise ValueError(
                f"agg output name {name!r} collides with a group key"
            )
        f_fields.append(
            st.StructField(name, _agg_out_spark_type(fn, out_types[col]), True)
        )
    return st.StructType(f_fields), fg_keys, list(fg_aggs.items())


def _fold_fused_agg(acc, fg_keys, fg_items, fused_names, fused_target):
    """One task's FINAL aggregates: group the in-task Arrow table,
    dedupe the (column, fn) spec (two outputs over the same pair would
    make Arrow emit duplicate '<col>_<fn>' columns), map Arrow's
    result names back to the requested output names, cast via the
    date32 bridge."""
    import pyarrow as pa

    spec = list(dict.fromkeys((c, f) for (_, (c, f)) in fg_items))
    res = acc.group_by(fg_keys).aggregate(spec)
    cols = {k: res.column(k) for k in fg_keys}
    for name, (c, f) in fg_items:
        cols[name] = res.column(f"{c}_{f}")
    return _cast_to_schema(pa.table(cols).select(fused_names), fused_target)


def _fused_partial_plan(out_struct, fg_keys, fg_items):
    """Decomposed PARTIAL-aggregate schema for fragment-split buckets
    (VERDICT r12 task 2): count/sum/min/max are self-decomposing (their
    partials combine with sum/sum/min/max); mean decomposes into
    exact __ps_<name>/__pc_<name> sum+count pairs finalized as one
    division. Returns (partial_struct, [(partial_col, src_col,
    arrow_fn), ...])."""
    from pyspark.sql import types as st

    out_types = {f.name: f.dataType for f in out_struct.fields}
    fields = [st.StructField(k, out_types[k], True) for k in fg_keys]
    items = []
    for name, (col, fn) in fg_items:
        if fn == "mean":
            fields.append(
                st.StructField(
                    f"__ps_{name}",
                    _agg_out_spark_type("sum", out_types[col]),
                    True,
                )
            )
            fields.append(st.StructField(f"__pc_{name}", st.LongType(), True))
            items.append((f"__ps_{name}", col, "sum"))
            items.append((f"__pc_{name}", col, "count"))
        else:
            fields.append(
                st.StructField(name, _agg_out_spark_type(fn, out_types[col]), True)
            )
            items.append((name, col, fn))
    return st.StructType(fields), items


def _fused_combine_exprs(fused_struct, fg_items):
    """Spark-side finalizers for the decomposed partials, cast back to
    the fused output types: count/sum→sum, min→min, max→max, mean→
    sum(__ps_)/sum(__pc_)."""
    from pyspark.sql import functions as F

    fused_types = {f.name: f.dataType for f in fused_struct.fields}
    combine = []
    for name, (_col, fn) in fg_items:
        if fn in ("count", "sum"):
            expr = F.sum(name)
        elif fn == "min":
            expr = F.min(name)
        elif fn == "max":
            expr = F.max(name)
        else:  # mean = sum of partial sums / sum of partial counts
            expr = F.sum(f"__ps_{name}").cast("double") / F.sum(f"__pc_{name}")
        combine.append(expr.cast(fused_types[name]).alias(name))
    return combine


def _fold_fused_partial(acc, fg_keys, p_items, p_names, p_target):
    """One fragment task's PARTIAL aggregates, same shape discipline as
    _fold_fused_agg (dedupe the (column, fn) spec, map Arrow's result
    names back, cast via the bridge)."""
    import pyarrow as pa

    spec = list(dict.fromkeys((c, f) for (_, c, f) in p_items))
    res = acc.group_by(fg_keys).aggregate(spec)
    cols = {k: res.column(k) for k in fg_keys}
    for pname, c, f in p_items:
        cols[pname] = res.column(f"{c}_{f}")
    return _cast_to_schema(pa.table(cols).select(p_names), p_target)


def _agg_out_spark_type(fn, src_spark_type):
    """Output Spark type of a per-bucket Arrow aggregate, widened like
    SQL: integral sums overflow their input type, means are double."""
    from pyspark.sql import types as st

    if fn == "count":
        return st.LongType()
    if fn == "mean":
        return st.DoubleType()
    if fn == "sum":
        if isinstance(
            src_spark_type,
            (st.ByteType, st.ShortType, st.IntegerType, st.LongType),
        ):
            return st.LongType()
        if isinstance(src_spark_type, st.DecimalType):
            return st.DecimalType(38, src_spark_type.scale)
        return st.DoubleType()
    return src_spark_type


def storage_partitioned_agg(
    spark,
    table,
    on: str,
    aggs: dict,
    row_filter=None,
    extra_keys: Optional[list] = None,
    max_bucket_bytes: Optional[int] = None,
):
    """Exact groupBy(on, *extra_keys).agg(...) without any exchange:
    the layout guarantees each `on` value's rows live in exactly one
    partition, and every finer group tuple containing `on` inherits
    that containment, so a per-partition Arrow group_by computes FINAL
    aggregates (count / sum / min / max / mean supported).

    aggs: {output_name: (column, fn)} with fn in count|sum|min|max|mean.
    extra_keys: additional group-by columns (need not be partition
    columns — any tuple including the partitioned key stays in-bucket).
    """
    allowed = {"count", "sum", "min", "max", "mean"}
    _group_keys = [on] + list(extra_keys or [])
    for name, (col, fn) in aggs.items():
        if fn not in allowed:
            raise ValueError(f"{name}: fn {fn!r} not in {sorted(allowed)}")
        if name in _group_keys:
            raise ValueError(
                f"agg output name {name!r} collides with a group key; "
                "it would silently overwrite the key column — rename it"
            )
    fields, _src = _partition_fields_on(table, on)
    pf = min(
        fields,
        key=lambda f: _TRANSFORM_PREFERENCE.get(str(f.transform).split("[")[0], 9),
    )
    distributed = _spj_wide(table, spark)
    if distributed:
        blob_frame, resid = _side_blobs(table, pf, row_filter, spark)
        by_bucket = {}
    else:
        by_bucket, resid = _side_tasks(table, pf, row_filter, spark)
    from .expressions import extract_field_names

    group_keys = _group_keys
    need = sorted(
        set(group_keys)
        | {c for (c, _) in aggs.values()}
        | (extract_field_names(resid) if resid is not None else set())
    )
    limit = max_bucket_bytes
    if limit is None:
        limit = int(
            table.properties.get("join.spj.max-bucket-bytes", DEFAULT_MAX_BUCKET_BYTES)
        )
    rows = []
    for b, tasks in sorted(by_bucket.items(), key=lambda kv: (kv[0] is None, kv[0])):
        total = _bucket_bytes(tasks)
        if total > limit:
            raise ValueError(
                f"bucket {b}: {total} bytes exceeds join.spj.max-bucket-bytes"
                f"={limit}; rewrite with more buckets or use df.groupBy()"
            )
        rows.append((repr(b), _task_json(tasks)))

    from pyspark.sql import types as st

    key_type = {
        f.name: f for f in schema_to_spark_struct(table.schema()).fields
    }
    out_fields = [st.StructField(k, key_type[k].dataType, True) for k in group_keys]
    for name, (col, fn) in aggs.items():
        out_fields.append(
            st.StructField(name, _agg_out_spark_type(fn, key_type[col].dataType), True)
        )
    out_struct = st.StructType(out_fields)
    if not distributed and not rows:
        return spark.createDataFrame([], out_struct)

    from . import fileio as _fileio
    from pyspark.sql.pandas.types import to_arrow_schema as _taschema

    t_types = {
        f.name: f.type for f in _taschema(schema_to_spark_struct(table.schema()))
    }
    fileio_cfg = _fileio.env_config()
    if distributed:
        # byte-budget validation rides the blob frame executor-side —
        # an over-budget bucket raises the same refusal as the driver
        # loop (single-side aggs cannot fragment: a split group would
        # emit partial aggregates from a FINAL-aggregate operator)
        import pandas as pd

        def check_rows(batches):
            for pdf in batches:
                for part, total in zip(pdf["part"], pdf["bytes"]):
                    if int(total) > limit:
                        raise ValueError(
                            f"bucket {part}: {total} bytes exceeds "
                            f"join.spj.max-bucket-bytes={limit}; rewrite "
                            "with more buckets or use df.groupBy()"
                        )
                yield pdf[["part", "files"]]

        task_df = _spread_tasks(
            blob_frame.mapInPandas(check_rows, "part string, files string"),
            spark,
        )
    else:
        task_df = spark.createDataFrame(rows, "part string, files string").repartition(min(len(rows), _MAX_TASK_PARTITIONS))
    agg_items = list(aggs.items())
    out_name_list = [f.name for f in out_struct.fields]
    read = _bucket_read(table, need, t_types)

    def agg_task(batches):
        from . import fileio

        fileio.apply_config(fileio_cfg)
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(out_struct)
        for batch in batches:
            for row in batch.to_pylist():
                tbl = _read_bucket_arrow(_task_loads(row["files"]), read, resid)
                if tbl is None or len(tbl) == 0:
                    continue
                out = _fold_fused_agg(
                    tbl, group_keys, agg_items, out_name_list, target
                )
                yield from out.to_batches(max_chunksize=1 << 16)

    return task_df.mapInArrow(agg_task, out_struct)


def storage_partitioned_asof_join(
    spark,
    left,
    right,
    on,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Optional[list] = None,
    tolerance_us: Optional[int] = None,
    direction: str = "backward",
    tie_break: Optional[str] = None,
    suffix: str = "_r",
    max_bucket_bytes: Optional[int] = None,
    left_filter=None,
    right_filter=None,
):
    """As-of join over co-partitioned tables with ZERO table exchange:
    each partition-value task merge-joins its bucket pair locally
    (sorted probe, pandas-style backward/forward semantics matching
    operators.asof.asof_join / DuckDB ASOF JOIN), where the DataFrame
    formulation shuffles BOTH inputs on the key once.

    on: key column name, or (left_key, right_key); both sides must
    share a partition transform on it (same rule as
    storage_partitioned_join).  LEFT semantics: left rows always
    survive; matches farther than `tolerance_us` are nulled out.
    Output: all left columns, matched `right_cols` (suffixed on
    collision), and `_asof_gap_us` (null when unmatched).

    tie_break: right column ordering equal-timestamp candidates — the
    LARGEST value wins, matching operators.asof.asof_join's "last in
    (ts, tie_break) order" in both directions.

    left_filter / right_filter: Iceberg row-filter expressions — files
    prune through the four-level cascade, survivors re-filter row-level
    in-task. The right filter applies BEFORE matching (a filtered-out
    right row is not an as-of candidate), same as filtering the input
    to the DataFrame operator.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    lkey, rkey = (on, on) if isinstance(on, str) else (on[0], on[1])
    lfields, lsrc = _partition_fields_on(left, lkey)
    rfields, rsrc = _partition_fields_on(right, rkey)
    lpf, rpf = _pick_copart_pair(lfields, rfields)
    lf, rf = _hash_family(lsrc.field_type), _hash_family(rsrc.field_type)
    if lf != rf or lf.startswith("other"):
        raise ValueError(
            f"join-key hash families differ or unsupported ({lf} vs {rf})"
        )
    distributed = _spj_wide(left, spark) or _spj_wide(right, spark)
    if distributed:
        lframe, l_resid = _side_blobs(left, lpf, left_filter, spark)
        rframe, r_resid = _side_blobs(right, rpf, right_filter, spark)
        lbuckets = rbuckets = None
    else:
        lbuckets, l_resid = _side_tasks(left, lpf, left_filter, spark)
        rbuckets, r_resid = _side_tasks(right, rpf, right_filter, spark)

    from .expressions import extract_field_names

    left_cols = [f.name for f in left.schema().fields]
    right_cols = list(right_cols or [])
    out_right = [(c, c + suffix if c in left_cols else c) for c in right_cols]
    r_read = [rkey, right_ts] + [c for c in right_cols if c not in (rkey, right_ts)]
    if tie_break is not None and tie_break not in r_read:
        r_read.append(tie_break)
    # residual filters may reference columns outside the projection
    r_read += sorted(
        (extract_field_names(r_resid) if r_resid is not None else set())
        - set(r_read)
    )

    limit = max_bucket_bytes
    if limit is None:
        limit = int(
            left.properties.get("join.spj.max-bucket-bytes", DEFAULT_MAX_BUCKET_BYTES)
        )

    rows = []
    for b in sorted(set(lbuckets or ()), key=lambda x: (x is None, x)):
        lt = lbuckets[b]
        rt = rbuckets.get(b, []) if b is not None else []
        lb, rb = _bucket_bytes(lt), _bucket_bytes(rt)
        if lb + rb <= limit:
            rows.append((repr(b), _task_json(lt), _task_json(rt)))
            continue
        budget = limit - rb  # the right bucket must stay complete
        biggest = max(_task_bytes(t) for t in lt)
        if budget < biggest:
            raise ValueError(
                f"bucket {b}: right side holds {rb} bytes and the largest "
                f"left file is {biggest} — no split fits "
                f"join.spj.max-bucket-bytes={limit}"
            )
        chunk, cb = [], 0
        for t in lt:
            sz = _task_bytes(t)
            if chunk and cb + sz > budget:
                rows.append((repr(b), _task_json(chunk), _task_json(rt)))
                chunk, cb = [], 0
            chunk.append(t)
            cb += sz
        if chunk:
            rows.append((repr(b), _task_json(chunk), _task_json(rt)))

    from pyspark.sql import types as st

    lstruct = {f.name: f for f in schema_to_spark_struct(left.schema()).fields}
    rstruct = {f.name: f for f in schema_to_spark_struct(right.schema()).fields}
    out_fields = [st.StructField(c, lstruct[c].dataType, True) for c in left_cols]
    out_fields += [
        st.StructField(oname, rstruct[c].dataType, True) for c, oname in out_right
    ]
    out_fields.append(st.StructField("_asof_gap_us", st.LongType(), True))
    out_struct = st.StructType(out_fields)
    if not distributed and not rows:
        return spark.createDataFrame([], out_struct)

    from . import fileio as _fileio
    import pyarrow as _pa
    from pyspark.sql.pandas.types import to_arrow_schema as _taschema

    l_types = {f.name: f.type for f in _taschema(schema_to_spark_struct(left.schema()))}
    r_types = {f.name: f.type for f in _taschema(schema_to_spark_struct(right.schema()))}
    if lf == "long" and l_types[lkey] != r_types[rkey]:
        # int/long/date key siblings must merge on ONE pandas dtype;
        # equal types merge natively (date32 has no direct int64 cast)
        l_types[lkey] = r_types[rkey] = _pa.int64()
    l_spec = _bucket_read(left, left_cols, l_types)
    r_spec = _bucket_read(right, r_read, r_types)
    fileio_cfg = _fileio.env_config()
    if distributed:
        # as-of keeps every left bucket and may only split the left
        # side (the right bucket must stay complete per task — a
        # fragmented right would lose as-of candidates): exactly the
        # 'left' planning mode
        task_df = _bucket_task_frame(spark, lframe, rframe, "left", limit).drop(
            "split"
        )
    else:
        task_df = spark.createDataFrame(
            rows, "part string, left_files string, right_files string"
        ).repartition(min(len(rows), _MAX_TASK_PARTITIONS))
    out_name_list = [f.name for f in out_struct.fields]

    def asof_task(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        from . import fileio

        fileio.apply_config(fileio_cfg)
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(out_struct)

        def ts_us(tbl, col):
            return _ts_to_us(tbl.column(col))

        for batch in batches:
            for row in batch.to_pylist():
                lt = _read_bucket_arrow(
                    _task_loads(row["left_files"]), l_spec, l_resid
                )
                if lt is None or len(lt) == 0:
                    continue
                rt = (
                    _read_bucket_arrow(
                        _task_loads(row["right_files"]), r_spec, r_resid
                    )
                    if row["right_files"] != "[]"
                    else None
                )
                # null timestamps are legal data, but pd.merge_asof
                # refuses them ("Merge keys contain null values"):
                # null-ts LEFT rows split out and emit unmatched (null
                # right columns and gap); null-ts RIGHT rows can never
                # be an as-of match and drop before the merge.
                l_ts_valid = pc.is_valid(lt.column(left_ts))
                lt_null = lt.filter(pc.invert(l_ts_valid))
                lt = lt.filter(l_ts_valid)
                if rt is not None and len(rt):
                    rt = rt.filter(pc.is_valid(rt.column(right_ts)))
                if len(lt_null):
                    ncols = {c: lt_null.column(c) for c in left_cols}
                    for c, oname in out_right:
                        ncols[oname] = pa.nulls(len(lt_null), r_types[c])
                    ncols["_asof_gap_us"] = pa.nulls(len(lt_null), pa.int64())
                    nout = _cast_to_schema(
                        pa.table(ncols).select(out_name_list), target
                    )
                    yield from nout.to_batches(max_chunksize=1 << 16)
                if len(lt) == 0:
                    continue
                # sort left by ts (stable) so merge_asof's contract holds
                l_us = ts_us(lt, left_ts)
                lsort = pc.sort_indices(
                    pa.table({"t": l_us}), sort_keys=[("t", "ascending")]
                )
                lt = lt.take(lsort)
                l_us = ts_us(lt, left_ts)
                if rt is None or len(rt) == 0:
                    idx = pa.array([None] * len(lt), pa.int64())
                    gap = pa.array([None] * len(lt), pa.int64())
                    rt_take = None
                else:
                    r_us = ts_us(rt, right_ts)
                    # equal-ts candidates: the LARGEST tie_break must win.
                    # merge_asof picks the LAST preceding row (backward)
                    # but the FIRST following row (forward), so the tie
                    # column sorts ascending/descending respectively.
                    if tie_break is not None:
                        tie_dir = (
                            "ascending" if direction == "backward" else "descending"
                        )
                        rsort = pc.sort_indices(
                            pa.table({"t": r_us, "tb": rt.column(tie_break)}),
                            sort_keys=[("t", "ascending"), ("tb", tie_dir)],
                        )
                    else:
                        rsort = pc.sort_indices(
                            pa.table({"t": r_us}), sort_keys=[("t", "ascending")]
                        )
                    rt = rt.take(rsort)
                    r_us = ts_us(rt, right_ts)
                    lpd = pd.DataFrame(
                        {
                            "k": lt.column(lkey).to_pandas(),
                            "t": l_us.to_pandas(),
                            "__li": np.arange(len(lt), dtype=np.int64),
                        }
                    )
                    rpd = pd.DataFrame(
                        {
                            "k": rt.column(rkey).to_pandas(),
                            "t": r_us.to_pandas(),
                            "__ri": np.arange(len(rt), dtype=np.int64),
                        }
                    )
                    merged = pd.merge_asof(
                        lpd,
                        rpd,
                        on="t",
                        by="k",
                        direction=direction,
                        suffixes=("", "_r"),
                    )
                    merged = merged.sort_values("__li")
                    ridx = merged["__ri"].to_numpy()
                    mask = ~pd.isna(ridx)
                    idx_np = np.where(mask, np.nan_to_num(ridx, nan=0), 0).astype(
                        np.int64
                    )
                    idx = pa.array(
                        [int(i) if m else None for i, m in zip(idx_np, mask)],
                        pa.int64(),
                    )
                    matched_ts = pc.take(r_us, idx)
                    gap = pc.abs(pc.subtract(l_us, matched_ts))
                    if tolerance_us is not None:
                        ok = pc.less_equal(gap, tolerance_us)
                        keep = pc.and_kleene(ok, pc.is_valid(idx))
                        idx = pc.if_else(keep, idx, pa.scalar(None, pa.int64()))
                        gap = pc.if_else(keep, gap, pa.scalar(None, pa.int64()))
                    rt_take = rt.take(idx)
                cols = {c: lt.column(c) for c in left_cols}
                for c, oname in out_right:
                    cols[oname] = (
                        rt_take.column(c)
                        if rt_take is not None
                        else pa.nulls(len(lt), r_types[c])
                    )
                cols["_asof_gap_us"] = gap
                out = _cast_to_schema(pa.table(cols).select(out_name_list), target)
                yield from out.to_batches(max_chunksize=1 << 16)

    return task_df.mapInArrow(asof_task, out_struct)


def storage_partitioned_star_join(
    spark,
    sides: list,
    max_bucket_bytes: Optional[int] = None,
    aggs: Optional[dict] = None,
    group_keys: Optional[list] = None,
):
    """N-way inner join of tables co-partitioned on one entity key, all
    in ONE task pass — chaining two-way joins would shuffle after the
    first (its output is a plain DataFrame), so the star shape (fact ⋈
    dim₁ ⋈ … ⋈ dimₖ, every side keyed by the same entity) gets its own
    operator: each task reads its partition value's files from EVERY
    side and left-deep inner-joins them in Arrow.

    sides: list of dicts — [{"table": t, "key": "user_id",
    "select": [...], "filter": expr}, ...]; `select`/`filter` optional.
    Side 0 is the fact: its rows drive output multiplicity, so only it
    fragments under the byte budget (each fact row in exactly one task,
    dimension buckets replicate).  Output keeps side 0's key column;
    other sides' key columns drop.  All sides must share one partition
    transform on their key (the finest shared one groups the tasks).

    aggs (optional): {output_name: (column, fn)} fuses FINAL per-group
    aggregates into the star task (fn in count|sum|min|max|mean) —
    star-then-groupBy would re-shuffle the co-located join output.
    `group_keys` defaults to [fact key] and must include it (any group
    tuple containing the co-located key lives wholly in one task); in
    fused mode an over-budget bucket refuses instead of splitting the
    fact (a split group would emit partial aggregates).
    """
    if len(sides) < 2:
        raise ValueError("need at least two sides")
    norm = []
    for s in sides:
        norm.append(
            {
                "table": s["table"],
                "key": s["key"],
                "select": s.get("select"),
                "filter": s.get("filter"),
            }
        )

    # the transform every side shares on its key (finest wins)
    per_side = []
    for s in norm:
        fields, src = _partition_fields_on(s["table"], s["key"])
        per_side.append((fields, src))
    shared = set(str(f.transform) for f in per_side[0][0])
    for fields, _ in per_side[1:]:
        shared &= {str(f.transform) for f in fields}
    if not shared:
        raise ValueError(
            "no partition transform shared by ALL sides on their keys: "
            + str([[str(f.transform) for f in fs] for fs, _ in per_side])
        )
    chosen = min(
        shared, key=lambda t: _TRANSFORM_PREFERENCE.get(t.split("[")[0], 9)
    )
    fam0 = _hash_family(per_side[0][1].field_type)
    if fam0.startswith("other"):
        raise ValueError(f"unsupported key type family {fam0}")
    for _, src in per_side[1:]:
        if _hash_family(src.field_type) != fam0:
            raise ValueError("key hash families differ across sides")

    # any wide side flips ALL sides to executor-side blob grouping —
    # the blobs path handles small snapshots too, so mixing is never
    # needed (same rule as the two-way join)
    distributed = any(_spj_wide(s["table"], spark) for s in norm)
    buckets_per_side = []
    blob_frames = []
    resids = []
    for s, (fields, _src) in zip(norm, per_side):
        pf = next(f for f in fields if str(f.transform) == chosen)
        if distributed:
            frame, resid = _side_blobs(s["table"], pf, s["filter"], spark)
            blob_frames.append(frame)
        else:
            by_bucket, resid = _side_tasks(s["table"], pf, s["filter"], spark)
            buckets_per_side.append(by_bucket)
        resids.append(resid)

    # column planning: side 0 keeps its key; later sides drop theirs
    import pyarrow as _pa
    from pyspark.sql import types as st
    from pyspark.sql.pandas.types import to_arrow_schema as _taschema

    from .expressions import extract_field_names

    # widen long-family keys to one physical int64 ONLY when the sides'
    # natural arrow key types differ (int32/int64/date32 siblings);
    # uniform types join natively — date32 has no direct int64 cast
    widen_keys = False
    if fam0 == "long":
        key_arrow = {
            str(
                _taschema(schema_to_spark_struct(s["table"].schema()))
                .field(s["key"])
                .type
            )
            for s in norm
        }
        widen_keys = len(key_arrow) > 1

    side_cols, side_read, out_fields, out_names = [], [], [], []
    for i, s in enumerate(norm):
        tbl = s["table"]
        cols = list(s["select"]) if s["select"] else [f.name for f in tbl.schema().fields]
        if s["key"] not in cols:
            cols = [s["key"]] + cols
        struct = {f.name: f for f in schema_to_spark_struct(tbl.schema()).fields}
        types = {f.name: f.type for f in _taschema(schema_to_spark_struct(tbl.schema()))}
        if widen_keys:
            types[s["key"]] = _pa.int64()
        read = cols + sorted(
            (extract_field_names(resids[i]) if resids[i] is not None else set())
            - set(cols)
        )
        for c in cols:
            if i > 0 and c == s["key"]:
                continue
            out_names.append(c)
            out_fields.append(st.StructField(c, struct[c].dataType, True))
        side_cols.append(cols)
        side_read.append(_bucket_read(tbl, read, types))
    dup = {c for c in out_names if out_names.count(c) > 1}
    if dup:
        raise ValueError(
            f"output column collision {sorted(dup)}; project with per-side "
            "'select' to disjoint names"
        )
    out_struct = st.StructType(out_fields)

    fused_struct = fg_keys = fg_items = None
    fact_key = norm[0]["key"]
    if aggs is not None:
        fused_struct, fg_keys, fg_items = _fused_agg_plan(
            out_struct,
            group_keys if group_keys is not None else [fact_key],
            aggs,
            fact_key,
            "fact key",
        )
    result_struct = fused_struct if fused_struct is not None else out_struct

    limit = max_bucket_bytes
    if limit is None:
        limit = int(
            norm[0]["table"].properties.get(
                "join.spj.max-bucket-bytes", DEFAULT_MAX_BUCKET_BYTES
            )
        )

    # inner: only buckets present on every side can produce output
    common = set()
    if not distributed:
        common = set(buckets_per_side[0]) - {None}
        for bb in buckets_per_side[1:]:
            common &= set(bb)
    # fused mode: a split bucket's groups span fact fragments, so its
    # fragments route to `partial_rows` and take the two-phase path
    # (decomposed partials + one Spark combine — r13, same machinery as
    # the two-way join); unsplit buckets stay final and exchange-free
    rows = []
    partial_rows = []
    for b in sorted(common):
        per = [bb[b] for bb in buckets_per_side]
        dims_bytes = sum(_bucket_bytes(p) for p in per[1:])
        fact = per[0]
        if dims_bytes + _bucket_bytes(fact) <= limit:
            rows.append((repr(b), json.dumps([_task_json(p) for p in per])))
            continue
        budget = limit - dims_bytes
        biggest = max(_task_bytes(t) for t in fact)
        if budget < biggest:
            raise ValueError(
                f"bucket {b}: dimension sides hold {dims_bytes} bytes and "
                f"the largest fact file is {biggest} — no split fits "
                f"join.spj.max-bucket-bytes={limit}"
            )
        sink = rows if fused_struct is None else partial_rows
        chunk, cb = [], 0
        for t in fact:
            sz = _task_bytes(t)
            if chunk and cb + sz > budget:
                sink.append(
                    (repr(b), json.dumps([_task_json(chunk)] + [_task_json(p) for p in per[1:]]))
                )
                chunk, cb = [], 0
            chunk.append(t)
            cb += sz
        if chunk:
            sink.append(
                (repr(b), json.dumps([_task_json(chunk)] + [_task_json(p) for p in per[1:]]))
            )
    if not distributed and not rows and not partial_rows:
        return spark.createDataFrame([], result_struct)

    from . import fileio as _fileio

    fileio_cfg = _fileio.env_config()
    ptask_df = None
    if distributed:
        task_frame = _star_task_frame(spark, blob_frames, limit)
        if fused_struct is not None:
            from .table import _keep_persisted

            task_frame = _keep_persisted(task_frame)
            task_df = task_frame.where("split = 0").drop("split")
            pframe = task_frame.where("split = 1").drop("split")
            has_partials = pframe.limit(1).count() > 0
            if has_partials:
                ptask_df = pframe
        else:
            task_df = task_frame.drop("split")
            has_partials = False
    else:
        task_df = spark.createDataFrame(
            rows or [], "part string, sides string"
        ).repartition(min(max(len(rows), 1), _MAX_TASK_PARTITIONS))
        has_partials = bool(partial_rows)
    keys = [s["key"] for s in norm]
    fused_names = [f.name for f in fused_struct.fields] if fused_struct else None

    def _star_joined(batches):
        """Shared per-task star join: yield the joined Arrow table
        (selected to the flat output columns) per bucket/fragment row."""
        for batch in batches:
            for row in batch.to_pylist():
                side_jsons = json.loads(row["sides"])
                acc = None
                empty = False
                for i, sj in enumerate(side_jsons):
                    tbl = _read_bucket_arrow(_task_loads(sj), side_read[i], resids[i])
                    if tbl is None or len(tbl) == 0:
                        empty = True
                        break
                    tbl = tbl.select(side_cols[i])
                    if acc is None:
                        acc = tbl
                    else:
                        acc = acc.join(
                            tbl, keys=[keys[0]], right_keys=[keys[i]], join_type="inner"
                        )
                        if len(acc) == 0:
                            empty = True
                            break
                if empty or acc is None or len(acc) == 0:
                    continue
                yield acc.select(out_names)

    def star_task(batches):
        from . import fileio

        fileio.apply_config(fileio_cfg)
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(out_struct)
        fused_target = to_arrow_schema(fused_struct) if fused_struct else None
        for joined in _star_joined(batches):
            if fused_target is not None:
                # FINAL aggregates in the star task: every group tuple
                # contains the fact key, and split buckets route to the
                # partial task instead
                out = _fold_fused_agg(
                    joined, fg_keys, fg_items, fused_names, fused_target
                )
                yield from out.to_batches(max_chunksize=1 << 16)
                continue
            out = _cast_to_schema(joined, target)
            yield from out.to_batches(max_chunksize=1 << 16)

    final_df = task_df.mapInArrow(star_task, result_struct)
    if not has_partials:
        return final_df

    partial_struct, p_items = _fused_partial_plan(out_struct, fg_keys, fg_items)
    p_names = [f.name for f in partial_struct.fields]
    if ptask_df is None:
        ptask_df = spark.createDataFrame(
            partial_rows, "part string, sides string"
        ).repartition(min(len(partial_rows), _MAX_TASK_PARTITIONS))

    def star_task_partial(batches):
        from . import fileio

        fileio.apply_config(fileio_cfg)
        from pyspark.sql.pandas.types import to_arrow_schema

        p_target = to_arrow_schema(partial_struct)
        for joined in _star_joined(batches):
            out = _fold_fused_partial(joined, fg_keys, p_items, p_names, p_target)
            yield from out.to_batches(max_chunksize=1 << 16)

    combine = _fused_combine_exprs(fused_struct, fg_items)
    combined = (
        ptask_df.mapInArrow(star_task_partial, partial_struct)
        .groupBy(*fg_keys)
        .agg(*combine)
        .select(fused_names)
    )
    return final_df.unionByName(combined)
