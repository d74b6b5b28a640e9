"""Structured Streaming integration.

The reference's "Append Stream" feature (README table) is a batched
record-reader append (table/table.go:123-130) — its Spark-native
equivalent is a `foreachBatch` sink committing each micro-batch through
the distributed-snapshot append, which is exactly what `append_stream`
does. Each micro-batch becomes one snapshot: exactly-once end-to-end
when the checkpoint survives, at-least-once otherwise (idempotent
readers can dedup on the batch-id property we stamp on the snapshot).

`windowed_event_counts` shows the watermark + windowed-agg shape for
late data over the `events` stream.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def append_stream(
    table,
    stream_df: DataFrame,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: Optional[str] = None,
):
    """Sink a streaming DataFrame into an Iceberg table: one snapshot
    per micro-batch, committed by the driver (coordinator) after the
    executors (workers) wrote the batch's files."""

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.refresh()  # tolerate concurrent committers between batches
        table.append(
            batch_df, snapshot_properties={"spark.streaming.batch-id": str(batch_id)}
        )

    writer = stream_df.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def windowed_event_counts(
    stream_df: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window counts per event type — the standard
    late-data-tolerant rollup (drops events later than the watermark)."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionize_stream(
    stream_df: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
):
    """Custom stateful streaming operator: per-user gap sessionization
    with `applyInPandasWithState` (Arrow-batched state, event-time
    timeout) — the shape Spark's built-in windowed aggs cannot express
    (a session ends `gap` after its LAST event, not on a fixed grid).

    Emits one row per COMPLETED session: a session closes when a later
    event of the same user arrives past the gap, or when event time
    passes last_event + gap (watermark-driven timeout). Open sessions
    ride in state — bounded: one (start, last, count) triple per active
    user, so state size is O(active users), never O(events).

    Inside a batch the per-user work is vectorized (numpy diff for
    session boundaries); only the stitch with carried state is scalar.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ns = gap_minutes * 60 * 1_000_000_000
    out_cols = ["user_id", "session_start", "session_end", "n_events"]

    def fn(key, pdfs, state: GroupState):
        uid = key[0]
        carried = state.get if state.exists else None  # (start, last, n) in ns

        if state.hasTimedOut:
            # watermark passed last_event + gap: the open session is done
            s, e, n = carried
            state.remove()
            yield pd.DataFrame(
                [[uid, pd.Timestamp(s), pd.Timestamp(e), n]], columns=out_cols
            )
            return

        ts = np.sort(
            np.concatenate(
                [pdf[ts_col].values.astype("datetime64[ns]").astype("int64") for pdf in pdfs]
            )
        )
        if ts.size == 0:
            return
        # vectorized session boundaries within the batch
        brk = np.flatnonzero(np.diff(ts) > gap_ns)
        starts = np.concatenate(([0], brk + 1))
        ends = np.concatenate((brk, [ts.size - 1]))
        sessions = [
            [int(ts[s]), int(ts[e]), int(e - s + 1)] for s, e in zip(starts, ends)
        ]
        # stitch the carried open session with the first batch session;
        # min/max both ends — a late-but-admitted event (within the
        # watermark) may sort BEFORE the carried last_ts, and taking the
        # batch end unconditionally would regress session_end and fire
        # the timeout early
        if carried is not None:
            cs, ce, cn = carried
            if sessions[0][0] - ce <= gap_ns:
                sessions[0] = [
                    min(cs, sessions[0][0]),
                    max(ce, sessions[0][1]),
                    cn + sessions[0][2],
                ]
            else:
                sessions.insert(0, [cs, ce, cn])
        *closed, last = sessions
        state.update((last[0], last[1], last[2]))
        state.setTimeoutTimestamp((last[1] + gap_ns) // 1_000_000)  # ms
        if closed:
            yield pd.DataFrame(
                [[uid, pd.Timestamp(s), pd.Timestamp(e), n] for s, e, n in closed],
                columns=out_cols,
            )

    return (
        stream_df.withWatermark(ts_col, f"{gap_minutes} minutes")
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id bigint, session_start timestamp_ntz, "
                "session_end timestamp_ntz, n_events int"
            ),
            stateStructType="session_start long, last_ts long, n_events long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def dedup_stream(
    stream_df: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    `dropDuplicatesWithinWatermark` keeps one row per key and expires
    key state once the watermark passes it — the ingestion-dedup shape
    for at-least-once upstream sources (kafka replays, retried batch
    loads). State is O(distinct keys per watermark window), never
    O(stream); the keyed state store shuffles once on the key columns,
    the same exchange a batch dropDuplicates would take."""
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


# changelog_poll cursor value meaning "positioned before the table's
# first snapshot" (established by polling an empty table). Snapshot ids
# are positive in this engine, so -1 cannot collide.
CHANGELOG_BEGINNING = -1


def changelog_poll(table, spark, cursor: Optional[int]):
    """One CDC consumption step — the poll-loop primitive a pipeline
    scheduler runs against a v3 table: refresh, diff against the
    consumer's cursor, advance. For append-only consumption the
    first-class `readStream` source (`iceberg_stream`, below) supersedes
    this loop; changelog_poll remains the row-level CDC surface
    (deletes/updates as delete+insert pairs), which the append-stream
    source deliberately refuses.

    Returns ``(changes_df | None, new_cursor)``:
      - first call with ``cursor=None`` establishes the position at the
        current snapshot and returns no rows (consume-from-now);
      - subsequent calls return the row-level changelog
        (`Table.changelog_scan`) between the cursor and the current
        snapshot, or ``None`` when nothing was committed.

    The cursor is a plain snapshot id — durable anywhere — or
    ``CHANGELOG_BEGINNING`` when the position was established on a
    still-empty table (the first commit's rows must not be skipped, so
    "positioned before any snapshot" is a real cursor value, distinct
    from the not-yet-positioned ``None``). Snapshot expiry must retain
    the consumer horizon (`expire_snapshots`'s retain-last / max-age
    knobs), the same contract every CDC log has. Cost per poll:
    metadata-only when idle (no job is launched until the returned
    frame is consumed); the changelog itself plans only the snapshots
    in (cursor, head]."""
    table.refresh()
    snap = table.current_snapshot()
    head = snap.snapshot_id if snap is not None else None
    if cursor is None:
        # establish position: at the head, or (empty table) at the
        # explicit beginning so rows committed later are not lost
        return None, (head if head is not None else CHANGELOG_BEGINNING)
    if head is None or head == cursor:
        return None, cursor
    return (
        table.changelog_scan(
            spark,
            from_snapshot_id=None if cursor == CHANGELOG_BEGINNING else cursor,
            to_snapshot_id=head,
        ),
        head,
    )


# ---------------------------------------------- streaming SOURCE (readStream)

def _load_stream_table(options):
    """Resolve the stream's table from source options: the common case
    is the FS catalog (`warehouse` + `table`); any registered catalog
    kind works via `catalog` + JSON `catalog_args` (ref
    catalog/registry.go:80-131 scheme dispatch)."""
    import json as _json

    kind = options.get("catalog", "fs")
    if kind == "fs":
        from .iceberg.catalog import FileSystemCatalog

        return FileSystemCatalog(options["warehouse"]).load_table(options["table"])
    from .iceberg.catalog import load_catalog

    args = _json.loads(options.get("catalog_args", "{}"))
    return load_catalog(kind, **args).load_table(options["table"])


def register_iceberg_stream_source(spark) -> None:
    """Register the `iceberg_inc` streaming source (idempotent)."""
    spark.dataSource.register(IcebergStreamDataSource)


def iceberg_stream(spark, warehouse: str, table: str, **options) -> DataFrame:
    """`spark.readStream` over an Iceberg table's append stream.

    Built on PySpark 4's Python Data Source API (DataSourceStreamReader)
    — the true DataSourceV2 micro-batch shape, upgrading changelog_poll's
    scheduler-driven loop to a first-class `readStream` source: offsets
    are snapshot ids (durable in the query checkpoint), each micro-batch
    is the appended-file set between two snapshots
    (`incremental_append_scan` semantics: append snapshots only,
    compaction `replace` skipped as already-delivered rewrites, an
    overwrite/delete in range raises — use changelog_poll for row-level
    CDC), and executors read ONLY the new files, resolving columns by
    parquet field id (renames survive; columns added later read their
    default/null). `max_files_per_trigger` bounds each batch whenever
    the reader knows its position (see _IcebergStreamReader); pass
    `position_path` (a file URI unique to the query, like
    checkpointLocation) to make that cap survive checkpoint restarts —
    commit() records the committed offset there, so even the first
    trigger after a restart admits at most the cap instead of the whole
    backlog. `stream_batch_rows` bounds executor memory per yielded
    record batch. Composes with every
    downstream Structured Streaming operator (watermarks, windowed aggs,
    applyInPandasWithState, append_stream back into another table).

    `mode="cdc"` upgrades the source to row-level CDC: each delivered
    row carries `_change_type` ('insert' | 'delete') and the v3 row
    lineage `_row_id` (exact materialized ids for rewritten files, else
    first_row_id + position — identical to changelog_poll's, pinned by
    tests; null on v2 tables), so a downstream MERGE can key on stable
    row identity, and
    row-level-delete snapshots in range are expanded instead of raising —
    deletion-vector diffs against the parent snapshot name exactly the
    newly-removed rows, whole-dropped files emit their parent-live rows,
    and executors still read only the changed files. Granularity is
    per-snapshot (event stream): a batch spanning several commits emits
    every commit's events, equivalent to polling changelog_poll at each
    commit — not the range-netted diff. Supported in range: append,
    compaction (skipped), `delete_where` merge-on-read snapshots
    (v3 deletion vectors + whole-file drops), and upsert/MERGE
    equality-delete snapshots — executors expand the keys into
    newly-dead positions per affected file (new-key matches minus
    everything already dead at the parent), with the snapshot's own
    scan plan providing sequence gating and partition/metrics pruning,
    so a MERGE-heavy table streams without a convert_equality_deletes
    pass. Raises — use changelog_poll — on v2 positional delete files,
    file-REWRITING overwrites (their survivor rows keep their lineage,
    which only row-lineage CDC can net out), a snapshot adding both
    a DV and an equality delete for the same file, and a commit whose
    applicable equality-delete key files exceed
    `read.cdc.eq-keys-max-rows` (default 2M key rows; per-query option
    `cdc_eq_keys_max_rows` overrides) — the expansion loads key tables
    into each task's memory, so a bulk-MERGE commit is refused AT PLAN
    TIME (bounded, degrades instead of OOMing at 100×) naming
    changelog_poll / convert_equality_deletes as the bounded routes.
    Snapshot expiry must retain the consumer horizon, the same contract
    every CDC log has.

    Catch-up netting: `cdc_catch_up_snapshots=N` (or table property
    `read.cdc.catch-up-snapshots`; default 0 = off) switches a batch
    whose range spans MORE than N commits from per-commit expansion to
    ONE range-netted plan — the live-file diff of the range's two end
    states, equivalent to folding the per-commit events per `_row_id`
    (and to `changelog_scan` over the range, pinned by test). A row
    MERGEd 500 times in the gap then costs one delete+insert pair
    instead of 500 — the examples/cdc_consumer.catch_up recipe, wired
    into the source so a lagging consumer doesn't replay hot-row
    history. `cdc_net=true` nets every batch. Netting trades event
    granularity (intermediate row versions are not replayed) for
    catch-up cost, hence opt-in; ranges containing a compaction or
    file-rewriting overwrite fall back to per-commit expansion (a
    file-level diff cannot tell rewritten survivors from real changes
    — only changelog_scan's row-id anti-join nets those)."""
    register_iceberg_stream_source(spark)
    reader = (
        spark.readStream.format("iceberg_inc")
        .option("warehouse", warehouse)
        .option("table", table)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


_NO_LINEAGE = object()  # sentinel: omit the _row_id column entirely


def _project_batch(fields, resolved, batch, n, change_type=None, row_ids=_NO_LINEAGE):
    """One output RecordBatch from a (possibly absent) source batch,
    projected by reader.project (resolved columns cast to the table
    type, unresolved ones filled with the initial-default or nulls).
    `change_type` appends the CDC-mode `_change_type` column; `row_ids`
    (an int64 array, or None for a null-filled column) appends the v3
    `_row_id` lineage column."""
    import pyarrow as pa

    from .iceberg.reader import project

    out = project(batch, fields, resolved, n)
    cols, names = out.columns, out.schema.names
    if change_type is not None:
        cols.append(pa.array([change_type] * n, type=pa.string()))
        names.append("_change_type")
    if row_ids is not _NO_LINEAGE:
        if row_ids is None:
            cols.append(pa.nulls(n, type=pa.int64()))
        else:
            cols.append(pa.array(row_ids, type=pa.int64()))
        names.append("_row_id")
    return pa.RecordBatch.from_arrays(cols, names=names)


def _materialized_lineage_col(pf):
    """Physical column name of the reserved materialized `_row_id`
    (field id 2147483540 — files rewritten by compaction/partial-file
    overwrite carry exact ids that position arithmetic must NOT
    recompute), or None."""
    from .iceberg.manifest import ROW_ID_FIELD_ID
    from .iceberg.reader import field_ids

    return field_ids(pf.schema_arrow).get(ROW_ID_FIELD_ID)


def _read_change_deletes(pf, partition, resolved, batch_rows):
    """CDC executor read for a delete partition: yield the rows of this
    data file that its snapshot newly removed, batch-wise. Position
    selection is windowed per batch, so memory stays one batch + the
    decoded position sets (new−prior diff), never the file."""
    import numpy as np
    import pyarrow as pa

    from .iceberg.reader import delete_positions, eq_deleted_positions

    fields = partition.fields
    read_cols = [p for p in resolved.values() if p is not None]
    prior = delete_positions(partition.path, partition.prior_deletes)
    if getattr(partition, "eq_prior", None):
        # unconverted eq-delete debt applicable at the parent: its rows
        # are already dead — fold them into `prior` so NO delete path
        # (whole-file drop, DV diff, or new eq match) re-emits them.
        # One key-matching pass over the file (pyarrow batch-wise).
        prior = np.union1d(
            prior, eq_deleted_positions(pf, partition.eq_prior, partition.mapped)
        )
    if partition.whole_file:
        target = None  # every position except `prior`
    else:
        # newly-dead = (new eq-key matches ∪ new positional deletes)
        # minus everything already dead at the prior state. Per-commit
        # planning never sets both (it refuses to order two delete
        # sources inside one snapshot); the NETTED range planner sets
        # both routinely — one commit added an eq file, a later one a DV
        # — and the union is exactly the range's cumulative delete set.
        news = []
        if getattr(partition, "eq_new", None):
            news.append(
                eq_deleted_positions(pf, partition.eq_new, partition.mapped)
            )
        if partition.new_deletes:
            news.append(delete_positions(partition.path, partition.new_deletes))
        new = news[0] if len(news) == 1 else np.union1d(*news)
        target = np.setdiff1d(new, prior).astype("int64")
        if target.size == 0:
            return

    def window_indices(off, n):
        """Batch-relative indices of emitted rows in [off, off+n)."""
        if target is None:
            pr = prior[(prior >= off) & (prior < off + n)] - off
            return np.setdiff1d(
                np.arange(n, dtype="int64"), pr, assume_unique=True
            )
        lo = np.searchsorted(target, off)
        hi = np.searchsorted(target, off + n)
        return (target[lo:hi] - off).astype("int64")

    # emitted rows carry their v3 lineage: exact materialized ids when
    # the file has them, else first_row_id + position, else null (v2).
    # `change` is "delete" for every per-commit partition; the netted
    # planner also routes whole_file="live rows at the range end" reads
    # here labeled "insert" (a file added mid-range with deletions
    # already applied to it).
    change = getattr(partition, "change", "delete")
    lin_src = _materialized_lineage_col(pf)
    frid = getattr(partition, "first_row_id", None)

    def ids_for(idx, off, batch=None):
        if lin_src is not None and batch is not None:
            return batch.column(batch.schema.get_field_index(lin_src)).take(
                pa.array(idx)
            )
        if frid is not None:
            return (idx + off + frid).tolist()
        return None

    off = 0
    if not read_cols and lin_src is None:
        # degenerate projection: defaults only, counts from the footer
        for rg in range(pf.metadata.num_row_groups):
            n = pf.metadata.row_group(rg).num_rows
            idx = window_indices(off, n)
            if idx.size:
                yield _project_batch(
                    fields, resolved, None, len(idx), change, ids_for(idx, off)
                )
            off += n
        return
    scan_cols = read_cols + ([lin_src] if lin_src else [])
    for batch in pf.iter_batches(columns=scan_cols, batch_size=batch_rows):
        n = batch.num_rows
        idx = window_indices(off, n)
        if idx.size:
            sub = batch.take(pa.array(idx))
            yield _project_batch(
                fields, resolved, sub, sub.num_rows, change,
                ids_for(idx, off, batch),
            )
        off += n


class _CdcEqKeys:
    """The CDC planners' equality-delete descriptors and their key-row
    bound. Executors load a partition's applicable key files into each
    task's memory (reader.eq_key_table) — one small file for a typical
    CDC commit, but a bulk MERGE can commit a 100M-key file that would
    OOM every task. Key-row counts are free driver-side (manifest
    record_count), so `check` refuses AT PLAN TIME naming the bounded
    routes. The bound is `read.cdc.eq-keys-max-rows` (default 2M key
    rows); the per-query option `cdc_eq_keys_max_rows` overrides it."""

    def __init__(self, options, properties, fields):
        try:
            self.max_rows = int(options.get(
                "cdc_eq_keys_max_rows",
                properties.get("read.cdc.eq-keys-max-rows", "2000000"),
            ))
        except (TypeError, ValueError):
            self.max_rows = 2_000_000
        self.keys = {f[0]: f for f in fields}
        self.nrows: dict[str, int] = {}

    def descs(self, delete_files, only=None, exclude=None):
        """[(key file path, key fields)] of the equality-delete files
        in `delete_files`, optionally only those in / not in a path
        set; the key fields ride along because key columns need not be
        in the read projection."""
        from .iceberg.manifest import DataFileContent
        from .iceberg.reader import eq_key_fields

        out = []
        for d in delete_files:
            if d.content != DataFileContent.EQUALITY_DELETES:
                continue
            if only is not None and d.file_path not in only:
                continue
            if exclude is not None and d.file_path in exclude:
                continue
            self.nrows[d.file_path] = int(d.record_count or 0)
            out.append((
                d.file_path,
                eq_key_fields(self.keys, d.file_path, d.equality_ids or []),
            ))
        return out

    def check(self, what, path, *desc_lists):
        """Refuse a partition reading `path` whose key files sum above
        the bound; `what` names the planned commit or range."""
        total = sum(
            self.nrows.get(p, 0) for descs in desc_lists for p, _ in descs
        )
        if total > self.max_rows:
            raise ValueError(
                f"{what} loads {total} equality-delete key rows into each "
                f"task reading {path} — above read.cdc.eq-keys-max-rows="
                f"{self.max_rows}. Consume via changelog_poll (distributed "
                "anti-join, bounded memory) or run convert_equality_deletes "
                "first; raise the property to override"
            )


try:  # pyspark >= 4: Python Data Source API
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _IcebergFilePartition(InputPartition):
        def __init__(self, path: str, fields: list, cfg: dict, batch_rows: int = 8192):
            self.path = path
            # [(field_id, current_name)] — executors resolve parquet
            # columns by FIELD ID (name-independent), so renamed columns
            # keep streaming; imported (add_files) files without ids
            # resolve by the table's name mapping (`mapped`, set by the
            # planner), then by the current name
            self.fields = fields
            self.mapped: dict = {}
            self.cfg = cfg
            # rows per yielded record batch: the executor memory bound
            # (option stream_batch_rows)
            self.batch_rows = batch_rows

    class _CdcFilePartition(_IcebergFilePartition):
        """CDC-mode partition: emit this data file's change rows.

        change="insert": all rows (an appended/overwrite-added file).
        change="delete": the rows this snapshot removed —
          * whole_file=True: every row live as of the PARENT snapshot
            (all positions minus `prior_deletes`) — a dropped data file;
          * whole_file=False with `new_deletes`: positions in
            `new_deletes` minus positions in `prior_deletes` — a
            DV/delete-file update on a live file;
          * whole_file=False with `eq_new`: positions whose key tuple
            the NEW equality-delete files name, minus positions already
            dead (prior eq matches ∪ `prior_deletes`) — the upsert/MERGE
            commit expanded to row-level events executor-side.
        Delete descriptors (reader.delete_entry) decode executor-side
        (reader.delete_positions); the driver ships only O(delete
        files) pointers.
        eq_new / eq_prior: [(key_file_path, key fields)] (_CdcEqKeys)."""

        def __init__(self, path, fields, cfg, batch_rows, change,
                     new_deletes=(), prior_deletes=(), whole_file=False,
                     first_row_id=None, eq_new=(), eq_prior=()):
            super().__init__(path, fields, cfg, batch_rows)
            self.change = change
            self.new_deletes = list(new_deletes)
            self.prior_deletes = list(prior_deletes)
            self.eq_new = list(eq_new)
            self.eq_prior = list(eq_prior)
            self.whole_file = whole_file
            # v3 row lineage: the data file's assigned first_row_id (from
            # manifest inheritance at plan time); executors emit
            # `_row_id` = first_row_id + position unless the file carries
            # materialized lineage columns
            self.first_row_id = first_row_id

    class _IcebergStreamReader(DataSourceStreamReader):
        def __init__(self, options):
            self._options = dict(options)
            self._mode = options.get("mode", "append")
            if self._mode not in ("append", "cdc"):
                raise ValueError(f"unknown stream mode {self._mode!r}")
            self._max_files = int(options.get("max_files_per_trigger", "0"))
            self._pos: Optional[int] = None  # last planned/committed end
            # optional durable position bookkeeping (option position_path):
            # commit() records the committed end offset so a
            # checkpoint-RESTART's first latestOffset knows its position
            # and the max_files_per_trigger cap applies to the very first
            # trigger too (otherwise that one trigger admits the whole
            # backlog). Unique per query, like checkpointLocation.
            self._position_path = self._options.get("position_path")
            from .iceberg import fileio

            self._cfg = fileio.env_config()

        def _recover_position(self) -> None:
            """Restart path: no initialOffset call, so _pos is None at the
            first latestOffset — recover it from the position file when
            bookkeeping is on. A torn/unreadable file degrades to the
            documented uncapped-first-trigger behavior, never to a wrong
            offset (offsets come exclusively from the checkpoint)."""
            if self._pos is not None or not self._position_path:
                return
            from .iceberg import fileio

            try:
                if fileio.exists(self._position_path):
                    self._pos = int(fileio.read_bytes(self._position_path))
            except (OSError, ValueError):
                pass

        def initialOffset(self) -> dict:
            self._pos = -1
            return {"snapshot_id": -1}

        def latestOffset(self) -> dict:
            t = _load_stream_table(self._options)
            s = t.current_snapshot()
            head = s.snapshot_id if s is not None else -1
            # admission control (best-effort): cap each micro-batch at
            # max_files_per_trigger appended files by stopping the end
            # offset early along main's ancestry. The cap applies
            # whenever the position is known: a FRESH query's first
            # trigger (initialOffset ran → position is "beginning", so a
            # large backlog drains in bounded batches) and every trigger
            # after partitions()/commit() taught this reader its
            # position. A checkpoint-RESTART's first trigger is capped
            # too when `position_path` bookkeeping is on (the runner
            # asks for latestOffset before replaying the committed start
            # offset, so without the position file that one trigger is
            # uncapped). Caveat: availableNow captures ONE end offset up
            # front and stops there, so with a cap it drains at most one
            # capped batch per run — use a processingTime trigger (or
            # rerun availableNow on a schedule) for capped backlog
            # drains.
            self._recover_position()
            if self._max_files > 0 and self._pos is not None and head != self._pos:
                chain = []
                cur = s
                by_id = {x.snapshot_id: x for x in t.metadata.snapshots}
                while cur is not None and cur.snapshot_id != self._pos:
                    chain.append(cur)
                    cur = by_id.get(cur.parent_snapshot_id)
                if cur is None and self._pos != -1:
                    # position not on head's ancestry (expired snapshot,
                    # stale/foreign position file): capping against it
                    # could pick an end offset BEHIND the checkpoint's
                    # start — fall back to uncapped, the unknown-position
                    # contract
                    return {"snapshot_id": head}
                budget = self._max_files
                capped, taken = head, 0
                for snap in reversed(chain):  # oldest first
                    n = int(snap.summary.properties.get("added-data-files", "0"))
                    if taken > 0 and n > budget:
                        break  # next snapshot won't fit; stop before it
                    capped, taken = snap.snapshot_id, taken + 1
                    budget -= n  # first snapshot always admitted
                    if budget <= 0:
                        break
                return {"snapshot_id": capped}
            return {"snapshot_id": head}

        def partitions(self, start: dict, end: dict):
            s_id, e_id = start["snapshot_id"], end["snapshot_id"]
            self._pos = e_id
            if e_id == -1 or s_id == e_id:
                return []
            t = _load_stream_table(self._options)
            from .iceberg.reader import mapped_names, read_fields

            fields = read_fields(t.metadata.current_schema())
            batch_rows = int(self._options.get("stream_batch_rows", "8192"))
            if self._mode == "cdc":
                parts = self._cdc_partitions(t, s_id, e_id, fields, batch_rows)
            else:
                scan = t.incremental_append_scan(
                    from_snapshot_id=None if s_id == -1 else s_id,
                    to_snapshot_id=e_id,
                )
                parts = [
                    _IcebergFilePartition(
                        task.file.file_path, fields, self._cfg, batch_rows
                    )
                    for task in scan.plan_files()
                ]
            mapped = mapped_names(t.metadata.properties)
            for p in parts:
                p.mapped = mapped
            return parts

        def _cdc_partitions(self, t, s_id, e_id, fields, batch_rows):
            """Row-level CDC planning for the range (s, e]: the chain is
            decomposed PER SNAPSHOT (event-stream granularity — a batch
            spanning several commits emits each commit's inserts and
            deletes, never the range-netted diff changelog_scan computes;
            equivalent to polling changelog_poll once per commit):
              append    → each added data file = insert rows
              replace   → nothing (compaction rewrites delivered rows)
              delete    → newly-deleted rows = per data file, the
                positions its NEW deletion vectors name minus the
                positions already deleted as of the PARENT snapshot; a
                data file dropped whole emits its parent-live rows
              overwrite → DV diffs + added files as inserts (the
                upsert-with-DV shape); REFUSED if it rewrites data files
                (survivor rows keep their lineage — only row-lineage CDC
                nets them out; see iceberg_stream docstring)
            Driver cost: O(changed manifests) per changed snapshot plus
            one parent metadata plan per delete/overwrite snapshot;
            executors read only the changed files (changelog_scan, by
            contrast, scans BOTH snapshots' data and anti-joins)."""
            from .iceberg.manifest import (
                DataFileContent,
                ManifestContent,
                ManifestEntryStatus,
                read_manifest,
            )
            from .iceberg.reader import delete_entry
            from .iceberg.table import strip_scheme

            md = t.metadata
            chain = []
            cur = md.snapshot_by_id(e_id)
            while cur is not None and cur.snapshot_id != s_id:
                chain.append(cur)
                cur = (
                    md.snapshot_by_id(cur.parent_snapshot_id)
                    if cur.parent_snapshot_id is not None
                    else None
                )
            if s_id != -1 and cur is None:
                raise ValueError(
                    f"snapshot {s_id} is not an ancestor of {e_id}"
                )
            chain.reverse()

            # Catch-up netting (examples/cdc_consumer.catch_up promoted
            # into the source): a consumer that fell more than
            # `cdc_catch_up_snapshots` commits behind switches from
            # per-commit expansion to ONE range-netted plan — a row
            # MERGEd 500 times in the gap costs one delete+insert pair
            # instead of 500, and the per-commit eq-key bound stops
            # being hit once per bulk commit. Netting changes event
            # GRANULARITY (intermediate row versions are not replayed),
            # so it is opt-in: 0 (default) never nets; option cdc_net
            # nets every batch. Falls back to per-commit when the range
            # contains a rewrite (replace / file-rewriting overwrite) —
            # the file-level net cannot tell rewritten survivors from
            # changes; per-commit handles replace by skipping it.
            try:
                catch_up = int(self._options.get(
                    "cdc_catch_up_snapshots",
                    t.metadata.properties.get(
                        "read.cdc.catch-up-snapshots", "0"
                    ),
                ))
            except (TypeError, ValueError):
                catch_up = 0
            always_net = str(
                self._options.get("cdc_net", "false")
            ).lower() in ("1", "true", "yes")
            if (
                (always_net or (0 < catch_up < len(chain)))
                and self._cdc_nettable(chain)
            ):
                return self._netted_cdc_partitions(
                    t, s_id, e_id, fields, batch_rows
                )

            eq = _CdcEqKeys(self._options, t.metadata.properties, fields)

            parts = []
            for snap in chain:
                op = snap.summary.operation
                what = f"cdc stream: expanding snapshot {snap.snapshot_id}"
                if op == "replace":
                    continue
                if op == "append":
                    for m in snap.manifests():
                        if (
                            m.content != ManifestContent.DATA
                            or m.added_snapshot_id != snap.snapshot_id
                        ):
                            continue
                        for e in read_manifest(
                            m.manifest_path,
                            inherit_sequence_number=m.sequence_number,
                            inherit_first_row_id=m.first_row_id,
                        ):
                            if e.status == ManifestEntryStatus.ADDED and (
                                e.snapshot_id in (None, snap.snapshot_id)
                            ):
                                parts.append(_CdcFilePartition(
                                    e.data_file.file_path, fields, self._cfg,
                                    batch_rows, "insert",
                                    first_row_id=e.data_file.first_row_id,
                                ))
                    continue
                if op not in ("delete", "overwrite"):
                    raise ValueError(
                        f"cdc stream cannot interpret a {op!r} snapshot "
                        f"({snap.snapshot_id})"
                    )
                # prior state: the parent snapshot's plan gives each live
                # file its matched (sequence-gated) delete files. Removed
                # files are the LIVE-SET DIFF vs this snapshot (the writer
                # drops whole files by rewriting parent manifests without
                # them — no DELETED-status entries to read).
                prior_by_path: dict[str, tuple] = {}
                if snap.parent_snapshot_id is not None:
                    for task in t.scan(
                        snapshot_id=snap.parent_snapshot_id
                    ).plan_files():
                        prior_by_path[strip_scheme(task.file.file_path)] = (
                            task.file.file_path,
                            [
                                delete_entry(d)
                                for d in task.delete_files
                                if d.content == DataFileContent.POSITION_DELETES
                            ],
                            # unconverted eq-delete debt applicable at the
                            # parent: rows it killed are ALREADY dead and
                            # must never re-emit a delete event — from a
                            # whole-file drop, a DV diff, or a new eq match
                            eq.descs(task.delete_files),
                            task.file.first_row_id,
                        )
                live_now = {
                    strip_scheme(task.file.file_path)
                    for task in t.scan(snapshot_id=snap.snapshot_id).plan_files()
                }
                removed = [
                    orig
                    for key, (orig, _, _, _) in prior_by_path.items()
                    if key not in live_now
                ]
                new_dels: dict[str, tuple] = {}
                new_eq_paths: set[str] = set()
                added: list[tuple] = []  # (path, first_row_id)
                for m in snap.manifests():
                    if m.added_snapshot_id != snap.snapshot_id:
                        continue  # carried-over manifest: no delta inside
                    if m.content == ManifestContent.DATA:
                        for e in read_manifest(
                            m.manifest_path,
                            inherit_sequence_number=m.sequence_number,
                            inherit_first_row_id=m.first_row_id,
                        ):
                            if e.status == ManifestEntryStatus.ADDED and (
                                e.snapshot_id in (None, snap.snapshot_id)
                            ):
                                added.append(
                                    (e.data_file.file_path,
                                     e.data_file.first_row_id)
                                )
                        continue
                    for e in read_manifest(
                        m.manifest_path,
                        inherit_sequence_number=m.sequence_number,
                    ):
                        if e.status != ManifestEntryStatus.ADDED:
                            continue
                        d = e.data_file
                        if d.content == DataFileContent.EQUALITY_DELETES:
                            # the upsert/MERGE commit shape: expanded
                            # below via the child snapshot's own plan
                            # (sequence + partition gating for free)
                            new_eq_paths.add(d.file_path)
                            continue
                        if d.content_offset is None:
                            raise ValueError(
                                "cdc stream requires deletion-vector (v3) "
                                f"deletes; snapshot {snap.snapshot_id} added "
                                "a v2 positional-delete file — use "
                                "changelog_poll"
                            )
                        new_dels.setdefault(
                            strip_scheme(d.referenced_data_file),
                            (d.referenced_data_file, []),
                        )[1].append(delete_entry(d))
                if op == "overwrite" and removed:
                    # a file-rewriting overwrite (partial-file overwrite
                    # rewrites SURVIVORS into new files with their row
                    # lineage preserved): file-level expansion would emit
                    # survivor rows as spurious delete+insert pairs that
                    # row-lineage CDC correctly nets out — refuse rather
                    # than diverge from changelog semantics
                    raise ValueError(
                        f"cdc stream cannot expand overwrite snapshot "
                        f"{snap.snapshot_id}: it rewrites data files "
                        "in place; consume row-level CDC via changelog_poll"
                    )
                if op == "delete" and added:
                    raise ValueError(
                        f"delete snapshot {snap.snapshot_id} adds data "
                        "files; cdc stream cannot order its events — use "
                        "changelog_poll"
                    )
                for path in removed:
                    _, descs, prior_eqs, frid = prior_by_path[strip_scheme(path)]
                    eq.check(what, path, prior_eqs)
                    parts.append(_CdcFilePartition(
                        path, fields, self._cfg, batch_rows, "delete",
                        prior_deletes=descs,
                        eq_prior=prior_eqs,
                        whole_file=True,
                        first_row_id=frid,
                    ))
                for key, (orig_path, descs) in new_dels.items():
                    # the referenced data file is live at the parent by
                    # construction; read it at the newly-deleted positions
                    _, prior_descs, prior_eqs, frid = prior_by_path.get(
                        key, (None, [], [], None)
                    )
                    eq.check(what, orig_path, prior_eqs)
                    parts.append(_CdcFilePartition(
                        orig_path, fields, self._cfg, batch_rows, "delete",
                        new_deletes=descs,
                        prior_deletes=prior_descs,
                        eq_prior=prior_eqs,
                        first_row_id=frid,
                    ))
                if new_eq_paths:
                    # Equality-delete expansion (the upsert/MERGE commit):
                    # plan THIS snapshot — its matching already did the
                    # sequence gating (same-commit inserts are exempt) and
                    # partition/metrics pruning, so only data files the
                    # keys can touch get a partition. Executors compute
                    # newly-dead positions = match(new eq keys) minus
                    # (match(prior eq keys) ∪ prior position-deletes) —
                    # rows already dead never re-emit a delete event.
                    for task in t.scan(
                        snapshot_id=snap.snapshot_id
                    ).plan_files():
                        key = strip_scheme(task.file.file_path)
                        if key not in prior_by_path:
                            continue  # added this snapshot: eq is not
                            # applicable (equal sequence number)
                        eq_new = eq.descs(
                            task.delete_files, only=new_eq_paths
                        )
                        if not eq_new:
                            continue
                        if key in new_dels:
                            raise ValueError(
                                f"snapshot {snap.snapshot_id} adds BOTH a "
                                "deletion vector and an equality delete "
                                f"for {task.file.file_path}; cdc cannot "
                                "order the two delete sources — use "
                                "changelog_poll"
                            )
                        eq_prior = eq.descs(
                            task.delete_files, exclude=new_eq_paths
                        )
                        _, prior_descs, _prior_eqs, frid = prior_by_path[key]
                        eq.check(what, task.file.file_path, eq_new, eq_prior)
                        parts.append(_CdcFilePartition(
                            task.file.file_path, fields, self._cfg,
                            batch_rows, "delete",
                            prior_deletes=prior_descs,
                            eq_new=eq_new,
                            eq_prior=eq_prior,
                            first_row_id=frid,
                        ))
                for path, frid in added:
                    parts.append(_CdcFilePartition(
                        path, fields, self._cfg, batch_rows, "insert",
                        first_row_id=frid,
                    ))
            return parts

        @staticmethod
        def _cdc_nettable(chain) -> bool:
            """A range is file-level nettable iff no snapshot in it
            rewrote live data files into new ones: compaction (replace)
            and file-rewriting overwrites preserve surviving rows'
            lineage across a file move, which a file-set diff would
            mis-emit as spurious delete+insert pairs (only the row-id
            anti-join of changelog_scan nets those). Summary counters
            make the check O(snapshots), no manifest reads."""
            for snap in chain:
                op = snap.summary.operation
                if op == "replace":
                    return False
                if op == "overwrite":
                    try:
                        if int(
                            snap.summary.properties.get(
                                "deleted-data-files", "0"
                            ) or 0
                        ) > 0:
                            return False
                    except (TypeError, ValueError):
                        return False
            return True

        def _netted_cdc_partitions(self, t, s_id, e_id, fields, batch_rows):
            """Range-netted CDC planning: diff the START state against
            the END state directly (two metadata plans total) instead of
            expanding every commit in between — the streaming promotion
            of examples/cdc_consumer.catch_up. Emitted events are the
            NET effect of the range, identical to folding the
            per-commit stream's events per _row_id:

              * file live at e but not at s → its rows live AT E as
                inserts (deletions the range already applied to the new
                file are subtracted BEFORE emission — per-commit would
                emit them as insert then delete, which nets to nothing);
              * file live at both → dead(e) minus dead(s) as deletes
                (DV growth and new eq-delete files union executor-side);
              * file live at s but not at e → its s-live rows as deletes
                (whole-file drop; rewrites were excluded by
                _cdc_nettable).

            Driver cost: two plans, O(live files); executors read only
            files with changes. The eq-key plan-time bound applies per
            partition exactly as in per-commit mode."""
            from .iceberg.manifest import DataFileContent
            from .iceberg.reader import delete_entry
            from .iceberg.table import strip_scheme

            eq = _CdcEqKeys(self._options, t.metadata.properties, fields)
            what = f"cdc stream (netted): the range ({s_id}, {e_id}]"

            prior_by_path: dict[str, tuple] = {}
            if s_id != -1:
                for task in t.scan(snapshot_id=s_id).plan_files():
                    prior_by_path[strip_scheme(task.file.file_path)] = (
                        task.file.file_path,
                        [
                            delete_entry(d)
                            for d in task.delete_files
                            if d.content == DataFileContent.POSITION_DELETES
                        ],
                        eq.descs(task.delete_files),
                        task.file.first_row_id,
                    )
            parts = []
            for task in t.scan(snapshot_id=e_id).plan_files():
                key = strip_scheme(task.file.file_path)
                e_pos = [
                    delete_entry(d)
                    for d in task.delete_files
                    if d.content == DataFileContent.POSITION_DELETES
                ]
                e_eqs = eq.descs(task.delete_files)
                frid = task.file.first_row_id
                if key not in prior_by_path:
                    # added during the range and still live: emit its
                    # live-at-e rows as inserts (whole_file live-read,
                    # labeled insert)
                    if e_pos or e_eqs:
                        eq.check(what, task.file.file_path, e_eqs)
                        parts.append(_CdcFilePartition(
                            task.file.file_path, fields, self._cfg,
                            batch_rows, "insert",
                            prior_deletes=e_pos, eq_prior=e_eqs,
                            whole_file=True, first_row_id=frid,
                        ))
                    else:
                        parts.append(_CdcFilePartition(
                            task.file.file_path, fields, self._cfg,
                            batch_rows, "insert", first_row_id=frid,
                        ))
                    continue
                _, s_pos, s_eqs, s_frid = prior_by_path.pop(key)
                s_eq_paths = {p for p, _ in s_eqs}
                eq_new = [pe for pe in e_eqs if pe[0] not in s_eq_paths]
                if not e_pos and not eq_new:
                    continue  # no delete growth on this file in range
                # cumulative DVs: dead(e) ⊇ dead(s); the executor diff
                # (new ∪ eq_new matches) − (prior ∪ s_eq matches) is
                # exactly the range's newly-dead rows
                eq.check(what, task.file.file_path, s_eqs, eq_new)
                parts.append(_CdcFilePartition(
                    task.file.file_path, fields, self._cfg, batch_rows,
                    "delete",
                    new_deletes=e_pos, prior_deletes=s_pos,
                    eq_new=eq_new, eq_prior=s_eqs,
                    first_row_id=s_frid,
                ))
            for key, (path, s_pos, s_eqs, frid) in prior_by_path.items():
                # live at s, gone at e: a genuine whole-file drop
                # (rewrites were excluded by _cdc_nettable)
                eq.check(what, path, s_eqs)
                parts.append(_CdcFilePartition(
                    path, fields, self._cfg, batch_rows, "delete",
                    prior_deletes=s_pos, eq_prior=s_eqs,
                    whole_file=True, first_row_id=frid,
                ))
            return parts

        def read(self, partition):
            from .iceberg import fileio

            fileio.apply_config(partition.cfg)

            # Stream the file batch-wise (pq.ParquetFile.iter_batches):
            # peak executor memory is one record batch, never the whole
            # decompressed file — at the 512 MiB default target file
            # size, materializing first would hold multi-GiB per task.
            # Column resolution (field-id first) is reader.resolve, shared
            # with CDC mode.
            from .iceberg.reader import resolve

            change = getattr(partition, "change", None)
            batch_rows = getattr(partition, "batch_rows", 8192)
            fields = partition.fields
            with fileio.parquet_file(partition.path) as pf:
                resolved = resolve(pf.schema_arrow, fields, partition.mapped)
                read_cols = [p for p in resolved.values() if p is not None]
                if change == "delete" or (
                    change == "insert"
                    and (
                        getattr(partition, "whole_file", False)
                        or getattr(partition, "prior_deletes", None)
                        or getattr(partition, "eq_prior", None)
                    )
                ):
                    # delete diffs AND the netted planner's live-rows-
                    # as-inserts partitions (a file added mid-range with
                    # range-end deletions applied before emission)
                    yield from _read_change_deletes(
                        pf, partition, resolved, batch_rows
                    )
                    return
                # CDC inserts carry v3 row lineage: exact materialized
                # ids when the file has them (rewritten files), else
                # first_row_id + position, else null (v2)
                lin_src = _materialized_lineage_col(pf) if change else None
                frid = getattr(partition, "first_row_id", None)
                if not read_cols and lin_src is None:
                    # no physical column survives resolution (every field
                    # was added after this file): synthesize defaults from
                    # footer row counts alone, one batch per row group
                    off = 0
                    for rg in range(pf.metadata.num_row_groups):
                        n = pf.metadata.row_group(rg).num_rows
                        if change is None:
                            yield _project_batch(fields, resolved, None, n, change)
                        else:
                            ids = (
                                list(range(frid + off, frid + off + n))
                                if frid is not None
                                else None
                            )
                            yield _project_batch(
                                fields, resolved, None, n, change, ids
                            )
                        off += n
                    return
                scan_cols = read_cols + ([lin_src] if lin_src else [])
                off = 0
                for batch in pf.iter_batches(
                    columns=scan_cols, batch_size=batch_rows
                ):
                    n = batch.num_rows
                    if change is None:
                        yield _project_batch(fields, resolved, batch, n, change)
                    else:
                        if lin_src is not None:
                            ids = batch.column(
                                batch.schema.get_field_index(lin_src)
                            )
                        elif frid is not None:
                            ids = list(range(frid + off, frid + off + n))
                        else:
                            ids = None
                        yield _project_batch(
                            fields, resolved, batch, n, change, ids
                        )
                    off += n

        def commit(self, end: dict) -> None:
            self._pos = end["snapshot_id"]
            if self._position_path:
                from .iceberg import fileio

                try:
                    fileio.write_bytes(
                        self._position_path, str(self._pos).encode()
                    )
                except OSError as exc:  # bookkeeping is best-effort:
                    # losing one position write only means a restart's
                    # first trigger may be uncapped again — never worth
                    # killing the query over
                    import warnings

                    warnings.warn(
                        f"stream position bookkeeping write failed: {exc}"
                    )

    class IcebergStreamDataSource(DataSource):
        """readStream source `iceberg_inc`: options warehouse + table
        (FileSystemCatalog identifier); offsets = snapshot ids."""

        @classmethod
        def name(cls) -> str:
            return "iceberg_inc"

        def schema(self):
            from .iceberg.types import schema_to_spark_struct

            t = _load_stream_table(self.options)
            struct = schema_to_spark_struct(t.metadata.current_schema())
            if self.options.get("mode", "append") == "cdc":
                from pyspark.sql.types import LongType, StringType, StructField

                struct = struct.add(StructField("_change_type", StringType()))
                # v3 row lineage rides along (null on v2 tables), so a
                # downstream MERGE can key on the stable row identity
                struct = struct.add(StructField("_row_id", LongType()))
            return struct

        def streamReader(self, schema):
            return _IcebergStreamReader(self.options)

except ImportError:  # pragma: no cover — pyspark < 4
    IcebergStreamDataSource = None  # type: ignore[assignment]
