"""Which public calls of the engine the traced run wraps, and how the
recorded spans become the per-layer metrics.

Each layer is named after the package module it lives in. Times are
self times (span minus its traced children) in ms per workload op;
counts are per workload op unless the name says otherwise. Names and
units are listed under `per_layer` in BENCHMARK.json.
"""

from __future__ import annotations

import os
from collections import defaultdict

from tracing import Tracer

def install(tracer: Tracer, with_spark: bool) -> None:
    """Wrap the engine's layer boundaries. Import-time bindings in the
    package's modules are replaced too (see `Tracer.patch_function`)."""
    from iceberg_go_distributed_spark.iceberg import (
        avro,
        catalog,
        evaluators,
        manifest,
        metadata,  # noqa: F401  (binds read_manifest_list lazily)
        table,
        transaction,
        write,
    )

    def span(name, on_result=None):
        return lambda fn: tracer.wrap(name, fn, on_result)

    def add(key, n):
        def on_result(s, result, args, kwargs):
            s.counts[key] += n(result, args, kwargs)

        return on_result

    tracer.patch_method(
        catalog.FileSystemCatalog,
        "load_table",
        span(
            "catalog.load_table",
            add("metadata_bytes", lambda t, a, k: os.path.getsize(t.metadata_location)),
        ),
    )
    tracer.patch_method(catalog.FileSystemCatalog, "commit_table", span("catalog.commit_table"))
    tracer.patch_method(transaction.Transaction, "commit", span("transaction.commit"))

    tracer.patch_function(
        manifest,
        "read_manifest_list",
        span("manifest.read_manifest_list", add("list_reads", lambda r, a, k: 1)),
    )
    tracer.patch_function(
        avro, "read_ocf", span("avro.read_ocf", add("entries_decoded", lambda r, a, k: len(r[2])))
    )
    tracer.patch_function(manifest, "read_manifest", span("manifest.read_manifest"))

    def scan_manifest_factory(fn):
        def counted(path, keep, *args, **kwargs):
            def keep_counted(entry):
                tracer.count("entries_examined")
                return keep(entry)

            return fn(path, keep_counted, *args, **kwargs)

        return tracer.wrap("manifest.scan_manifest", counted)

    tracer.patch_function(manifest, "scan_manifest", scan_manifest_factory)
    tracer.patch_function(
        manifest,
        "write_manifest",
        span("manifest.write_manifest", add("bytes_written", lambda m, a, k: m.manifest_length)),
    )
    tracer.patch_function(
        manifest,
        "write_manifest_list",
        span(
            "manifest.write_manifest_list",
            add("bytes_written", lambda r, a, k: os.path.getsize(a[0] if a else k["path"])),
        ),
    )

    def evaluator_factory(fn):
        def factory(*args, **kwargs):
            return tracer.wrap_light("evaluators", fn(*args, **kwargs))

        return factory

    for name in ("manifest_evaluator", "inclusive_metrics_evaluator", "expression_evaluator"):
        tracer.patch_function(evaluators, name, evaluator_factory)

    tracer.patch_method(
        table.Scan,
        "plan_files",
        span("plan.plan_files", add("files_planned", lambda r, a, k: len(r))),
    )
    tracer.patch_method(table.Scan, "plan_files_auto", span("plan.plan_files_auto"))
    tracer.patch_function(table, "plan_files_distributed", span("plan.plan_files_distributed"))

    delete_files = tracer.light["plan.delete_files_matched"]

    def count_matched(result):
        delete_files[0] += len(result)

    def matcher_factory(fn):
        def build(*args, **kwargs):
            return tracer.wrap_light("plan.delete_match", fn(*args, **kwargs), count_matched)

        return tracer.wrap("plan.build_delete_matcher", build)

    tracer.patch_function(table, "build_delete_matcher", matcher_factory)
    tracer.patch_method(table.Scan, "to_df", span("read.to_df"))

    tracer.patch_function(
        write,
        "write_data_files",
        span(
            "write.write_data_files",
            lambda s, files, a, k: _count_files(s, files),
        ),
    )
    tracer.patch_function(
        write,
        "commit_data_files",
        span("write.commit_data_files", add("manifests_merged", _manifests_merged)),
    )
    tracer.patch_function(
        write, "commit_distributed_snapshot", span("write.commit_distributed_snapshot")
    )
    tracer.patch_function(write, "write_deletion_vectors", span("write.write_deletion_vectors"))

    if with_spark:
        from py4j.clientserver import ClientServerConnection
        from pyspark.sql.classic.dataframe import DataFrame

        def py4j_factory(fn):
            def send_command(*args, **kwargs):
                tracer.count("py4j")
                return fn(*args, **kwargs)

            return send_command

        tracer.patch_method(ClientServerConnection, "send_command", py4j_factory)
        for action in ("collect", "count", "toPandas", "toArrow"):
            tracer.patch_method(DataFrame, action, span("spark.action"))


def _manifests_merged(result, args, kwargs) -> int:
    """`manifests-merged` of the snapshot commit_data_files(table, ...)
    just committed; the commit updates the table object in place."""
    snap = args[0].metadata.current_snapshot()
    return int(snap.summary.properties.get("manifests-merged", 0)) if snap else 0


def _count_files(span, files) -> None:
    span.counts["files_written"] += len(files)
    span.counts["bytes_written"] += sum(f.file_size_in_bytes for f in files)
    span.counts["rows_written"] += sum(f.record_count for f in files)


def _ratio(num, den) -> float:
    return num / den if den else 0.0


def per_layer(tracer: Tracer, n_ops: int, spark_counts: dict, extra: dict) -> dict:
    """Per-layer metrics from the spans of `n_ops` traced workload ops.
    `spark_counts` holds jobs/stages/tasks/failed_tasks totals from the
    status tracker; `extra` the traced op latency and the overhead the
    run measured."""
    by_name = defaultdict(list)
    for s in tracer.spans:
        by_name[s.name].append(s)

    def self_ms(*names, where=None):
        return sum(
            s.self_ns for n in names for s in by_name[n] if where is None or where(s)
        ) / 1e6

    def calls(*names, where=None):
        return sum(1 for n in names for s in by_name[n] if where is None or where(s))

    def total(name, key, where=None):
        return sum(s.counts[key] for s in by_name[name] if where is None or where(s))

    def under_manifest_read(s):
        return s.parent is not None and s.parent.name in (
            "manifest.scan_manifest",
            "manifest.read_manifest",
        )

    def under_list_read(s):
        return s.parent is not None and s.parent.name == "manifest.read_manifest_list"

    per_op = 1.0 / max(n_ops, 1)
    manifest_reads = calls("manifest.scan_manifest", "manifest.read_manifest")
    decodes = calls("avro.read_ocf", where=under_manifest_read)
    memo_hits = calls("plan.plan_files", where=lambda s: s.counts["list_reads"] == 0)
    planned = total("plan.plan_files", "files_planned", where=lambda s: s.counts["list_reads"])
    examined = total("plan.plan_files", "entries_examined", where=lambda s: s.counts["list_reads"])
    match_calls, match_ns = tracer.light["plan.delete_match"]
    eval_calls, eval_ns = tracer.light["evaluators"]
    rows_written = total("write.write_data_files", "rows_written")
    to_df_calls = calls("read.to_df")
    return {
        "catalog.load_ms": self_ms("catalog.load_table") * per_op,
        "catalog.metadata_bytes": _ratio(
            total("catalog.load_table", "metadata_bytes"), calls("catalog.load_table")
        ),
        "catalog.commit_ms": self_ms("catalog.commit_table") * per_op,
        "catalog.commit_retries": calls(
            "catalog.commit_table", where=lambda s: s.error == "CommitConflictError"
        ),
        "transaction.commit_ms": self_ms("transaction.commit") * per_op,
        "manifest.list_reads": calls("manifest.read_manifest_list") * per_op,
        "manifest.list_read_ms": (
            self_ms("manifest.read_manifest_list") + self_ms("avro.read_ocf", where=under_list_read)
        )
        * per_op,
        "manifest.decodes": decodes * per_op,
        "manifest.decode_ms": self_ms("avro.read_ocf", where=under_manifest_read) * per_op,
        "manifest.entries_decoded": total("avro.read_ocf", "entries_decoded", where=under_manifest_read)
        * per_op,
        "manifest.cache_hit_ratio": _ratio(manifest_reads - decodes, manifest_reads),
        "manifest.scan_ms": self_ms("manifest.scan_manifest", "manifest.read_manifest") * per_op,
        "manifest.write_ms": self_ms("manifest.write_manifest", "manifest.write_manifest_list")
        * per_op,
        "manifest.bytes_written": (
            total("manifest.write_manifest", "bytes_written")
            + total("manifest.write_manifest_list", "bytes_written")
        )
        * per_op,
        "evaluators.calls": eval_calls * per_op,
        "evaluators.ms": eval_ns / 1e6 * per_op,
        "plan.ms": self_ms("plan.plan_files", "plan.plan_files_auto", "plan.plan_files_distributed")
        * per_op,
        "plan.entries_examined_per_file_planned": _ratio(examined, planned),
        "plan.memo_hit_ratio": _ratio(memo_hits, calls("plan.plan_files")),
        "plan.route_distributed": _ratio(
            calls("plan.plan_files_distributed"), calls("plan.plan_files_auto")
        ),
        "plan.delete_match_ms": (self_ms("plan.build_delete_matcher") + match_ns / 1e6) * per_op,
        "plan.delete_files_per_task": _ratio(tracer.light["plan.delete_files_matched"][0], match_calls),
        "read.to_df_ms": self_ms("read.to_df") * per_op,
        "read.py4j_calls": _ratio(total("read.to_df", "py4j"), to_df_calls),
        "spark.action_ms": self_ms("spark.action") * per_op,
        "spark.jobs": spark_counts.get("jobs", 0) * per_op,
        "spark.stages": spark_counts.get("stages", 0) * per_op,
        "spark.tasks": spark_counts.get("tasks", 0) * per_op,
        "spark.failed_tasks": spark_counts.get("failed_tasks", 0),
        "write.data_files_ms": self_ms("write.write_data_files") * per_op,
        "write.files_written": total("write.write_data_files", "files_written") * per_op,
        "write.bytes_per_row": _ratio(total("write.write_data_files", "bytes_written"), rows_written),
        "write.commit_ms": self_ms("write.commit_data_files", "write.commit_distributed_snapshot")
        * per_op,
        "write.manifests_merged": total("write.commit_data_files", "manifests_merged") * per_op,
        "write.dv_ms": self_ms("write.write_deletion_vectors") * per_op,
        "trace.op_ms_p50": extra["op_ms_p50_traced"],
        "trace.overhead_ratio": extra["overhead_ratio"],
    }


def spark_job_counts(spark, groups) -> dict:
    """Jobs, stages, tasks and failed tasks of the given job groups, from
    the status tracker (which keeps the most recent 1000 jobs/stages)."""
    st = spark.sparkContext.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for g in groups:
        for job_id in st.getJobIdsForGroup(g):
            info = st.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                stage = st.getStageInfo(stage_id)
                if stage is None:
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numTasks
                out["failed_tasks"] += stage.numFailedTasks
    return out
