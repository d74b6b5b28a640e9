"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The metric value is the total wall time of the headline set (lower is
better). Each query is fully materialized via a cheap count() so the whole
plan executes; results are not collected to the driver.

CLI (VERDICT r12 task 4 — single blocks are re-measurable):

    python bench.py                          # all blocks (driver default)
    python bench.py --blocks planning        # one block, ~1 min
    python bench.py --blocks headline,spj    # any comma subset

Every block records the 1-minute /proc/loadavg at its start and end
("loadavg": [start, end]) plus its raw per-attempt walls, so a number
taken on a contended box is self-diagnosing. The planning block also
reports the distributed/local RATIO per shape — the round-over-round
comparable signal (absolute planning walls scale with host speed; the
ratio only moves when the planners' relative cost moves).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q13_customer_distribution",
    "q18_large_volume_customers",
    "ev_sessionization",
    "ev_hourly_rollup",
    # table layer: distributed-snapshot write + pruned scan round-trip,
    # and the production partitioned path (fanout v3 write → delete_where
    # deletion vectors → partition-pruned merge-on-read scan)
    "ice_write_scan_filter",
    "ice_partitioned_write_mor",
    # LLM pipeline: banded near-dup and brute-force ANN
    "llm_dedup_minhash",
    "llm_ann_bruteforce",
]

BLOCKS = ("headline", "planning", "maintenance", "dml", "spj", "widescan")


def _loadavg() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return -1.0


def _canary_sec(spark) -> float:
    """Fixed pure-CPU Spark job (range→sum, no I/O, no shuffle) timed
    at block start: calibrates the host's speed envelope for THIS
    measurement. loadavg catches outside contention but not VM
    clock/steal drift — identical builds have measured 20%+ apart on
    an idle box — so cross-round comparisons should read query walls
    as query/canary RATIOS, the way planning already uses dist/local.
    main() warms the job's codegen once before any block measures."""
    t0 = time.perf_counter()
    spark.range(500_000_000).selectExpr("sum(id * 2)").collect()
    return round(time.perf_counter() - t0, 4)


def run_headline(spark, sf_dir):
    from iceberg_go_distributed_spark.queries import all_queries

    reg = all_queries()

    # Warm the fixed startup costs so timings measure the engine, not
    # process launch: JVM + codegen (q6), parquet footers of every table
    # the headline set touches, and the executor Python-worker pool
    # (mapInArrow spawns workers on first use; the distributed write
    # path pays ~2s once per session otherwise).
    reg["q6_forecast_revenue"].fn(spark, sf_dir).count()
    for tbl in ("documents", "embeddings", "customer", "orders", "events"):
        spark.read.parquet(os.path.join(sf_dir, f"{tbl}.parquet")).count()
    warm = spark.range(32).repartition(8)
    warm.mapInArrow(lambda it: it, warm.schema).count()

    # best-of-3 per query: single runs at toy SF swing wildly on GC,
    # page-cache luck, and (on shared VMs) multi-second CPU-steal stalls;
    # the minimum is the engine's repeatable cost.
    # Attempts are ROUND-ROBINED across the headline set (pass 1 of every
    # query, then pass 2, then pass 3) instead of back-to-back, so a
    # 30-60 s host stall wave degrades one pass of many queries — which
    # the per-query minimum discards — rather than every attempt of one
    # query.
    # Cache is cleared between runs so operator-internal persists
    # (minhash shingles/signatures) are rebuilt, not reused.
    # All raw timings are reported next to the best so a run taken on
    # a loaded machine is self-diagnosing: a large spread across
    # attempts means external contention, not an engine regression.
    names = [n for n in HEADLINE if n in reg]
    raw = {name: [] for name in names}
    for _ in range(3):
        for name in names:
            t0 = time.perf_counter()
            df = reg[name].fn(spark, sf_dir)
            df.count()
            raw[name].append(round(time.perf_counter() - t0, 4))
            spark.catalog.clearCache()
    timings = {name: round(min(a), 4) for name, a in raw.items()}
    return timings, raw


def run_planning(spark):
    # ---- scan-PLANNING wall time at wide metadata (separate block; NOT
    # part of the headline total so round-over-round totals stay
    # comparable). Driver-side metadata planning is the one credible
    # 100 TB bottleneck no data-plane query exercises: a synthetic
    # 400-manifest / 100,000-file snapshot (metadata only — the data
    # files are fictitious; planning never opens them) with a filter on
    # a DATA column, so every manifest survives manifest-level pruning
    # and the planner must entry-decode all of them. Records the
    # driver-local planner (ref scanner.go:343-406) vs the planner's
    # executor leg (`plan_files_distributed`, one mapInArrow job, forced
    # with every manifest cold) side by side, plus the route
    # plan_files_auto took. Routing counts the cold entries that survive
    # manifest pruning; SCALE.md "Planning crossover" has the sweep
    # behind `table._EXECUTOR_PLAN_MIN_ENTRIES`.
    import shutil
    import tempfile

    from iceberg_go_distributed_spark.iceberg.planbench import (
        build_wide_metadata_table,
        selective_filter,
    )
    from iceberg_go_distributed_spark.iceberg import manifest as MAN
    from iceberg_go_distributed_spark.iceberg import table as TBL

    def plan_on_executors(scan):
        """`scan.plan_files_auto` with its executor leg forced: the
        constant at 0 and the driver's manifest cache emptied, so every
        surviving manifest is cold. Both are restored afterwards."""
        saved = (
            TBL._EXECUTOR_PLAN_MIN_ENTRIES,
            MAN._OCF_CACHE,
            MAN._OCF_CACHE_ENTRY_COUNT,
        )
        TBL._EXECUTOR_PLAN_MIN_ENTRIES = 0
        MAN._OCF_CACHE, MAN._OCF_CACHE_ENTRY_COUNT = {}, 0
        try:
            return scan.plan_files_auto(spark)
        finally:
            (
                TBL._EXECUTOR_PLAN_MIN_ENTRIES,
                MAN._OCF_CACHE,
                MAN._OCF_CACHE_ENTRY_COUNT,
            ) = saved

    def bench_planning_shape(
        n_manifests, files_per_manifest, attempts, attempts_local=None
    ):
        """One wide-metadata shape: build, warm, time local vs
        distributed (equality-asserted) and the auto route.
        `attempts_local` lets the slow O(files) local baseline run
        fewer attempts than the ~seconds-scale distributed/auto paths
        (r11 lesson: the 500k point ran everything single-shot, and one
        contended attempt read as a 2.4x planner regression — the
        cheap paths are now always best-of-N)."""
        wh = tempfile.mkdtemp(prefix="plan-wide-")
        try:
            pt = build_wide_metadata_table(wh, n_manifests, files_per_manifest)
            flt, _ = selective_filter(n_manifests, files_per_manifest)
            scan = pt.scan(row_filter=flt)
            plan_on_executors(scan)  # warm workers

            raw_attempts = {}

            def best_of(fn, n=None, label=None):
                # best-of-N: the planning block is not round-robined with
                # the headline set, so a single host-steal stall would
                # otherwise masquerade as a planner regression. The plan
                # memo is cleared per attempt — these rows measure the
                # PLANNERS; the memo gets its own plan_cached_sec row.
                times, out = [], None
                for _ in range(n or attempts):
                    TBL._PLAN_CACHE.clear()
                    t0 = time.perf_counter()
                    out = fn()
                    times.append(time.perf_counter() - t0)
                if label:
                    raw_attempts[label] = [round(t, 4) for t in times]
                return out, round(min(times), 4)

            local_tasks, local_sec = best_of(
                scan.plan_files, n=attempts_local, label="local"
            )
            dist_tasks, dist_sec = best_of(
                lambda: plan_on_executors(scan), label="distributed"
            )
            assert sorted(t.file.file_path for t in local_tasks) == sorted(
                t.file.file_path for t in dist_tasks
            ), "distributed planner diverged from local"
            # spy on the executor planner: the route auto actually took
            routed = []
            orig = TBL.plan_files_distributed
            TBL.plan_files_distributed = lambda s, sp, ms: (
                routed.append(1) or orig(s, sp, ms)
            )
            try:
                auto_tasks, auto_sec = best_of(
                    lambda: scan.plan_files_auto(spark), label="auto"
                )
            finally:
                TBL.plan_files_distributed = orig
            assert len(auto_tasks) == len(local_tasks)
            # repeat-scan memo: the second
            # plan of an unchanged table version is near-free — the
            # driver bench itself is a repeated-scan workload
            t0 = time.perf_counter()
            cached_tasks = scan.plan_files_auto(spark)
            cached_sec = round(time.perf_counter() - t0, 4)
            assert len(cached_tasks) == len(local_tasks)
            return {
                "manifests": n_manifests,
                "data_files": n_manifests * files_per_manifest,
                "matched_files": len(local_tasks),
                "local_sec": local_sec,
                "distributed_sec": dist_sec,
                "auto_route_sec": auto_sec,
                "plan_cached_sec": cached_sec,
                # distributed/local ratio: host speed cancels out, so
                # THIS is the number to compare across rounds (r11/r12's
                # phantom planning regressions were absolute walls moving
                # with host load while the ratio held)
                "dist_local_ratio": (
                    round(dist_sec / local_sec, 4) if local_sec else None
                ),
                "attempts": raw_attempts,
                # which planner plan_files_auto took (after the local
                # attempts warmed the manifest cache)
                "auto_route": "distributed" if routed else "local",
            }
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    # primary shape (best-of-2, round-over-round comparable) plus a 5×
    # shape so the "distributed planning stays near-flat in file count"
    # claim is a measured slope, not a single point. At 5× the local
    # planner alone costs ~40 s per attempt, so only IT stays
    # single-shot; the seconds-scale distributed/auto paths run
    # best-of-3 there (r11's single-shot 500k point turned one
    # contended attempt into a phantom 2.4× planner regression).
    planning = bench_planning_shape(400, 250, attempts=2)
    planning["curve"] = [
        {k: v for k, v in planning.items() if k != "curve"},
        bench_planning_shape(2000, 250, attempts=3, attempts_local=1),
    ]
    return planning


def _lineitem(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))


def run_maintenance(spark, sf_dir):
    # ---- MAINTENANCE wall time (separate block; NOT in the headline
    # total): the delete-debt ops this engine runs between queries at
    # production scale, measured once per round on a lineitem-sized v3
    # table so their cost is evidence, not a guess — upsert debt →
    # convert_equality_deletes (key matching + DV write, no data
    # rewrite), delete_where scatter → rewrite_position_deletes (DV
    # repack), and a full z-order recluster (the expensive tier).
    import shutil
    import tempfile

    from iceberg_go_distributed_spark.iceberg import expressions as E
    from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    li = _lineitem(spark, sf_dir)
    li_rows = li.count()

    def run_maintenance_once():
        """One full build→upsert→convert→delete→repack→recluster pass in
        a fresh warehouse; returns (timings, counts). Counts ride along
        so a timing swing is self-diagnosing (same work, or not)."""
        mwh = tempfile.mkdtemp(prefix="maint-bench-")
        try:
            mcat = FileSystemCatalog(mwh)
            mt = mcat.create_table("db.maint", schema_from_spark(li.schema))
            mt.upgrade_format_version(3)
            mt.append(li.repartition(8))
            up = li.where("l_orderkey % 20 = 0")  # ~5% of keys replaced
            mt.upsert(up, ["l_orderkey", "l_linenumber"])
            t0 = time.perf_counter()
            assert mt.convert_equality_deletes(spark)
            eq_convert_sec = round(time.perf_counter() - t0, 4)
            mt.refresh()
            sm = mt.current_snapshot().summary.properties
            counts = {
                "eq_files_converted": int(
                    sm.get("converted-equality-delete-files", "0")
                ),
                "dvs_written": int(sm.get("added-dvs", "0")),
            }
            mt.delete_where(spark, E.equal("l_returnflag", "R"))
            mt.refresh()
            t0 = time.perf_counter()
            dv_consolidate = mt.rewrite_position_deletes(spark)
            dv_consolidate_sec = round(time.perf_counter() - t0, 4)
            mt.refresh()
            sm = mt.current_snapshot().summary.properties
            counts["dvs_after_consolidation"] = int(
                sm.get("total-delete-files", "0")
            )
            counts["data_files"] = int(sm.get("total-data-files", "0"))
            t0 = time.perf_counter()
            assert mt.rewrite_data_files(
                spark, strategy="zorder", sort_cols=["l_orderkey", "l_partkey"]
            )
            zorder_sec = round(time.perf_counter() - t0, 4)
            return (
                {
                    "eq_convert_sec": eq_convert_sec,
                    "dv_consolidate_sec": (
                        dv_consolidate_sec if dv_consolidate else None
                    ),
                    "zorder_rewrite_sec": zorder_sec,
                },
                counts,
            )
        finally:
            shutil.rmtree(mwh, ignore_errors=True)

    # best-of-2 over FULL passes (each op consumes its input state, so
    # attempts rebuild from scratch): r9's single-attempt block recorded
    # a 0.64→2.45 s eq_convert swing on untouched code that best-of-N
    # would have smoothed; counts must match across attempts or the
    # number is measuring different work
    m_attempts = [run_maintenance_once() for _ in range(2)]
    (t1, c1), (t2, c2) = m_attempts
    return {
        "rows": li_rows,
        **{
            k: (
                round(min(x for x in (t1[k], t2[k]) if x is not None), 4)
                if (t1[k] is not None or t2[k] is not None)
                else None
            )
            for k in t1
        },
        "attempts": [t1, t2],
        "counts": c1,
        "counts_stable": c1 == c2,
    }


def run_dml(spark, sf_dir):
    # ---- DML wall time (separate block; NOT in the headline total):
    # the flagship MERGE shape — banded source into a range-clustered
    # target (pruning active), matched update + delete + insert + a
    # by-source purge — best-of-2 over fresh builds, with the planned-
    # file fraction recorded so a timing swing is self-diagnosing.
    import shutil
    import tempfile

    from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    li = _lineitem(spark, sf_dir)

    def run_merge_once():
        mwh = tempfile.mkdtemp(prefix="dml-bench-")
        try:
            mcat = FileSystemCatalog(mwh)
            mt = mcat.create_table("db.dml", schema_from_spark(li.schema))
            mt.upgrade_format_version(3)
            # range-clustered on l_orderkey so the banded source prunes
            from pyspark.sql import functions as SF

            mt.append(li.repartitionByRange(8, SF.col("l_orderkey")))
            mt.refresh()
            lo = li.agg(SF.max("l_orderkey")).collect()[0][0] // 10
            src = (
                li.where(SF.col("l_orderkey").between(lo, lo + lo // 4))
                .select("l_orderkey", "l_linenumber")
                # the synthetic lineitem can repeat (orderkey, linenumber)
                .dropDuplicates(["l_orderkey", "l_linenumber"])
                .withColumn("bump", SF.lit(1.0))
            )
            t0 = time.perf_counter()
            mt.merge(
                spark, src, on=["l_orderkey", "l_linenumber"],
                matched_update={"l_quantity": "target.l_quantity + source.bump"},
                matched_delete_condition="source.l_orderkey % 97 = 0",
                not_matched_insert=False,
                not_matched_by_source_delete_condition=(
                    "target.l_orderkey % 9973 = 0"
                ),
            )
            sec = round(time.perf_counter() - t0, 4)
            mt.refresh()
            sm = mt.current_snapshot().summary.properties
            return sec, {
                "added_records": int(sm.get("added-records", "0")),
                "eq_deletes": int(sm.get("added-equality-deletes", "0")),
            }
        finally:
            shutil.rmtree(mwh, ignore_errors=True)

    def run_spj_merge_once():
        # the same MERGE through the storage-partitioned legs: target
        # and source are Iceberg tables bucket[8] on l_orderkey, so
        # the matched/anti joins run as per-bucket task passes with no
        # exchange or broadcast (timed so the SPJ-merge path has a
        # round-over-round signal; the route is asserted, not assumed).
        # A like-for-like control merges the SAME bucketed source
        # through the regular path (scan().to_df — what a user without
        # the route would run) into a fresh identical target; the pair
        # of walls compares route vs no-route on identical data, and
        # identical snapshot counts prove identical work.
        from pyspark.sql import functions as SF

        from iceberg_go_distributed_spark.iceberg.partitioning import (
            spec_from,
        )
        from iceberg_go_distributed_spark.iceberg.write import (
            _spj_merge_route,
        )

        mwh = tempfile.mkdtemp(prefix="dml-spj-bench-")
        try:
            mcat = FileSystemCatalog(mwh)
            schema = schema_from_spark(li.schema)

            def fresh_target(name):
                mt = mcat.create_table(
                    name,
                    schema,
                    spec=spec_from(schema, ("l_orderkey", "bucket[8]")),
                )
                mt.upgrade_format_version(3)
                # the r14 source-size gate would broadcast this sf-sized
                # source; force the SPJ legs — the control leg IS the
                # gate's broadcast path, so the pair shows the crossover
                mt.properties["write.merge.spj.min-source-rows"] = "0"
                mt.append(li)
                mt.refresh()
                return mt

            lo = li.agg(SF.max("l_orderkey")).collect()[0][0] // 10
            src_df = (
                li.where(SF.col("l_orderkey").between(lo, lo + lo // 4))
                .select("l_orderkey", "l_linenumber")
                .dropDuplicates(["l_orderkey", "l_linenumber"])
                .withColumn("bump", SF.lit(1.0))
            )
            sschema = schema_from_spark(src_df.schema)
            st = mcat.create_table(
                "db.dml_spj_src",
                sschema,
                spec=spec_from(sschema, ("l_orderkey", "bucket[8]")),
            )
            st.append(src_df)
            st.refresh()

            def merge_into(mt, source):
                t0 = time.perf_counter()
                mt.merge(
                    spark, source, on=["l_orderkey", "l_linenumber"],
                    matched_update={
                        "l_quantity": "target.l_quantity + source.bump"
                    },
                    matched_delete_condition="source.l_orderkey % 97 = 0",
                    not_matched_insert=False,
                    not_matched_by_source_delete_condition=(
                        "target.l_orderkey % 9973 = 0"
                    ),
                )
                sec = round(time.perf_counter() - t0, 4)
                mt.refresh()
                sm = mt.current_snapshot().summary.properties
                return sec, {
                    "added_records": int(sm.get("added-records", "0")),
                    "eq_deletes": int(sm.get("added-equality-deletes", "0")),
                }

            mt = fresh_target("db.dml_spj")
            assert (
                _spj_merge_route(mt, spark, st, ["l_orderkey", "l_linenumber"])
                is not None
            ), "SPJ merge route did not engage"
            spj_sec, spj_counts = merge_into(mt, st)
            mt2 = fresh_target("db.dml_spj_ctl")
            reg_sec, reg_counts = merge_into(mt2, st.scan().to_df(spark))
            assert spj_counts == reg_counts, (
                f"route changed the work: {spj_counts} vs {reg_counts}"
            )
            return spj_sec, reg_sec, spj_counts
        finally:
            shutil.rmtree(mwh, ignore_errors=True)

    d_attempts = [run_merge_once() for _ in range(2)]
    s_attempts = [run_spj_merge_once() for _ in range(2)]
    return {
        "merge_sec": round(min(a[0] for a in d_attempts), 4),
        "attempts": [a[0] for a in d_attempts],
        "counts": d_attempts[0][1],
        "counts_stable": d_attempts[0][1] == d_attempts[1][1],
        "spj_merge_sec": round(min(a[0] for a in s_attempts), 4),
        "spj_merge_regular_sec": round(min(a[1] for a in s_attempts), 4),
        "spj_attempts": [[a[0], a[1]] for a in s_attempts],
        "spj_counts": s_attempts[0][2],
        "spj_counts_stable": s_attempts[0][2] == s_attempts[1][2],
    }


def run_spj(spark, sf_dir):
    # ---- storage-partitioned join (NOT in the headline total): the
    # write-time bucket layout vs the runtime shuffle, on the one join
    # shape that cannot broadcast at 100 TB — fact⋈fact (lineitem ⋈
    # orders on orderkey). Both tables written bucket[16] once (build
    # time excluded: the layout is paid at write, amortized over every
    # subsequent join); then best-of-2 of (a) the per-bucket in-task
    # SPJ and (b) the same join through to_df() with auto-broadcast
    # disabled, which is what a fact⋈fact shuffle costs.
    import shutil
    import tempfile

    from iceberg_go_distributed_spark.iceberg.catalog import FileSystemCatalog
    from iceberg_go_distributed_spark.iceberg.spj import storage_partitioned_join
    from iceberg_go_distributed_spark.iceberg.types import schema_from_spark

    li = _lineitem(spark, sf_dir)

    swh = tempfile.mkdtemp(prefix="spj-bench-")
    try:
        from pyspark.sql import functions as SF

        from iceberg_go_distributed_spark.iceberg.partitioning import spec_from

        scat = FileSystemCatalog(swh)
        li_cols = li.select("l_orderkey", "l_quantity", "l_extendedprice")
        ords = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
            "o_orderkey", "o_totalprice"
        )
        li_sch = schema_from_spark(li_cols.schema)
        o_sch = schema_from_spark(ords.schema)
        st_li = scat.create_table(
            "db.spj_li", li_sch, spec=spec_from(li_sch, ("l_orderkey", "bucket[16]"))
        )
        st_o = scat.create_table(
            "db.spj_o", o_sch, spec=spec_from(o_sch, ("o_orderkey", "bucket[16]"))
        )
        st_li.append(li_cols)
        st_o.append(ords)

        # identical downstream work on both paths: a revenue-style
        # aggregate over the SAME projected columns, so neither side
        # gets a count-only column-pruning freebie. DECIMAL, not double:
        # fp addition order differs between the two plans, so a double
        # sum over 600k rows disagrees in the last bits — decimal is
        # associative and must match EXACTLY.
        agg_expr = SF.sum(
            (
                SF.col("l_quantity").cast("decimal(12,2)")
                * SF.col("o_totalprice").cast("decimal(12,2)")
            ).cast("decimal(30,4)")
        ).alias("v")

        def run_spj_once():
            t0 = time.perf_counter()
            row = (
                storage_partitioned_join(
                    spark,
                    st_li,
                    st_o,
                    on=("l_orderkey", "o_orderkey"),
                    left_select=["l_orderkey", "l_quantity"],
                    right_select=["o_orderkey", "o_totalprice"],
                )
                .agg(agg_expr)
                .first()
            )
            return round(time.perf_counter() - t0, 4), round(float(row.v), 2)

        def run_shuffle_once():
            old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                t0 = time.perf_counter()
                row = (
                    st_li.scan()
                    .select("l_orderkey", "l_quantity")
                    .to_df(spark)
                    .join(
                        st_o.scan().select("o_orderkey", "o_totalprice").to_df(spark),
                        SF.col("l_orderkey") == SF.col("o_orderkey"),
                        "inner",
                    )
                    .agg(agg_expr)
                    .first()
                )
                return round(time.perf_counter() - t0, 4), round(float(row.v), 2)
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

        # fused join→aggregate (r12): the per-KEY grouped aggregate is
        # the shape where plain SPJ still pays a post-join exchange —
        # the fused operator folds final aggregates into the join task.
        # count-only aggs so both paths do identical exact-integer work
        # (a float sum's addition order differs between plans).
        from iceberg_go_distributed_spark.iceberg.spj import (
            storage_partitioned_join_agg,
        )

        def run_fused_once():
            t0 = time.perf_counter()
            row = (
                storage_partitioned_join_agg(
                    spark,
                    st_li,
                    st_o,
                    on=("l_orderkey", "o_orderkey"),
                    aggs={"n": ("l_quantity", "count")},
                    left_select=["l_orderkey", "l_quantity"],
                    right_select=["o_orderkey"],
                )
                .agg(SF.sum("n").alias("t"), SF.count("*").alias("g"))
                .first()
            )
            return round(time.perf_counter() - t0, 4), (int(row.t), int(row.g))

        def run_twostep_once():
            t0 = time.perf_counter()
            row = (
                storage_partitioned_join(
                    spark,
                    st_li,
                    st_o,
                    on=("l_orderkey", "o_orderkey"),
                    left_select=["l_orderkey", "l_quantity"],
                    right_select=["o_orderkey"],
                )
                .groupBy("l_orderkey")
                .agg(SF.count("l_quantity").alias("n"))
                .agg(SF.sum("n").alias("t"), SF.count("*").alias("g"))
                .first()
            )
            return round(time.perf_counter() - t0, 4), (int(row.t), int(row.g))

        # round-robin the attempts so a host load wave degrades one
        # pass of BOTH paths (the per-path minimum discards it) instead
        # of every attempt of one path
        s_attempts, h_attempts, f_attempts, t_attempts = [], [], [], []
        for _ in range(3):
            s_attempts.append(run_spj_once())
            h_attempts.append(run_shuffle_once())
            f_attempts.append(run_fused_once())
            t_attempts.append(run_twostep_once())
        spj_sec = min(a[0] for a in s_attempts)
        shuf_sec = min(a[0] for a in h_attempts)
        fused_sec = min(a[0] for a in f_attempts)
        two_sec = min(a[0] for a in t_attempts)
        return {
            "spj_join_sec": spj_sec,
            "shuffle_join_sec": shuf_sec,
            "speedup": round(shuf_sec / spj_sec, 3) if spj_sec else None,
            "fused_join_agg_sec": fused_sec,
            "join_then_groupby_sec": two_sec,
            "fused_speedup": round(two_sec / fused_sec, 3) if fused_sec else None,
            "attempts": {
                "spj": [a[0] for a in s_attempts],
                "shuffle": [a[0] for a in h_attempts],
                "fused": [a[0] for a in f_attempts],
                "twostep": [a[0] for a in t_attempts],
            },
            "agg_value": s_attempts[0][1],
            "values_match": len({a[1] for a in s_attempts + h_attempts}) == 1,
            "fused_values_match": len({a[1] for a in f_attempts + t_attempts}) == 1,
        }
    finally:
        shutil.rmtree(swh, ignore_errors=True)


def run_widescan(spark):
    # ---- wide-scan EXECUTION (separate block; NOT in the headline
    # total): the r13 million-file leg, sampled at 30k real files so
    # the round-over-round signal exists without the 1M build cost
    # (SCALE.md r13 holds the full curve). Measures the streaming
    # plan→read (descriptors never collect), the collected plan + wide
    # read, and metadata-only count. The LISTED path is not timed here
    # — it is O(files) driver-side (~40 s at 30k) and its curve is
    # pinned in SCALE.md.
    import shutil
    import tempfile

    from iceberg_go_distributed_spark.iceberg.planbench import (
        build_wide_data_table,
    )

    n_files = 30_000
    wh = tempfile.mkdtemp(prefix="widescan-bench-")
    try:
        t = build_wide_data_table(wh, spark, n_files, files_per_manifest=500)
        # the sample sits below the production default (100k) — lower
        # the threshold so the wide routes engage at bench scale
        t.properties["read.spark.max-listed-files"] = str(n_files // 3)

        def best_of(fn, n=2):
            times, out = [], None
            for _ in range(n):
                t0 = time.perf_counter()
                out = fn()
                times.append(round(time.perf_counter() - t0, 4))
            return out, min(times), times

        assert t.scan()._stream_plan_eligible()
        rows, stream_sec, stream_attempts = best_of(
            lambda: t.scan().to_df(spark).count()
        )
        assert rows == 2 * n_files, rows
        cnt, meta_count_sec, meta_attempts = best_of(
            lambda: t.scan().count(spark)
        )
        assert cnt == rows

        # collected plan + wide read (the filtered-scan shape): force by
        # disabling streaming via a row filter that keeps every row
        from iceberg_go_distributed_spark.iceberg import expressions as E

        scan = t.scan(row_filter=E.greater_than_or_equal("v", 0))
        _, collected_sec, collected_attempts = best_of(
            lambda: scan.to_df(spark).count()
        )
        return {
            "files": n_files,
            "rows": rows,
            "stream_count_sec": stream_sec,
            "metadata_count_sec": meta_count_sec,
            "collected_count_sec": collected_sec,
            "attempts": {
                "stream": stream_attempts,
                "metadata": meta_attempts,
                "collected": collected_attempts,
            },
        }
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(
        description=(
            "iceberg-go-distributed-spark benchmark. Default runs every "
            "block and prints a detail JSON line followed by the compact "
            "summary line the driver parses (LAST line)."
        )
    )
    ap.add_argument(
        "--blocks",
        default=",".join(BLOCKS),
        help=f"comma-separated subset of {','.join(BLOCKS)} (default: all)",
    )
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        help="testdata directory (default: $SPARK_GRAFT_SF_DIR or sf0.1)",
    )
    args = ap.parse_args(argv)
    blocks = [b.strip() for b in args.blocks.split(",") if b.strip()]
    unknown = [b for b in blocks if b not in BLOCKS]
    if unknown:
        ap.error(f"unknown blocks {unknown}; valid: {', '.join(BLOCKS)}")

    sf_dir = args.sf_dir
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.1

    from iceberg_go_distributed_spark.session import build_spark

    spark = build_spark(app_name="bench")

    _canary_sec(spark)  # warm the canary's codegen once

    def timed_block(name, fn):
        """Run one block with loadavg markers ([start, end] 1-min load —
        a high or rising load marks the measurement as taken on a
        contended box; r12's planning artifact was, and nobody could
        tell) and a canary_sec host-speed sample at block start."""
        canary = _canary_sec(spark)
        la0 = _loadavg()
        out = fn()
        la1 = _loadavg()
        if isinstance(out, dict):
            out["loadavg"] = [la0, la1]
            out["canary_sec"] = canary
        return out

    detail: dict = {"detail": True}
    summary: dict = {"metric": "headline_total_sec", "unit": "sec", "sf": sf}
    # parallelism contract, echoed so the driver can verify directly that
    # $SPARK_GRAFT_CPUS took effect (r14's suspect_cpus_ignored fired on
    # flat headline scaling that is really the single-row-group testdata
    # floor — see OPTIMIZATION_r14.md "Measurement setup"; these fields
    # are the direct evidence the heuristic lacked)
    summary["master"] = spark.sparkContext.master
    summary["default_parallelism"] = spark.sparkContext.defaultParallelism
    summary["cpus_env"] = os.environ.get("SPARK_GRAFT_CPUS")

    if "headline" in blocks:
        canary = _canary_sec(spark)
        la0 = _loadavg()
        timings, raw = run_headline(spark, sf_dir)
        total = round(sum(timings.values()), 4)
        # Contention diagnostic over attempts 2+ only: a query's FIRST
        # attempt pays its plan-specific whole-stage-codegen compile (the
        # session warm-up above covers JVM/footers/worker-pool, not each
        # plan's janino pass), so run 1 is structurally slower on any
        # machine and would mislabel warm-up as contention. The full
        # raw_runs still expose it.
        spread = round(sum(max(a[1:]) - min(a[1:]) for a in raw.values()), 4)
        detail["raw_runs"] = raw
        detail["headline_loadavg"] = [la0, _loadavg()]
        detail["headline_canary_sec"] = canary
        summary["value"] = total
        summary["canary_sec"] = canary
        summary["queries"] = timings
        summary["spread_sec"] = spread
    if "planning" in blocks:
        planning = timed_block("planning", lambda: run_planning(spark))
        detail["planning"] = planning
        summary["planning_distributed_sec"] = planning.get("distributed_sec")
        summary["planning_dist_local_ratio"] = planning.get("dist_local_ratio")
    if "maintenance" in blocks:
        maintenance = timed_block(
            "maintenance", lambda: run_maintenance(spark, sf_dir)
        )
        detail["maintenance"] = maintenance
        summary["maintenance_eq_convert_sec"] = maintenance.get("eq_convert_sec")
    if "dml" in blocks:
        dml = timed_block("dml", lambda: run_dml(spark, sf_dir))
        detail["dml"] = dml
        summary["dml_merge_sec"] = dml.get("merge_sec")
        summary["dml_spj_merge_sec"] = dml.get("spj_merge_sec")
    if "spj" in blocks:
        spj = timed_block("spj", lambda: run_spj(spark, sf_dir))
        detail["spj"] = spj
        summary["spj_speedup"] = spj.get("speedup")
    if "widescan" in blocks:
        widescan = timed_block("widescan", lambda: run_widescan(spark))
        detail["widescan"] = widescan
        summary["widescan_stream_count_sec"] = widescan.get("stream_count_sec")

    # Two JSON lines. The driver tail-captures stdout and parses the
    # LAST line, so the detail blob (raw_runs, the planning curve,
    # maintenance/dml attempts) goes FIRST and the compact summary —
    # metric/value/queries/spread/sf plus one-number rollups of the
    # detail blocks — goes LAST and stays small (r10's single fat line
    # outgrew the capture window and recorded parsed:null).
    print(json.dumps(detail))
    print(json.dumps(summary))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
