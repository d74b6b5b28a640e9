"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload query_mor --seed 1 --seconds 10 --trace 0

Run from the repository root. The package is imported from there; the
workload's tables, Spark's scratch space and temporary files all live
under `.perfbench_work/` in that root and are removed at the end. A
traced run (`--trace 1`) also leaves its spans under `.perfbench_out/`.

The last line of standard output is
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The line
before it echoes the environment, sample counts and per-kind latencies.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "iceberg_go_distributed_spark"

# Claims of a gain are checked on this seed as well, which no tuning run uses.
HELD_OUT_SEED = 9173
# An op is rescaled by the median of the host-speed probes taken before
# it and the ones before the previous four ops: one probe is noisy, and
# the host's speed drifts over tens of seconds, not between two ops.
PROBE_WINDOW = 5
# Driver heap for local mode: the workloads hold a few MB of data, and
# the engine's 16g default exceeds small hosts.
DRIVER_MEM = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(workdir: str, extra: dict) -> None:
    """Settings that must be in place before the package or Spark load:
    executor Python workers import the package through PYTHONPATH, the
    session uses every CPU of this host and a heap that fits it, and all
    scratch files stay inside the work directory."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": shlex.join(
                [
                    "--conf", "spark.ui.showConsoleProgress=false",
                    "--conf", f"spark.sql.warehouse.dir={os.path.join(workdir, 'spark-warehouse')}",
                    "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                    "pyspark-shell",
                ]
            ),
            **extra,
        }
    )
    sys.path.insert(0, ROOT)


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def start_spark():
    from iceberg_go_distributed_spark.session import build_spark

    spark = build_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit. The JVM leaves when
    its stdin closes, which would otherwise happen only after this
    process has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def host_probe(spark):
    """The run's host-speed probe and what it reads on an idle host: a
    fixed Spark job when the workload drives Spark (a Python snippet
    tracks the JVM's share of an op poorly), else a Python snippet."""
    if spark is None:
        return stats.canary_ms, stats.CANARY_REF_MS
    return (lambda: stats.spark_canary_ms(spark)), stats.SPARK_CANARY_REF_MS


def run_loop(workload, seconds: float, tracer, spark, trace: bool, min_rounds: int = 0):
    """Closed loop with one client: at least `min_rounds` rounds, then
    until `seconds` have passed, stopping only at a round boundary. With
    `trace`, even-numbered rounds run traced and odd ones untraced, so
    the run measures its own overhead; each traced op's Spark jobs run in
    job group `perfbench-<op index>`."""
    round_len = len(workload.ROUND)
    ops = []  # (round, kind, seconds, traced, ok, host-speed scale)
    probes = collections.deque(maxlen=PROBE_WINDOW)
    probe, ref = host_probe(spark)
    deadline = time.perf_counter() + seconds
    i = 0
    while i % round_len or i < min_rounds * round_len or time.perf_counter() < deadline:
        rnd = i // round_len
        traced = trace and rnd % 2 == 0
        op = workload.next_op(i)
        if op.prepare is not None:
            op.prepare()
        if trace and spark is not None:
            spark.sparkContext.setJobGroup("perfbench-untraced", "probe")
        probes.append(probe())
        scale = ref / statistics.median(probes)
        if trace and spark is not None and traced:
            spark.sparkContext.setJobGroup(f"perfbench-{i}", op.kind)
        tracer.op = i
        if traced:
            tracer.activate()
        t0 = time.perf_counter()
        try:
            with tracer.span("op." + op.kind):
                out = op.run()
            ok = True
        except Exception:
            traceback.print_exc()
            ok = False
        dt = time.perf_counter() - t0
        tracer.deactivate()
        if ok:
            try:
                ok = bool(op.check(out))
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                print(f"op {i} ({op.kind}) returned a wrong answer", file=sys.stderr)
        ops.append((rnd, op.kind, dt, traced, ok, scale))
        i += 1
    return ops


def round_ms(ops, traced: bool, scaled: bool = True) -> list[float]:
    """Latency of each round, in ms; `scaled` rescales each op to
    idle-host speed by the probes taken before it."""
    by_round: dict = {}
    for rnd, _, dt, t, _, scale in ops:
        if t == traced:
            by_round[rnd] = by_round.get(rnd, 0.0) + dt * 1000.0 * (scale if scaled else 1.0)
    return list(by_round.values())


def timed_setups(workload, spark, repeats: int) -> list[tuple[float, float]]:
    """`repeats` fixture builds, each as (seconds rescaled to the host
    speed probed before and after it, raw seconds)."""
    probe, ref = host_probe(spark)
    marks = [statistics.median(probe() for _ in range(3))]
    out = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        workload.setup()
        dt = time.perf_counter() - t0
        marks.append(statistics.median(probe() for _ in range(3)))
        out.append((dt * ref * 2 / (marks[-2] + marks[-1]), dt))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    import pyarrow
    from tracing import Tracer
    from workloads import SETUP_REPEATS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    spark = None
    try:
        pin_environment(workdir, cls.env)
        t0 = time.perf_counter()
        spark = start_spark() if cls.uses_spark else None
        spark_start_s = time.perf_counter() - t0
        workload = cls(args.seed, os.path.join(workdir, "warehouse"), spark)
        setups = timed_setups(workload, spark, SETUP_REPEATS)

        tracer = Tracer()
        if args.trace:
            import layers

            layers.install(tracer, with_spark=spark is not None)
        warm = run_loop(workload, 0, tracer, spark, False, workload.WARMUP_ROUNDS)
        # a traced run needs a traced and an untraced round to compare
        ops = run_loop(workload, args.seconds, tracer, spark, bool(args.trace), 1 + args.trace)
        all_ops = warm + ops
        failed = sum(1 for op in all_ops if not op[4])
        untraced = round_ms(ops, traced=False)
        op_p50 = stats.percentile(untraced, 50)
        by_kind = {}
        for kind in sorted({op[1] for op in ops}):
            by_kind[kind] = stats.summarize(
                [dt * 1000.0 * sc for _, k, dt, t, _, sc in ops if k == kind and not t]
            )
        if args.trace:
            traced_p50 = stats.percentile(round_ms(ops, traced=True), 50)
            groups = [f"perfbench-{i}" for i, op in enumerate(ops) if op[3]]
            spark_counts = (
                layers.spark_job_counts(spark, groups) if spark is not None else {}
            )
            traced_rounds = len({op[0] for op in ops if op[3]})
            n_traced_ops = sum(1 for op in ops if op[3])
            metrics = layers.per_layer(
                tracer,
                n_traced_ops,
                spark_counts,
                {"op_ms_p50_traced": traced_p50, "overhead_ratio": traced_p50 / op_p50 - 1.0},
            )
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = {
                "setup_s": statistics.median(scaled for scaled, _ in setups),
                "op_ms_p50_scaled": op_p50,
                "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
                "stored_bytes_per_row": workload.stored_bytes_per_row(),
            }
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
        units = {m["name"]: m["unit"] for m in spec}
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "held_out_seed": HELD_OUT_SEED,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": cpus(),
            "master": spark.sparkContext.master if spark is not None else None,
            "spark": spark.version if spark is not None else None,
            "pyarrow": pyarrow.__version__,
            "loadavg": loadavg(),
            "spark_start_s": spark_start_s,
            "setup_times_s": [raw for _, raw in setups],
            "rounds": len(untraced),
            "round_ms": stats.summarize(untraced),
            "round_ms_unscaled": stats.summarize(round_ms(ops, traced=False, scaled=False)),
            "host_speed_scale_p50": statistics.median(op[5] for op in all_ops),
            "ops_by_kind_ms": by_kind,
            "failed_op_ratio": failed / len(all_ops),
        }
        if args.trace:
            detail["traced_rounds"] = traced_rounds
        print(json.dumps(detail))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": len(all_ops),
                    "failed": failed,
                    "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
