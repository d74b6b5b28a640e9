"""Percentile rules the benchmark reports with, and its host-speed probes."""

from __future__ import annotations

import gc
import math
import time

# A tail percentile is only reported when at least this many samples lie
# beyond it; with fewer, one slow op decides the figure.
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """The `q`-th percentile (0 < q < 100) of `values`, by linear
    interpolation between closest ranks (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of `n` sorted samples lie strictly above rank q/100·n."""
    return n - math.ceil(n * q / 100.0)


def highest_reportable(n: int, candidates=(99.9, 99, 95, 90, 75)) -> float | None:
    """The highest of `candidates` with at least MIN_BEYOND of `n` samples
    beyond it, or None when even the lowest has too few."""
    for q in candidates:
        if samples_beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def summarize(values) -> dict:
    """Median, the highest reportable tail and the sample count of a set
    of latencies. The tail is None when there are too few samples."""
    n = len(values)
    out = {"n": n, "p50": percentile(values, 50) if n else None, "tail_q": None, "tail": None}
    q = highest_reportable(n)
    if q is not None:
        out["tail_q"], out["tail"] = q, percentile(values, q)
    return out


# What `spark_canary_ms()` takes on an idle host of the same kind, with
# the session warmed up.
SPARK_CANARY_REF_MS = 80.0


def spark_canary_ms(spark) -> float:
    """Host speed probe for runs that drive Spark: one run of a fixed
    four-task Spark job (a sum over a generated range), in ms. Its work
    is the kind a query op hands Spark (py4j calls, job scheduling, task
    launch, generated code) and it runs no engine code."""
    t0 = time.perf_counter()
    spark.range(0, 200_000, 1, 4).selectExpr("sum(id % 7)").collect()
    return (time.perf_counter() - t0) * 1000.0


# What `canary_ms()` takes on an idle host of the kind the benchmark was
# written on (4 vCPUs, x86-64, CPython 3.11): the fast mode of its
# distribution there; a busy spell reads ~2.2 ms.
CANARY_REF_MS = 1.4


def canary_ms() -> float:
    """Host speed probe: the fastest of three runs of a fixed
    single-threaded Python snippet that allocates and reads small dicts,
    the kind of work the engine's driver does, in ms. On a shared host
    the speed drifts by up to 2x over tens of seconds as other tenants
    load it; this probe slows with it, so `CANARY_REF_MS / canary_ms()`
    taken next to a measurement rescales it to the speed of an idle
    host. The probe runs no engine code, so a change to the engine
    cannot move it."""
    best = math.inf
    # with the cyclic collector on, the probe would also time collections
    # whose cost grows with the process's heap rather than with host load
    gc.disable()
    try:
        for _ in range(3):
            t0 = time.perf_counter()
            objs = [{"a": j, "b": str(j), "c": (j, j + 1)} for j in range(3000)]
            sum(o["a"] + len(o["b"]) + o["c"][1] for o in objs)
            best = min(best, time.perf_counter() - t0)
    finally:
        gc.enable()
    return best * 1000.0
