"""Tests of the benchmark's own logic, and a smoke run of each workload.

    python -m pytest perfbench -q

The smoke runs start Spark for the two Spark workloads (about a minute
each); the rest runs in seconds.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import stats  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402

# ------------------------------------------------------------------- stats


def test_percentile_matches_numpy_linear():
    rng = random.Random(3)
    for n in (1, 2, 7, 100, 101):
        xs = [rng.random() for _ in range(n)]
        for q in (50, 75, 90, 99):
            assert stats.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_tail_needs_ten_samples_beyond():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(99, 90) == 9
    assert stats.highest_reportable(100) == 90
    assert stats.highest_reportable(99) == 75
    assert stats.highest_reportable(1000) == 99
    assert stats.highest_reportable(39) is None
    assert stats.highest_reportable(40) == 75


def test_summarize_reports_count_and_omits_thin_tail():
    s = stats.summarize(list(range(15)))
    assert s == {"n": 15, "p50": 7.0, "tail_q": None, "tail": None}
    s = stats.summarize(list(range(100)))
    assert s["tail_q"] == 90 and s["tail"] == pytest.approx(89.1)


# ----------------------------------------------------------------- tracing


class FakeClock:
    def __init__(self):
        self.now = 0

    def __call__(self):
        return self.now


def test_self_time_subtracts_nested_children():
    clock = FakeClock()
    tr = Tracer(clock)
    tr.enabled = True

    def leaf(dt):
        clock.now += dt

    light = tr.wrap_light("hot", leaf)
    child = tr.wrap("child", lambda: (leaf(5), light(2)))
    with tr.span("root") as root:
        clock.now += 1
        child()
        clock.now += 3
        child()
        light(4)
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    assert root.duration_ns == 1 + 7 + 3 + 7 + 4
    assert root.self_ns == 1 + 3
    assert [s.self_ns for s in by_name["child"]] == [5, 5]
    assert all(s.parent is root for s in by_name["child"])
    assert tr.light["hot"] == [3, 8]


def test_counts_roll_up_to_enclosing_spans():
    tr = Tracer(FakeClock())
    tr.enabled = True
    inner = tr.wrap("inner", lambda: tr.count("py4j", 3))
    with tr.span("outer") as outer:
        inner()
        tr.count("py4j")
    assert outer.counts["py4j"] == 4


def test_failed_call_ends_its_span_with_the_error():
    tr = Tracer(FakeClock())
    tr.enabled = True

    def boom():
        raise KeyError("x")

    with pytest.raises(KeyError):
        tr.wrap("boom", boom)()
    assert tr.spans[0].error == "KeyError" and tr.stack == []


def test_patch_reaches_import_time_bindings_and_restores_them():
    from iceberg_go_distributed_spark.iceberg import manifest, table

    original = manifest.scan_manifest
    assert table.scan_manifest is original
    tr = Tracer()
    tr.patch_function(manifest, "scan_manifest", lambda fn: tr.wrap("scan", fn))
    tr.activate()
    try:
        assert table.scan_manifest is manifest.scan_manifest
        assert table.scan_manifest is not original
    finally:
        tr.deactivate()
    assert table.scan_manifest is original and manifest.scan_manifest is original


# ----------------------------------------------------------- plan_cold_wide


def brute_force_gids(lo, hi, n_files):
    return {
        g
        for g in range(n_files)
        if any(lo <= v < hi for v in range(g * 100, g * 100 + 100))
    }


def test_wide_closed_form_matches_brute_force():
    rng = random.Random(5)
    for _ in range(300):
        n_files = rng.randint(1, 40)
        lo = rng.randint(-150, n_files * 100 + 50)
        hi = lo + rng.randint(1, 800)
        assert workloads.wide_expected_gids(lo, hi, n_files) == brute_force_gids(lo, hi, n_files)


def test_wide_plan_matches_closed_form(tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "WIDE_MANIFESTS", 3)
    monkeypatch.setattr(workloads, "WIDE_FILES_PER_MANIFEST", 40)
    w = workloads.PlanColdWide(7, str(tmp_path))
    w.setup()
    for i in range(20):
        op = w.next_op(i)
        assert op.check(op.run())


def test_wide_ranges_select_one_to_five_percent_and_never_repeat():
    w = workloads.PlanColdWide(1, "unused")
    seen = set()
    for _ in range(500):
        lo, hi = w.draw_range()
        n = len(workloads.wide_expected_gids(lo, hi, w.n_files))
        assert w.n_files // 100 <= n <= w.n_files // 20 + 1
        assert (lo, hi) not in seen
        seen.add((lo, hi))


def test_same_seed_same_inputs():
    import data

    a = data.lineitem(np.random.default_rng(4), 50)
    b = data.lineitem(np.random.default_rng(4), 50)
    c = data.lineitem(np.random.default_rng(5), 50)
    assert a.equals(b) and not a.equals(c)


# ------------------------------------------------------------------- smoke


def run_bench(cwd, workload, trace, seconds=1):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [("plan_cold_wide", 0), ("plan_cold_wide", 1), ("query_mor", 0), ("ingest_mixed", 1)],
)
def test_smoke(workload, trace):
    proc = run_bench(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench(tmp_path, "plan_cold_wide", 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
