"""Every engine name the traced benchmark run wraps still exists.

`perfbench/layers.py` hooks package functions and methods by attribute
(`Scan.plan_files_auto`, `table.plan_files_distributed`,
`manifest.scan_manifest`, ...). A rename makes `--trace 1` runs fail at
install time, which no untraced run would show. Metadata only: the
Spark hooks are left out.
"""

from __future__ import annotations

import os
import sys

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")


def test_perfbench_layer_hooks_install_and_restore(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    import layers
    from tracing import Tracer

    from iceberg_go_distributed_spark.iceberg import table

    tracer = Tracer()
    layers.install(tracer, with_spark=False)
    assert tracer._patches, "no hook was installed"
    original = table.plan_files_distributed
    tracer.activate()
    try:
        assert table.plan_files_distributed is not original
        assert table.plan_files_distributed.__wrapped__ is original
    finally:
        tracer.deactivate()
    assert table.plan_files_distributed is original
    assert all(getattr(owner, name) is orig for owner, name, orig, _ in tracer._patches)
    sys.modules.pop("layers", None)
    sys.modules.pop("tracing", None)
