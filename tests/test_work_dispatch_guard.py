"""Guard for the one executor work dispatch (IMPLEMENTATION.md "One work
dispatch, one DV writer"): a frame the driver builds from its own rows is
an Arrow `table._rows_frame`, and executor work over one runs through
`table._map_rows`, which also ships the object-store config. The older
shapes (Python rows or a pandas frame in `createDataFrame`, a
`repartition(min(n, K))` ahead of the work, `iterrows` in the task) must
not come back. Frames over user data are out of scope."""
from __future__ import annotations

import ast
import glob
import os

import iceberg_go_distributed_spark.iceberg as _pkg

_SOURCES = sorted(glob.glob(os.path.join(os.path.dirname(_pkg.__file__), "*.py")))


def _functions_by_line(tree):
    """Line → name of the innermost enclosing top-level function."""
    owner = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            for sub in ast.walk(node):
                if hasattr(sub, "lineno"):
                    owner[sub.lineno] = node.name
    return owner


def _is_rows_argument(arg) -> bool:
    if isinstance(arg, ast.List):
        return bool(arg.elts)
    if isinstance(arg, (ast.ListComp, ast.GeneratorExp, ast.SetComp)):
        return True
    # pd.DataFrame(...) / pandas.DataFrame(...)
    return (
        isinstance(arg, ast.Call)
        and isinstance(arg.func, ast.Attribute)
        and arg.func.attr == "DataFrame"
    )


def _violations(path):
    src = open(path).read()
    tree = ast.parse(src)
    owner = _functions_by_line(tree)
    name = os.path.basename(path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "iterrows":
            out.append((node.lineno, "iterrows"))
        if not isinstance(node, ast.Call) or not isinstance(node.func, ast.Attribute):
            continue
        attr, args = node.func.attr, node.args
        if (
            attr == "createDataFrame"
            and args
            and _is_rows_argument(args[0])
            and owner.get(node.lineno) != "_rows_frame"
        ):
            out.append((node.lineno, "createDataFrame over Python rows"))
        if (
            attr == "repartition"
            and args
            and isinstance(args[0], ast.Call)
            and isinstance(args[0].func, ast.Name)
            and args[0].func.id == "min"
        ):
            out.append((node.lineno, ".repartition(min("))
        if attr in ("env_config", "apply_config") and name != "fileio.py":
            out.append((node.lineno, f"fileio.{attr} outside fileio.shipped"))
    return [f"{name}:{line}: {what}" for line, what in sorted(out)]


def test_no_driver_frame_bypasses_the_work_dispatch():
    assert _SOURCES
    found = [v for p in _SOURCES for v in _violations(p)]
    assert not found, "\n".join(found)


def test_guard_catches_each_old_shape(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        "def f(spark, pd, rows, cfg, fileio):\n"
        "    a = spark.createDataFrame([(1,)], 'x int')\n"
        "    b = spark.createDataFrame([(r,) for r in rows], 'x int')\n"
        "    c = spark.createDataFrame(pd.DataFrame({'x': rows}), 'x int')\n"
        "    d = a.repartition(min(len(rows), 64))\n"
        "    for _, r in b.toPandas().iterrows():\n"
        "        pass\n"
        "    fileio.apply_config(cfg)\n"
        "    return spark.createDataFrame([], 'x int'), c, d\n"
    )
    got = _violations(str(bad))
    assert [g.split(": ", 1)[1] for g in got] == [
        "createDataFrame over Python rows",
        "createDataFrame over Python rows",
        "createDataFrame over Python rows",
        ".repartition(min(",
        "iterrows",
        "fileio.apply_config outside fileio.shipped",
    ], got
