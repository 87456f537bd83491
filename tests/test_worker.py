"""Python-worker hygiene and the driver's call-site capture default:
``worker.prune_zip_importers`` empties the zip-importer cache so the
next task's ``importlib.invalidate_caches()`` re-reads no archive,
every kernel the package hands to PySpark calls it first, and
``get_spark`` turns PySpark's per-call call-site capture off."""

from __future__ import annotations

import ast
import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import datawarehouse_vehicule_insurance_spark as pkg
from datawarehouse_vehicule_insurance_spark import get_spark
from datawarehouse_vehicule_insurance_spark.worker import prune_zip_importers

DEBUG_KEY = "spark.python.sql.dataFrameDebugging.enabled"
#: the calls that ship a Python function to the workers as a kernel
KERNEL_METHODS = {"mapInPandas", "applyInPandas", "applyInPandasWithState"}


def _zip_importers() -> int:
    return sum(
        isinstance(v, zipimport.zipimporter)
        for v in sys.path_importer_cache.values()
    )


def test_prune_drops_zip_importers_and_zip_imports_still_work(
    tmp_path, monkeypatch
):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("prune_probe_first.py", "X = 1\n")
        zf.writestr("prune_probe_second.py", "Y = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("prune_probe_first").X == 1
        assert isinstance(
            sys.path_importer_cache[str(archive)], zipimport.zipimporter
        )
        prune_zip_importers()
        assert _zip_importers() == 0
        assert importlib.import_module("prune_probe_second").Y == 2
    finally:
        for name in ("prune_probe_first", "prune_probe_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_prune_unpickles_where_the_package_is_not_importable(tmp_path):
    """Kernels reference the helper as a global, so it must pickle by
    value: a worker started outside the repo cannot import the
    package by name."""
    from pyspark import cloudpickle

    child = (
        "import importlib.util, pickle, sys\n"
        "assert importlib.util.find_spec("
        "'datawarehouse_vehicule_insurance_spark') is None\n"
        "pickle.loads(sys.stdin.buffer.read())()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, "-c", child],
        input=cloudpickle.dumps(prune_zip_importers),
        cwd=tmp_path, env=env, capture_output=True, timeout=120,
    )
    assert done.returncode == 0, done.stderr.decode()[-2000:]


def test_kernel_leaves_reused_worker_without_zip_importers(spark):
    """After a kernel runs, the worker it ran on holds no zip importer,
    so the next task on that worker re-reads no archive. A plain
    worker holds several (16 with pyspark.zip, the py4j zip and the
    spark-core jar on its path)."""
    from datawarehouse_vehicule_insurance_spark.operators.text_analysis import (
        gopher_repetition_features,
    )

    @F.pandas_udf("long")
    def zip_importers(s: pd.Series) -> pd.Series:
        import sys
        import zipimport

        n = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        return pd.Series([n] * len(s))

    def probe() -> list[int]:
        one = spark.range(2).coalesce(1)
        return [r[0] for r in one.select(zip_importers("id")).collect()]

    # a Python executable no other job names gets its own worker pool,
    # so the follow-up task lands on a worker this test started
    exe = os.path.join(
        os.path.dirname(sys.executable), ".", os.path.basename(sys.executable)
    )
    key = "spark.sql.execution.pyspark.python"
    spark.conf.set(key, exe)
    try:
        assert min(probe()) > 0
        docs = spark.createDataFrame(
            [(i, f"a b c a b c doc {i}\nsame line\nsame line")
             for i in range(8)],
            "id long, text string",
        )
        assert len(gopher_repetition_features(docs).collect()) == 8
        assert probe() == [0, 0]
    finally:
        spark.conf.unset(key)


def test_get_spark_turns_off_call_site_capture(spark, monkeypatch):
    """The key is a static conf: the live session shows the default,
    and the builder options show that ``extra_conf`` overrides it (a
    second session cannot start in this process)."""
    assert spark.conf.get(DEBUG_KEY) == "false"
    built = []
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate",
        lambda self: built.append(dict(self._options)),
    )
    get_spark()
    get_spark(extra_conf={DEBUG_KEY: "true"})
    assert [opts[DEBUG_KEY] for opts in built] == ["false", "true"]


def _kernels(tree: ast.Module) -> list[tuple[ast.AST, ast.expr]]:
    """(site, kernel) for every function the module hands to
    ``pandas_udf`` or a ``*InPandas*`` method; the kernel is the
    decorated def, or the expression passed at the call site."""

    def is_pandas_udf(f: ast.expr) -> bool:
        return (isinstance(f, ast.Name) and f.id == "pandas_udf") or (
            isinstance(f, ast.Attribute) and f.attr == "pandas_udf"
        )

    # `pandas_udf(type)` as a decorator or inside `pandas_udf(type)(fn)`:
    # its argument is the return type, not a kernel
    curried = {
        id(n.func) for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Call)
    }
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            for d in node.decorator_list:
                curried.add(id(d))
                if is_pandas_udf(d.func if isinstance(d, ast.Call) else d):
                    found.append((node, node))
        if not isinstance(node, ast.Call) or not node.args:
            continue
        f = node.func
        if (
            (isinstance(f, ast.Attribute) and f.attr in KERNEL_METHODS)
            or (isinstance(f, ast.Call) and is_pandas_udf(f.func))
            or (is_pandas_udf(f) and id(node) not in curried)
        ):
            found.append((node, node.args[0]))
    return found


def _resolve(parents: dict, site: ast.AST, name: str):
    """The ``def name`` visible from ``site``: innermost enclosing
    function first, then outward to module level."""
    scope = parents.get(site)
    while scope is not None:
        if isinstance(scope, (ast.FunctionDef, ast.Module)):
            for n in ast.walk(scope):
                if isinstance(n, ast.FunctionDef) and n.name == name:
                    return n
        scope = parents.get(scope)
    return None


def test_every_kernel_prunes_the_zip_importer_cache_first():
    root = Path(pkg.__file__).parent
    kernels, missing = 0, []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        for site, kernel in _kernels(tree):
            where = f"{path.relative_to(root)}:{site.lineno}"
            fn = kernel
            if isinstance(kernel, ast.Name):
                fn = _resolve(parents, site, kernel.id)
            if not isinstance(fn, ast.FunctionDef):
                missing.append(f"{where}: kernel is not a named def")
                continue
            kernels += 1
            body = fn.body
            if ast.get_docstring(fn) is not None:
                body = body[1:]
            call = getattr(body[0], "value", None)
            if not (isinstance(body[0], ast.Expr) and isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Name)
                    and call.func.id == "prune_zip_importers"):
                missing.append(f"{where}: {fn.name} does not prune first")
    assert not missing, missing
    # at least the 21 kernels of this writing: the nine in similarity,
    # the BPE and Gopher kernels, span trim, Misra-Gries, two in mlprep,
    # three in multimodal, two column functions and the stateful update
    assert kernels >= 21
