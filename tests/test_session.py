"""The Python-task floor (``session._drop_zip_importers``): the sweep in a
real worker, its import safety on the driver, and a guard that every
function ``seafan_spark`` ships to a Python worker calls it first."""

import ast
import pathlib
import sys
import zipfile
import zipimport

import pytest

import seafan_spark.session as session
from seafan_spark.session import _drop_zip_importers

PKG = pathlib.Path(session.__file__).parent
HELPER = "_drop_zip_importers"
SHIPPING = {"mapInPandas", "mapInArrow", "applyInPandas", "applyInPandasWithState", "pandas_udf"}


def _zip_entries() -> list[str]:
    return [p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]


def test_sweep_empties_the_workers_zip_finders(spark):
    def report(batches):  # self-contained: workers cannot import this test module
        import sys
        import zipimport

        import pandas as pd

        from seafan_spark.session import _drop_zip_importers

        _drop_zip_importers()
        n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"n": [n]})

    rows = spark.range(10).coalesce(1).mapInPandas(report, schema="n long").collect()
    assert [r["n"] for r in rows] == [0]


class _Task:
    def __init__(self, attempt: int):
        self.attempt = attempt

    def taskAttemptId(self) -> int:
        return self.attempt


def test_sweep_keeps_zip_imports_working_once_per_task(tmp_path, monkeypatch):
    from pyspark import TaskContext

    archive = str(tmp_path / "zpkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/a.py", "X = 1\n")
        z.writestr("zpkg/b.py", "Y = 2\n")
    task = _Task(7)
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: task))
    monkeypatch.setattr(session, "_swept_task", None)
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
    )
    try:
        import zpkg.a

        assert zpkg.a.X == 1 and any(p.startswith(archive) for p in _zip_entries())
        _drop_zip_importers()
        assert _zip_entries() == []
        n_reads = len(reads)

        import zpkg.b  # a new finder for the same zip, from zipimport's cache

        assert zpkg.b.Y == 2 and len(reads) == n_reads
        rebuilt = _zip_entries()
        assert rebuilt
        _drop_zip_importers()  # same task: no second sweep
        assert _zip_entries() == rebuilt
        task.attempt = 8
        _drop_zip_importers()
        assert _zip_entries() == []
    finally:
        for m in ("zpkg", "zpkg.a", "zpkg.b"):
            sys.modules.pop(m, None)
        for p in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[p]
        zipimport._zip_directory_cache.pop(archive, None)


# ---- guard: every shipped function sweeps first ----------------------------


def _callee(node: ast.AST) -> str | None:
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return None


def _scope_of(node: ast.AST, parents: dict) -> ast.AST:
    p = parents[node]
    while not isinstance(p, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
        p = parents[p]
    return p


def _resolve(name: str, scope: ast.AST, parents: dict) -> ast.FunctionDef | None:
    """The def a name stands for at ``scope``: a def in this or an
    enclosing scope, or the def a local factory call returns
    (``pf = _nn_partial(...)`` -> ``part``)."""
    while True:
        for node in ast.walk(scope):
            if node is scope or _scope_of(node, parents) is not scope:
                continue
            if isinstance(node, ast.FunctionDef) and node.name == name:
                return node
            if (
                isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == name for t in node.targets)
                and isinstance(node.value, ast.Call)
                and isinstance(node.value.func, ast.Name)
            ):
                factory = _resolve(node.value.func.id, scope, parents)
                if factory is None:
                    return None
                returned = [
                    r.value.id
                    for r in ast.walk(factory)
                    if isinstance(r, ast.Return)
                    and isinstance(r.value, ast.Name)
                    and _scope_of(r, parents) is factory
                ]
                return _resolve(returned[0], factory, parents) if len(returned) == 1 else None
        if isinstance(scope, ast.Module):
            return None
        scope = _scope_of(scope, parents)


def _sweeps_first(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # docstring
    first = body[0] if body else None
    return (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Call)
        and _callee(first.value.func) == HELPER
    )


def _shipped_functions():
    """(file, line, def or None) for every function passed to a Python-worker
    API in ``seafan_spark``, positional, as ``func=`` or as a decorator."""
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        rel = path.relative_to(PKG.parent)
        decorators = set()
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for dec in node.decorator_list:
                    if _callee(dec.func if isinstance(dec, ast.Call) else dec) in SHIPPING:
                        decorators.add(dec)
                        yield rel, node.lineno, node
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call) or node in decorators:
                continue
            if _callee(node.func) not in SHIPPING:
                continue
            fn = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg in ("func", "f")), None
            )
            if fn is None or isinstance(fn, ast.Constant):
                continue  # pandas_udf("type") used as a decorator factory
            target = _resolve(fn.id, _scope_of(node, parents), parents) if isinstance(
                fn, ast.Name
            ) else None
            yield rel, node.lineno, target


def test_every_shipped_function_sweeps_first():
    found = list(_shipped_functions())
    bad = [
        f"{rel}:{line}" + (" (cannot resolve the function)" if fn is None else f" {fn.name}")
        for rel, line, fn in found
        if fn is None or not _sweeps_first(fn)
    ]
    assert not bad, f"call {HELPER}() first in: {bad}"
    names = {(str(rel), fn.name) for rel, _, fn in found}
    # the resolver reaches a nested def, a factory's returned def and a module-level def
    assert {
        ("seafan_spark/optim.py", "_score_fn"),
        ("seafan_spark/optim.py", "part"),
        ("seafan_spark/streaming.py", "_running_totals_fn"),
    } <= names
    assert len(found) >= 12


def test_guard_rejects_a_site_that_does_not_sweep(tmp_path, monkeypatch):
    pkg = tmp_path / "seafan_spark"
    pkg.mkdir()
    (pkg / "bad.py").write_text(
        "def op(df):\n"
        "    def f(batches):\n"
        "        yield from batches\n"
        "    return df.mapInPandas(f, schema='x long')\n"
        "def op2(df):\n"
        "    return df.mapInPandas(lambda it: it, schema='x long')\n"
    )
    monkeypatch.setattr(sys.modules[__name__], "PKG", pkg)
    with pytest.raises(AssertionError, match=r"bad.py:4 f.*bad.py:6 \(cannot resolve"):
        test_every_shipped_function_sweeps_first()
