"""Static import guard for the benchmark and harness scripts.

These scripts import the library inside functions, so a renamed or deleted
name they use would otherwise surface only when the benchmark runs.  Each
file is parsed with ``ast`` and never executed: every
``from string_grouper_spark... import name`` must resolve, and every
attribute read through a module alias (``from string_grouper_spark.operators
import candidates`` then ``candidates.simhash_candidates``) must exist."""

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "string_grouper_spark"
HARNESS = sorted(
    [
        "bench.py",
        "bench_extra.py",
        "bench_scaling.py",
        "__spark_entry__.py",
        "plans/r06/capture_plans.py",
    ]
    + [os.path.relpath(p, ROOT) for p in glob.glob(os.path.join(ROOT, "perfbench", "*.py"))]
)


def _resolve(module: str, name: str):
    """The object ``from module import name`` binds: an attribute of the
    module or, failing that, its submodule ``module.name``."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def _library_imports(tree):
    """(lineno, module, name, bound alias) for each library import."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module == PKG or (node.module or "").startswith(PKG + ".")
        ):
            for a in node.names:
                yield node.lineno, node.module, a.name, a.asname or a.name
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG + ".") and a.asname:
                    parent, _, leaf = a.name.rpartition(".")
                    yield node.lineno, parent, leaf, a.asname


@pytest.mark.parametrize("path", HARNESS)
def test_harness_library_names_resolve(path):
    with open(os.path.join(ROOT, path)) as f:
        tree = ast.parse(f.read(), filename=path)
    missing, modules = [], {}
    for lineno, module, name, alias in _library_imports(tree):
        try:
            obj = _resolve(module, name)
        except ImportError:
            missing.append(f"{path}:{lineno}: {module}.{name}")
            continue
        if type(obj).__name__ == "module":
            modules[alias] = obj
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            mod = modules[node.value.id].__name__
            missing.append(f"{path}:{node.lineno}: {mod}.{node.attr}")
    assert not missing, "harness names missing from the library:\n" + "\n".join(missing)
