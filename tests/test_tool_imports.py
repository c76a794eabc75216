"""Every package name the scripts outside the package import still
exists: ``tools/*.py``, ``__spark_entry__.py``, ``bench.py`` and
``perfbench/*.py`` are run by hand or by a harness, never imported by
the suite, so a deleted function would otherwise break them silently.
The scripts are parsed, not imported; perfbench's tracer boundaries are
read from its source the same way."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "mariadb_columnstore_engine_spark"
SCRIPTS = sorted(
    glob.glob(os.path.join(ROOT, "tools", "*.py"))
    + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    + [os.path.join(ROOT, "__spark_entry__.py"),
       os.path.join(ROOT, "bench.py")]
)


def _package_imports(path: str) -> list[tuple[str, str | None]]:
    """(module, name) for every ``from PKG… import name`` and
    (module, None) for every ``import PKG…``, at any depth."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and not node.level \
                and (node.module or "").split(".")[0] == PKG:
            out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [(a.name, None) for a in node.names
                    if a.name.split(".")[0] == PKG]
    return out


def _resolves(module: str, name: str | None) -> bool:
    mod = importlib.import_module(module)
    return name is None or name == "*" or hasattr(mod, name) or (
        importlib.util.find_spec(f"{module}.{name}") is not None
    )


@pytest.mark.parametrize(
    "script", SCRIPTS, ids=lambda p: os.path.relpath(p, ROOT)
)
def test_script_imports_resolve(script):
    missing = [
        f"{m}.{n}" if n else m
        for m, n in _package_imports(script) if not _resolves(m, n)
    ]
    assert not missing, missing


def test_tracer_boundaries_resolve():
    with open(os.path.join(ROOT, "perfbench", "tracing.py")) as fh:
        tree = ast.parse(fh.read())
    found = {}
    for node in tree.body:
        if isinstance(node, ast.Assign) and len(node.targets) == 1 \
                and isinstance(node.targets[0], ast.Name):
            found[node.targets[0].id] = node.value
    functions = ast.literal_eval(found["FUNCTION_BOUNDARIES"])
    engine_attrs = ast.literal_eval(found["ENGINE_BOUNDARIES"])
    assert functions and engine_attrs
    for module, attr, _span in functions:
        assert _resolves(module, attr), f"{module}.{attr}"
    from mariadb_columnstore_engine_spark.engine import Engine

    for attr, _span in engine_attrs:
        assert hasattr(Engine, attr), attr
