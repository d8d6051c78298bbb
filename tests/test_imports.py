"""Import hygiene, checked without a Spark session.

- Every Python worker of the image rollup imports ``pipeline`` (the
  kernel is pickled by reference to it), so whatever that module pulls
  in at import time is paid once per worker: it must not load pandas.
- ``bench.py`` and the scripts in ``tools/`` are run by hand or by
  other scripts, never imported by the package, so a deleted sibling
  module shows up only when someone runs them. Every import they make
  must resolve.
- The same holds for the engine names those scripts and ``perfbench``
  use: every ``mod.attr`` on a module imported from the package or from
  ``__spark_entry__``, and every name imported from them, must exist.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")
SCRIPTS = ["bench.py"] + sorted(
    os.path.join("tools", f) for f in os.listdir(TOOLS) if f.endswith(".py")
)
PERFBENCH = sorted(
    os.path.join("perfbench", f)
    for f in os.listdir(os.path.join(ROOT, "perfbench"))
    if f.endswith(".py")
)
ENGINE = ("cdr_analysis_tools_hadoop_spark", "__spark_entry__")


def test_pipeline_import_does_not_load_pandas():
    code = (
        "import sys\n"
        "import cdr_analysis_tools_hadoop_spark.pipeline\n"
        "print('pandas' in sys.modules)\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    assert r.stdout.strip() == "False"


def _imported_modules(path: str) -> set[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    mods = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            mods.add(node.module)
    return mods


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_imports_resolve(script, monkeypatch):
    monkeypatch.syspath_prepend(TOOLS)
    monkeypatch.syspath_prepend(ROOT)
    missing = sorted(
        m
        for m in _imported_modules(os.path.join(ROOT, script))
        if importlib.util.find_spec(m) is None
    )
    assert not missing, f"{script} imports modules that do not exist: {missing}"


def _is_engine(module: str) -> bool:
    return any(module == e or module.startswith(e + ".") for e in ENGINE)


def _is_submodule(module: str, name: str) -> bool:
    parent = importlib.import_module(module)
    return (
        hasattr(parent, "__path__")
        and importlib.util.find_spec(f"{module}.{name}") is not None
    )


def _engine_names_used(path: str) -> set[tuple[str, str]]:
    """(module, attribute) pairs the file relies on: names it imports
    from an engine module, and ``alias.attr`` on an engine module it
    bound to ``alias``."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    bound: dict[str, str] = {}
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if _is_engine(alias.name) and (alias.asname or "." not in alias.name):
                    bound[alias.asname or alias.name] = alias.name
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            if not _is_engine(node.module):
                continue
            for alias in node.names:
                used.add((node.module, alias.name))
                if _is_submodule(node.module, alias.name):
                    bound[alias.asname or alias.name] = f"{node.module}.{alias.name}"
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in bound
        ):
            used.add((bound[node.value.id], node.attr))
    return used


@pytest.mark.parametrize("script", SCRIPTS + PERFBENCH)
def test_script_engine_names_exist(script, monkeypatch):
    monkeypatch.syspath_prepend(ROOT)
    used = _engine_names_used(os.path.join(ROOT, script))
    missing = sorted(
        f"{mod}.{attr}"
        for mod, attr in used
        if not hasattr(importlib.import_module(mod), attr)
        and not _is_submodule(mod, attr)
    )
    assert not missing, f"{script} uses engine names that do not exist: {missing}"
