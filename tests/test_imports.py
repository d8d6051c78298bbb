"""Import hygiene, checked without a Spark session.

- Every Python worker of the image rollup imports ``pipeline`` (the
  kernel is pickled by reference to it), so whatever that module pulls
  in at import time is paid once per worker: it must not load pandas.
- ``bench.py`` and the scripts in ``tools/`` are run by hand or by
  other scripts, never imported by the package, so a deleted sibling
  module shows up only when someone runs them. Every import they make
  must resolve.
"""

from __future__ import annotations

import ast
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
