"""Every `from libchunk_spark... import name` in the repo must resolve.

The job and benchmark scripts have no tests of their own, so a
library name deleted or renamed would otherwise break them silently. This
check parses each file's imports (module level and function level alike)
and resolves them without starting Spark.
"""

from __future__ import annotations

import ast
import importlib
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIRS = ("libchunk_spark", "tests", "jobs", "perfbench")
FILES = ("bench.py", "bench_extra.py", "__spark_entry__.py")


def _sources() -> list[str]:
    out = [os.path.join(ROOT, f) for f in FILES]
    for d in DIRS:
        for dirpath, _, names in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    return sorted(out)


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:  # `from package import submodule`
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_library_imports_resolve():
    checked = 0
    stale = []
    for path in _sources():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or node.level:
                continue
            if node.module.split(".")[0] != "libchunk_spark":
                continue
            for alias in node.names:
                checked += 1
                if not _resolves(node.module, alias.name):
                    rel = os.path.relpath(path, ROOT)
                    stale.append(f"{rel}:{node.lineno} {node.module}.{alias.name}")
    assert checked > 0
    assert not stale, "unresolved imports:\n" + "\n".join(stale)
