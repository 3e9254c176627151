"""``scope.py`` is the one owner of cached frames: no other module in
the package calls ``persist``, ``unpersist`` or ``cache``. A raw persist
outlives its run in a long-lived server, and a raw unpersist skips the
per-plan reference count, dropping a frame another run still reads.
Pure ``ast`` scan — no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

import dynamic_etl_pipeline_thesis_ii_spark as pkg

_CACHE_CALLS = {"persist", "unpersist", "cache"}


def test_only_scope_persists_frames():
    root = Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "scope.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in _CACHE_CALLS):
                offenders.append(f"{path.relative_to(root)}:{node.lineno} "
                                 f".{node.func.attr}()")
    assert not offenders, ("persist through scope.persist_scoped "
                           "instead: " + ", ".join(offenders))
