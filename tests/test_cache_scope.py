"""Cache invalidation stays path-scoped.

A commit refreshes the cached frames over ITS table
(``operators.mor.refresh_cached``); every other cached frame in the
session stays cached.  ``spark.catalog.clearCache()`` drops all of them,
so no module of the package may call it.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "sql_query_optimizer_cpp_spark"


def test_package_never_clears_the_session_cache():
    calls = []
    for f in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(f.read_text(), str(f))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "clearCache"
            ):
                calls.append(f"{f.relative_to(PACKAGE.parent)}:{node.lineno}")
    assert len(list(PACKAGE.rglob("*.py"))) > 50, "scanned the wrong tree"
    assert not calls, (
        "session-wide clearCache() evicts every cached frame; refresh the "
        f"committed table's frames by path instead: {calls}"
    )
