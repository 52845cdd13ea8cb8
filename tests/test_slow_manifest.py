"""The slow-tier manifest (tests/slow_tests.txt) must name real tests.

conftest skips every listed node id in the default tier. A renamed or
deleted test leaves a stale id behind, and the renamed test silently
joins the fast tier, so each id is checked against the top-level
functions of its file. Spark-free."""

from __future__ import annotations

import ast
import os

from tests.conftest import _slow_ids

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _functions(path: str) -> set[str]:
    if not os.path.exists(path):
        return set()
    with open(path) as f:
        tree = ast.parse(f.read())
    return {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}


def test_slow_manifest_ids_name_existing_tests():
    ids = _slow_ids()
    assert ids
    defined: dict[str, set[str]] = {}
    stale = []
    for node_id in sorted(ids):
        path, _, name = node_id.partition("::")
        if path not in defined:
            defined[path] = _functions(os.path.join(_ROOT, path))
        if name.split("[", 1)[0] not in defined[path]:
            stale.append(node_id)
    assert not stale, f"slow_tests.txt names missing tests: {stale}"
