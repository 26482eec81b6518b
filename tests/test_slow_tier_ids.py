"""Every ``SLOW_TESTS`` id in ``conftest.py`` names a test that exists,
so a deleted or renamed test cannot leave a stale id behind. The test
modules are parsed with ``ast``; no Spark session starts."""

import ast
import os

from tests.conftest import SLOW_TESTS

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def _function_names(path):
    with open(path) as f:
        tree = ast.parse(f.read())
    return {
        n.name
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def test_every_slow_test_id_names_an_existing_test():
    defs: dict[str, set[str]] = {}
    stale = []
    for tid in sorted(SLOW_TESTS):
        module, name = tid.split("::")
        if module not in defs:
            path = os.path.join(_TESTS_DIR, module)
            defs[module] = (
                _function_names(path) if os.path.exists(path) else set()
            )
        if name.split("[")[0] not in defs[module]:
            stale.append(tid)
    assert not stale, stale
