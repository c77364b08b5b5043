"""The slow-tier manifest (tests/slow_tests.txt) must name test
functions that exist. conftest skips tests by matching node ids against
it, so a line left behind by a deleted or renamed test matches nothing
and no run would ever notice. Spark-free: the test files are parsed,
not imported."""

import ast
from pathlib import Path

from conftest import _slow_manifest


def _test_functions(path: Path) -> set[str]:
    if not path.is_file():
        return set()
    tree = ast.parse(path.read_text())
    return {
        n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def test_slow_manifest_names_existing_tests():
    tests_dir = Path(__file__).parent
    defined: dict[str, set[str]] = {}
    stale = []
    for nodeid in sorted(_slow_manifest()):
        fname, _, func = nodeid.partition("::")
        if fname not in defined:
            defined[fname] = _test_functions(tests_dir / fname)
        if func not in defined[fname]:
            stale.append(nodeid)
    assert stale == []
