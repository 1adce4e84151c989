"""Every ``from bench import <name>`` in ``scripts/*.py`` must resolve.

Some scripts import bench.py helpers inside functions that the test
suite never executes, so a rename or deletion in bench.py would break
them silently. This scans the scripts' ASTs instead of running them.
"""

from __future__ import annotations

import ast
import importlib.util
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted((ROOT / "scripts").glob("*.py"))

_spec = importlib.util.spec_from_file_location("bench", ROOT / "bench.py")
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _bench_imports(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        alias.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.module == "bench" and node.level == 0
        for alias in node.names
    ]


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_script_bench_imports_resolve(script):
    missing = [n for n in _bench_imports(script) if not hasattr(bench, n)]
    assert not missing, f"{script.name} imports {missing} from bench.py"
