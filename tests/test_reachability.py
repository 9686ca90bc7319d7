"""Every top-level function and class in louvain_spark/ is reached from
outside the tests.

The scan collects every Name, Attribute and import alias in the non-test
sources: the library itself, the driver contract (__spark_entry__.py),
bench.py, perfbench/ and tools/. A top-level def or class whose name none
of them uses is code that only tests reach: delete it, or move a spec
that only a test reads into tests/.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
LIBRARY = ROOT / "louvain_spark"
SOURCES = [LIBRARY, ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "perfbench", ROOT / "tools"]


def _files(paths):
    for p in paths:
        yield from sorted(p.rglob("*.py")) if p.is_dir() else [p]


def _used_names() -> set[str]:
    used = set()
    for path in _files(SOURCES):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.split(".")[-1])
                if node.asname:
                    used.add(node.asname)
    return used


def test_every_library_definition_is_reached_outside_tests():
    used = _used_names()
    unreached = [
        f"{path.relative_to(ROOT)}:{node.lineno} {node.name}"
        for path in _files([LIBRARY])
        for node in ast.parse(path.read_text(), str(path)).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and node.name not in used
    ]
    assert not unreached, "only tests reach:\n" + "\n".join(unreached)
