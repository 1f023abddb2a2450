"""Scripts outside the package import only what the package has.

Nothing under tier-1 runs ``tools/``, ``jobs/``, ``perfbench/`` or
``__spark_entry__.py``, so an import of a deleted module or name would
only show when someone next runs the script. This walks their ASTs
(imports inside functions included) and resolves every ``geococo_spark``
module and every name imported from one."""

import ast
import importlib
import importlib.util
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
SCRIPTS = sorted(
    str(p.relative_to(ROOT))
    for pattern in ("tools/*.py", "jobs/*.py", "perfbench/*.py", "__spark_entry__.py")
    for p in ROOT.glob(pattern)
)
PACKAGE = "geococo_spark"


def package_imports(source: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name) of every import of ``geococo_spark`` in
    ``source``; name is None for ``import module``."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            found += [(node.lineno, a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            found += [(node.lineno, node.module, a.name) for a in node.names]
    return sorted(
        (i for i in found if i[1] == PACKAGE or i[1].startswith(PACKAGE + ".")),
        key=lambda i: i[0],
    )


def _exists(module: str) -> bool:
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:  # a parent is missing or is not a package
        return False


def unresolved(source: str) -> list[tuple[int, str]]:
    """(line, dotted name) of every package import that does not resolve."""
    bad = []
    for line, module, name in package_imports(source):
        if not _exists(module):
            bad.append((line, module))
            continue
        mod = importlib.import_module(module)
        if name is None or name == "*" or hasattr(mod, name):
            continue
        if not _exists(f"{module}.{name}"):
            bad.append((line, f"{module}.{name}"))
    return bad


def test_detector_flags_missing_module_and_name():
    src = (
        "import os\nfrom geococo_spark import pipeline, no_such_module\n"
        "def f():\n    from geococo_spark.operators import ids, grid\n"
        "    import geococo_spark.operators.no_such_op\n"
        "    from geococo_spark.coco import CocoState, NoSuchName\n"
    )
    assert unresolved(src) == [
        (2, "geococo_spark.no_such_module"),
        (5, "geococo_spark.operators.no_such_op"),
        (6, "geococo_spark.coco.NoSuchName"),
    ]


@pytest.mark.parametrize("path", SCRIPTS)
def test_script_imports_resolve(path):
    bad = unresolved((ROOT / path).read_text())
    assert not bad, f"{path} imports what the package lacks at (line, name): {bad}"
