"""The package holds no dead code: every top-level def, class and
assignment in ``geococo_spark/`` is referenced by some ``.py`` file of the
repo (the package itself, tests, tools, jobs, perfbench or the harness).

A reference is a loaded name, an attribute name or an imported name, so
``from geococo_spark.coco import copy_dataset`` and ``coco.copy_dataset``
both count; the definition itself does not."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = "geococo_spark"


def defined_names(tree: ast.Module) -> list[tuple[int, str]]:
    """(line, name) of every top-level def, class and assigned name,
    dunders (``__all__``, ...) excepted."""
    found = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            found.append((node.lineno, node.name))
        elif isinstance(node, ast.Assign):
            found += [(node.lineno, t.id) for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            found.append((node.lineno, node.target.id))
    return [(line, n) for line, n in found if not (n.startswith("__") and n.endswith("__"))]


def referenced_names(tree: ast.Module) -> set[str]:
    """Every name the tree reads: loaded names, attribute names and the
    names of imports."""
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.alias):
            used.add(node.name.rsplit(".", 1)[-1])
    return used


def unreferenced(modules: dict[str, str], all_sources: list[str]) -> list[tuple[str, int, str]]:
    """(module, line, name) of each name ``modules`` define that no source
    in ``all_sources`` references."""
    used = set().union(*(referenced_names(ast.parse(s)) for s in all_sources))
    return [
        (path, line, name)
        for path, source in modules.items()
        for line, name in defined_names(ast.parse(source))
        if name not in used
    ]


def test_unreferenced_detector():
    lib = (
        "import os\nLIMIT = 3\n_CACHE: dict = {}\n"
        "def used(): return LIMIT\ndef dead(): return _CACHE\nclass Gone: pass\n"
        "def __getattr__(name): pass\n"
    )
    caller = "from lib import used\nused()\n"
    assert unreferenced({"lib.py": lib}, [lib, caller]) == [
        ("lib.py", 5, "dead"), ("lib.py", 6, "Gone"),
    ]


def test_package_has_no_unreferenced_symbols():
    sources = {
        str(p.relative_to(ROOT)): p.read_text()
        for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") or part == "__pycache__" for part in p.relative_to(ROOT).parts)
    }
    package = {path: s for path, s in sources.items() if path.startswith(PACKAGE + "/")}
    bad = unreferenced(package, list(sources.values()))
    assert not bad, f"top-level names that nothing references (module, line, name): {bad}"
