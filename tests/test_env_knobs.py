"""The engine reads no environment knobs: behaviour comes from
parameters and Spark conf. Every module under ``geococo_spark/`` is
guarded except ``session.py``, whose master, memory and PYTHONPATH
settings are deployment choices. The one allowed key is the pairs probe
that the traced benchmark switches on (``SPARK_GRAFT_PAIRS_PROBE``)."""

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
GUARDED = sorted(
    p.relative_to(ROOT).as_posix()
    for p in (ROOT / "geococo_spark").rglob("*.py")
    if p.name != "session.py"
)
ALLOWED = {"SPARK_GRAFT_PAIRS_PROBE"}


def env_reads(source: str) -> list[tuple[int, object]]:
    """(line, key) of every ``os.environ`` / ``getenv`` use in ``source``;
    the key is None when it is not a string literal."""
    tree = ast.parse(source)
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    reads = []
    for node in ast.walk(tree):
        name = node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)
        if name not in ("environ", "getenv"):
            continue
        parent = parents.get(node)
        key = None
        if name == "environ" and isinstance(parent, ast.Subscript):
            key = parent.slice
        elif name == "environ" and isinstance(parent, ast.Attribute):
            call = parents.get(parent)
            key = call.args[0] if isinstance(call, ast.Call) and call.args else None
        elif name == "getenv" and isinstance(parent, ast.Call) and parent.args:
            key = parent.args[0]
        reads.append((node.lineno, key.value if isinstance(key, ast.Constant) else None))
    return sorted(reads, key=lambda r: r[0])


def test_env_reads_detector():
    src = (
        "import os\nfrom os import environ, getenv\n"
        "a = os.environ.get('SPARK_GRAFT_PAIRS_PROBE')\n"
        "b = os.environ['X']\nc = getenv('Y', '1')\nd = environ.get(k)\n"
    )
    assert [key for _, key in env_reads(src)] == ["SPARK_GRAFT_PAIRS_PROBE", "X", "Y", None]


def test_guard_covers_the_package():
    assert "geococo_spark/pipeline.py" in GUARDED
    assert "geococo_spark/kernels/tile_kernel.py" in GUARDED
    assert "geococo_spark/session.py" not in GUARDED


@pytest.mark.parametrize("path", GUARDED)
def test_no_env_knobs(path):
    bad = [(line, key) for line, key in env_reads((ROOT / path).read_text())
           if key not in ALLOWED]
    assert not bad, f"{path} reads environment knobs at (line, key): {bad}"
