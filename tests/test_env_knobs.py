"""The package's environment knobs are a fixed, declared set: every
``os.environ`` / ``os.getenv`` read in ``fec_cn_support_etl_spark/`` is
listed here, so a new knob needs a deliberate edit of this test."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "fec_cn_support_etl_spark"

KNOBS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM"}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _key(node: ast.AST) -> str:
    return node.value if isinstance(node, ast.Constant) and isinstance(node.value, str) else f"<{ast.unparse(node)}>"


def env_reads(source: str) -> set[str]:
    """Names read from the environment: ``os.environ.get(K)``,
    ``os.environ[K]``, ``K in os.environ`` and ``os.getenv(K)``; a
    non-literal key is reported as ``<expr>``."""
    found = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr in ("get", "pop", "setdefault") and _is_environ(f.value):
                found.add(_key(node.args[0]))
            elif (isinstance(f, ast.Attribute) and f.attr == "getenv") or (isinstance(f, ast.Name) and f.id == "getenv"):
                found.add(_key(node.args[0]))
        elif isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Load) and _is_environ(node.value):
            found.add(_key(node.slice))
        elif isinstance(node, ast.Compare) and any(isinstance(o, (ast.In, ast.NotIn)) for o in node.ops):
            if any(_is_environ(c) for c in node.comparators):
                found.add(_key(node.left))
    return found


def test_env_reads_finds_every_form():
    src = (
        "import os\nfrom os import environ, getenv\n"
        "a = os.environ.get('A', '1')\nb = os.environ['B']\nc = 'C' in os.environ\n"
        "d = os.getenv('D')\ne = environ.get(name)\nf = getenv('F')\n"
    )
    assert env_reads(src) == {"A", "B", "C", "D", "<name>", "F"}


def test_package_env_knobs_are_the_declared_set():
    reads = {}
    for path in sorted(PKG.rglob("*.py")):
        for name in env_reads(path.read_text()):
            reads.setdefault(name, []).append(str(path.relative_to(PKG.parent)))
    assert set(reads) == KNOBS, reads
