"""Registered queries are single-path plan builders: no query module reads
the process environment to choose a plan. The one allowed read is the
deployment scratch path (MINARROW_SCRATCH) in queries/_util.py."""

from __future__ import annotations

import ast
from pathlib import Path

QUERIES = Path(__file__).resolve().parent.parent / "minarrow_spark" / "queries"
ALLOWED = {("_util.py", "MINARROW_SCRATCH")}
_ENV = ("environ", "getenv")


def env_reads(source: str) -> list[tuple[int, str | None]]:
    """(line, key) for every os.environ / os.getenv use in ``source``; key is
    the literal variable name when there is one, else None."""
    tree = ast.parse(source)
    nodes = list(ast.walk(tree))
    os_names = {"os"} | {
        a.asname or a.name
        for n in nodes
        if isinstance(n, ast.Import)
        for a in n.names
        if a.name == "os"
    }

    def is_env(n: ast.AST) -> bool:
        return (
            isinstance(n, ast.Attribute)
            and n.attr in _ENV
            and isinstance(n.value, ast.Name)
            and n.value.id in os_names
        )

    def literal(n: ast.AST) -> str | None:
        return n.value if isinstance(n, ast.Constant) and isinstance(n.value, str) else None

    keys: dict[int, str | None] = {}
    for n in nodes:
        if isinstance(n, ast.Call) and n.args:
            if is_env(n.func):  # os.getenv("X")
                keys[id(n.func)] = literal(n.args[0])
            elif isinstance(n.func, ast.Attribute) and is_env(n.func.value):  # os.environ.get("X")
                keys[id(n.func.value)] = literal(n.args[0])
        elif isinstance(n, ast.Subscript) and is_env(n.value):  # os.environ["X"]
            keys[id(n.value)] = literal(n.slice)
    reads = [
        (n.lineno, None)
        for n in nodes
        if isinstance(n, ast.ImportFrom)
        and n.module == "os"
        and any(a.name in _ENV for a in n.names)
    ]
    return reads + [(n.lineno, keys.get(id(n))) for n in nodes if is_env(n)]


def test_scanner_sees_every_read_form():
    src = (
        "import os\nimport os as _o\nfrom os import getenv\n"
        "a = os.environ.get('A')\nb = _o.getenv('B')\nc = os.environ['C']\n"
        "d = dict(os.environ)\n"
    )
    assert sorted(env_reads(src)) == [(3, None), (4, "A"), (5, "B"), (6, "C"), (7, None)]


def test_query_modules_read_no_env_switches():
    found = {
        (path.name, line, key)
        for path in sorted(QUERIES.glob("*.py"))
        for line, key in env_reads(path.read_text())
    }
    assert {(name, key) for name, _, key in found} >= ALLOWED  # the scan is live
    bad = sorted(r for r in found if (r[0], r[2]) not in ALLOWED)
    assert not bad, f"env reads inside registered query modules: {bad}"
