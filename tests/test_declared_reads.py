"""Engine-written files are read with their declared schema: a
`spark.read...parquet(...)` chain without `.schema(...)` runs a
schema-inference Spark job on every call. The allowed inferring reads are
the replay-directory memo in `read_event_stream` and the catalog's
external-input load (itself behind the catalog's plan cache)."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "minarrow_spark"
SCANNED = ("streaming", "queries", "sources")
ALLOWED = {
    ("streaming/ingest.py", "read_event_stream"),
    ("sources/catalog.py", "load_table"),
}


def inferring_reads(source: str) -> list[tuple[int, str | None]]:
    """(line, enclosing function) of every `*.read[...].parquet(...)` call
    in ``source`` whose method chain has no `.schema(...)` call."""
    tree = ast.parse(source)
    owner: dict[int, str] = {}
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for n in ast.walk(fn):
                owner.setdefault(id(n), fn.name)  # outermost function wins
    found = []
    for n in ast.walk(tree):
        if not (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "parquet"
        ):
            continue
        chain, node = [], n.func.value
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Call):
                node = node.func
            else:
                chain.append(node.attr)
                node = node.value
        if "read" in chain and "schema" not in chain:
            found.append((n.lineno, owner.get(id(n))))
    return sorted(found, key=lambda r: r[0])


def test_scanner_sees_every_read_form():
    src = (
        "def f(spark, p, s):\n"
        "    a = spark.read.parquet(p)\n"
        "    b = spark.read.option('basePath', p).parquet(p).select('x')\n"
        "    c = spark.read.schema(s).option('basePath', p).parquet(p)\n"
        "    d = spark.readStream.schema(s).parquet(p)\n"
        "    df.write.mode('overwrite').parquet(p)\n"
        "e = spark.read.parquet(p).schema\n"
    )
    assert inferring_reads(src) == [(2, "f"), (3, "f"), (7, None)]


def test_engine_written_files_are_read_with_declared_schemas():
    found = {
        (f"{path.parent.name}/{path.name}", line, fn)
        for pkg in SCANNED
        for path in sorted((PKG / pkg).glob("*.py"))
        for line, fn in inferring_reads(path.read_text())
    }
    assert {(name, fn) for name, _, fn in found} >= ALLOWED  # the scan is live
    bad = sorted(r for r in found if (r[0], r[2]) not in ALLOWED)
    assert not bad, (
        f"parquet reads without a declared schema (each runs an inference "
        f"job per call): {bad}"
    )
