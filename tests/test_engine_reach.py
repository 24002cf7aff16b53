"""Every module-level function, class and constant in `minarrow_spark/` is
reached from what the project runs: a registered (`@query`-decorated)
query, or code outside the package (`bench.py`, `__spark_entry__.py`,
`perfbench/`, `scripts/`). The scan follows `Name`/`Attribute` references
and `import ... as` aliases, function-local imports included, to a fixed
point. Tests are not roots: a helper only a test calls is dead engine
surface, unless it is the test's reference implementation or a COVERAGE.md
row cites it as evidence — those are listed in ALLOWED with that reason."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "minarrow_spark"
OUTSIDE = ("bench.py", "__spark_entry__.py", "perfbench/*.py", "scripts/*.py")

ALLOWED = {
    # test references: the composed or one-shot form a test checks the
    # engine's form against
    "operators.dedup.minhash_signatures": "test reference: composed MinHash pipeline",
    "operators.dedup.lsh_candidates": "test reference: composed MinHash pipeline",
    "operators.dedup.jaccard_pairs_arr": "test reference: composed MinHash pipeline",
    "operators.dedup.doc_shingle_arrays": "test reference: composed MinHash pipeline",
    "operators.dedup.simhash_dedup": "test reference: the only check of 64-bit SimHash banding",
    "operators.dedup.simhash_width_auto": "test reference: the only check of 64-bit SimHash banding",
    "functions.text.char_grams": "test reference: q37's n-gram sets",
    "operators.graph.pagerank": "test reference: pagerank_lumped",
    "operators.similarity.pq_codes": "test reference: the PQ asymmetric-distance table",
    "streaming.dedup.batch_twin": "test reference: the verdicts the dedup stream must equal",
    "streaming.ann.batch_twin": "test reference: the neighbours the ANN stream must equal",
    # COVERAGE.md evidence (row ID, or the extension row's name)
    "operators.categorical.dictionary_decode": "COVERAGE T17",
    "operators.sampling.weighted_sample_topk": "COVERAGE deterministic weighted sampling",
    "sources.arrow_ipc.ArrowIPCDataSource": "COVERAGE S4, ST6",
    "streaming.ingest.replay_dir": "COVERAGE U3, ST3",
    "streaming.ingest.run_to_memory": "COVERAGE ST6 (memory-sink streaming tests)",
    "streaming.windows.windowed_counts": "COVERAGE ST4",
    "streaming.windows.stream_pair_join": "COVERAGE ST5",
    "streaming.windows.dedup_within_watermark": "COVERAGE ST7",
    "streaming.windows.running_totals_per_user": "COVERAGE ST7",
    "streaming.dedup.streaming_dedup": "COVERAGE incremental streaming dedup",
    "streaming.ann.streaming_ann": "COVERAGE incremental streaming ANN",
    "table.MinTable": (
        "COVERAGE cube row (stack_on), P1-P5, S2, S3, S6: the facade over "
        "the projection and Arrow-interop functions those rows cite"
    ),
}


class _Module:
    def __init__(self, path: str, source: str):
        self.name = path.removesuffix(".py").removesuffix("/__init__").replace("/", ".")
        self.tree = ast.parse(source)
        self.defs: dict[str, ast.AST] = {}  # module-level def/class/assign target
        self.roots: list[ast.AST] = []  # module-level statements run on import
        for stmt in self.tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs[stmt.name] = stmt
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                names = [
                    n.id
                    for t in targets
                    for n in (t.elts if isinstance(t, ast.Tuple) else [t])
                    if isinstance(n, ast.Name)
                ]
                for name in names:
                    self.defs[name] = stmt
                if not names:
                    self.roots.append(stmt)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                self.roots.append(stmt)
        self.aliases = imports(self.tree.body)


def imports(body: list[ast.AST]) -> dict[str, tuple[str, str | None]]:
    """Bound name -> (module, attribute or None for the module itself) for
    every absolute import anywhere under ``body`` (the scanned code has no
    relative imports)."""
    out: dict[str, tuple[str, str | None]] = {}
    for stmt in body:
        for n in ast.walk(stmt):
            if isinstance(n, ast.Import):
                for a in n.names:
                    if a.asname:
                        out[a.asname] = (a.name, None)
                    else:
                        head = a.name.partition(".")[0]
                        out[head] = (head, None)
            elif isinstance(n, ast.ImportFrom):
                assert not n.level, "relative import: teach the scanner"
                for a in n.names:
                    out[a.asname or a.name] = (n.module, a.name)
    return out


class Reach:
    """Reachability over the parsed modules; ``sources`` maps repo-relative
    paths to source text."""

    def __init__(self, sources: dict[str, str], package: str = PACKAGE):
        self.package = package
        self.query = (f"{package}.registry", "query")
        self.modules = {m.name: m for m in (_Module(p, s) for p, s in sources.items())}

    def in_package(self, mod: str) -> bool:
        return mod == self.package or mod.startswith(self.package + ".")

    def lookup(self, mod: str, name: str, seen=()) -> tuple[str, str | None] | None:
        """Follow re-exports: ('module', name) of the definition ``mod.name``
        binds, ('module', None) for a submodule, None outside the scan."""
        if f"{mod}.{name}" in self.modules:
            return f"{mod}.{name}", None
        m = self.modules.get(mod)
        if m is None or (mod, name) in seen:
            return None
        if name in m.defs:
            return mod, name
        if name in m.aliases:
            return self.target(m.aliases[name], seen + ((mod, name),))
        return None

    def target(self, alias: tuple[str, str | None], seen=()):
        mod, name = alias
        if name is None:
            return (mod, None) if mod in self.modules else None
        return self.lookup(mod, name, seen)

    def references(self, mod: _Module, nodes: list[ast.AST]) -> set[tuple[str, str]]:
        """Definitions named by ``nodes`` (module-level aliases overlaid with
        the imports inside ``nodes`` themselves)."""
        scope = {**mod.aliases, **imports(nodes)}

        def resolve(n: ast.AST):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                if n.id in scope:
                    return self.target(scope[n.id])
                return (mod.name, n.id) if n.id in mod.defs else None
            if isinstance(n, ast.Attribute):
                base = resolve(n.value)
                if base and base[1] is None:
                    return self.lookup(base[0], n.attr)
            return None

        found = set()
        for node in nodes:
            for n in ast.walk(node):
                r = resolve(n)
                if r and r[1] is not None:
                    found.add(r)
        return found

    def is_query(self, mod: _Module, fn: ast.AST) -> bool:
        for d in getattr(fn, "decorator_list", ()):
            call = d.func if isinstance(d, ast.Call) else d
            if self.query in self.references(mod, [call]):
                return True
        return False

    def roots(self) -> list[tuple[str, str]]:
        """Registered queries, the package's import-time statements, and
        everything code outside the package names."""
        out: list[tuple[str, str]] = []
        for m in self.modules.values():
            if not self.in_package(m.name):
                out += self.references(m, m.tree.body)
                continue
            out += self.references(m, m.roots)
            out += [(m.name, n) for n, d in m.defs.items() if self.is_query(m, d)]
        return out

    def reached(self, todo: list[tuple[str, str]]) -> set[tuple[str, str]]:
        """Fixed point of the references of ``todo``."""
        seen: set[tuple[str, str]] = set()
        while todo:
            key = todo.pop()
            if key in seen or key[1] not in self.modules[key[0]].defs:
                continue
            seen.add(key)
            m = self.modules[key[0]]
            todo += self.references(m, [m.defs[key[1]]])
        return seen

    def definitions(self) -> dict[str, tuple[str, str]]:
        """Dotted name relative to the package -> key, for every
        module-level function, class and constant of the package."""
        prefix = len(self.package) + 1
        return {
            (f"{m.name[prefix:]}.{name}" if m.name != self.package else name): (m.name, name)
            for m in self.modules.values()
            if self.in_package(m.name)
            for name in m.defs
            if name != "__all__"
        }

    def unreached(self, allowed=()) -> list[str]:
        """Definitions neither the roots nor the ``allowed`` ones (and what
        those use) reach."""
        defs = self.definitions()
        live = self.reached(self.roots() + [defs[a] for a in allowed if a in defs])
        return sorted(name for name, key in defs.items() if key not in live)


def repo_sources() -> dict[str, str]:
    paths = sorted(REPO.glob(f"{PACKAGE}/**/*.py"))
    for pattern in OUTSIDE:
        paths += sorted(REPO.glob(pattern))
    return {p.relative_to(REPO).as_posix(): p.read_text() for p in paths}


def test_scanner_follows_aliases_and_local_imports():
    sources = {
        "pkg/__init__.py": "from pkg.ops import exported\n",
        "pkg/registry.py": "def query(name):\n    return lambda f: f\n",
        "pkg/ops.py": (
            "import pkg.util as u\n"
            "def exported(): return helper()\n"
            "def helper(): return u.deep()\n"
            "def lazy_target(): pass\n"
            "def only_tests(): return u.orphan()\n"
            "class Used: pass\n"
            "class Unused: pass\n"
            "TABLE = {'k': Used}\n"
            "A, B = 1, 2\n"
        ),
        "pkg/util.py": "from pkg import ops\ndef deep(): return ops.A\ndef orphan(): pass\n",
        "pkg/queries.py": (
            "from pkg.registry import query\n"
            "@query('q1')\n"
            "def q1(spark, d):\n"
            "    from pkg.ops import lazy_target as lt\n"
            "    return lt()\n"
            "def not_registered(): pass\n"
        ),
        "scripts/run.py": "import pkg\nfrom pkg import ops as o\npkg.exported(); o.TABLE\n",
    }
    reach = Reach(sources, package="pkg")
    assert reach.unreached() == [
        "ops.B", "ops.Unused", "ops.only_tests", "queries.not_registered", "util.orphan",
    ]
    assert reach.unreached(["ops.only_tests"]) == [
        "ops.B", "ops.Unused", "queries.not_registered",
    ]


def test_every_engine_definition_is_reached_or_allowed():
    reach = Reach(repo_sources())
    defs = reach.definitions()
    live = reach.reached(reach.roots())
    stale = sorted(a for a in ALLOWED if a not in defs or defs[a] in live)
    dead = reach.unreached(ALLOWED)
    assert not dead and not stale, (
        f"module-level definitions in {PACKAGE}/ that no query, stream, "
        f"benchmark or script reaches (delete them, or allow-list one with "
        f"its test-reference or COVERAGE reason): {dead}; "
        f"ALLOWED entries that are gone or now reached anyway: {stale}"
    )
