"""Every top-level def in the library is reached from the contract.

The contract is what a user or the driver runs: ``__spark_entry__.py``
(``queries()``/``oracle_sql()``), ``bench.py``, ``e2ebench/``, ``tools/``,
the CLI, the daemon and the engine, plus the module-level code of every
library module (registries, decorators, default arguments). A function
that only tests reach is dead weight: it either gets a caller in the
contract or goes, together with its tests.

The check is a static AST walk, no Spark session: it follows ``Name`` and
``Attribute`` references through each module's imports, transitively from
the roots, and fails on any library def that is neither reached nor on
``ALLOWED`` below. A mention in a docstring or comment is not a reference.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
LIB = REPO / "kausaldb_spark"

#: library modules whose every def is a root (the CLI, daemon and engine
#: surfaces are the contract itself)
ROOT_MODULES = ("kausaldb_spark.cli", "kausaldb_spark.server", "kausaldb_spark.engine")

#: unreached defs that stay, one reason each
ALLOWED = {
    # reference models that tests compare live Spark paths against
    "kausaldb_spark.sources.robots.robots_decision":
        "pure RFC 9309 model the robots filter is checked against",
    "kausaldb_spark.sources.warc._host_of":
        "pure host model the WARC host column is checked against",
    "kausaldb_spark.functions.text.simhash64":
        "column-level SimHash model the dedup signature path is checked against",
    "kausaldb_spark.functions.text.simhash64_bands":
        "band model behind simhash64, checked against the dedup bands",
    "kausaldb_spark.graphmodel.edges":
        "DataFrame edge builder the shared graph SQL text is checked against",
    # test harnesses for live code (deleting them would move their bodies
    # into the tests, not remove them)
    "kausaldb_spark.sources.ingest.ingest_directory":
        "drives parse_files + resolve_and_build in the parser-fidelity tests",
    "kausaldb_spark.sources.multimodal.synthetic_assets":
        "asset fixture for the content_address and binary-dedup tests",
    "kausaldb_spark.streaming.events.incremental_ingest":
        "exactly-once appender behind the windowed_rollup kill/restart test",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _is_def(node: ast.AST) -> bool:
    return isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))


class _Index:
    """Library modules, their top-level defs and their import bindings."""

    def __init__(self) -> None:
        self.paths = {_module_name(p): p for p in sorted(LIB.rglob("*.py"))}
        self.trees = {m: ast.parse(p.read_text(), str(p)) for m, p in self.paths.items()}
        self.defs = {
            (m, n.name): n
            for m, tree in self.trees.items()
            for n in tree.body
            if _is_def(n)
        }
        self.bindings = {m: self.bind(m, t) for m, t in self.trees.items()}

    def _absolute(self, module: str, node: ast.ImportFrom) -> str:
        if node.level == 0:
            return node.module or ""
        pkg = module.split(".")
        if self.paths[module].name != "__init__.py":
            pkg = pkg[:-1]
        pkg = pkg[: len(pkg) - (node.level - 1)]
        return ".".join(pkg + ([node.module] if node.module else []))

    def bind(self, module: str, tree: ast.AST) -> tuple[dict, dict]:
        """(names, modules): local name -> (module, attr) for ``from m
        import x``, and local name -> module for module imports. Imports
        inside function bodies count: the code that uses them is walked
        only when the function is reached."""
        names: dict[str, tuple[str, str]] = {}
        modules: dict[str, str] = {}
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom):
                src = self._absolute(module, n) if module else (n.module or "")
                for a in n.names:
                    local = a.asname or a.name
                    if f"{src}.{a.name}" in self.paths:
                        modules[local] = f"{src}.{a.name}"
                    else:
                        names[local] = (src, a.name)
            elif isinstance(n, ast.Import):
                for a in n.names:
                    if a.asname:
                        modules[a.asname] = a.name
                    else:
                        head = a.name.split(".")[0]
                        modules[head] = head
        return names, modules

    def resolve(self, module: str, name: str, hops: int = 0) -> set:
        """The def ``module.name`` names, following re-exports."""
        if (module, name) in self.defs:
            return {(module, name)}
        if module in self.bindings and hops < 8:
            names, _ = self.bindings[module]
            if name in names:
                return self.resolve(*names[name], hops + 1)
        return set()

    def references(self, module: str | None, nodes, bindings) -> set:
        names, modules = bindings
        out: set = set()
        for root in nodes:
            for n in ast.walk(root):
                if isinstance(n, ast.Name):
                    if module and (module, n.id) in self.defs:
                        out.add((module, n.id))
                    elif n.id in names:
                        out |= self.resolve(*names[n.id])
                elif isinstance(n, ast.Attribute):
                    chain = []
                    base = n
                    while isinstance(base, ast.Attribute):
                        chain.append(base.attr)
                        base = base.value
                    if not isinstance(base, ast.Name) or base.id not in modules:
                        continue
                    target, rest = modules[base.id], chain[::-1]
                    while rest and f"{target}.{rest[0]}" in self.paths:
                        target = f"{target}.{rest[0]}"
                        rest = rest[1:]
                    if rest:
                        out |= self.resolve(target, rest[0])
        return out


def _module_level(tree: ast.Module) -> list:
    """Statements that run at import: everything but def bodies, plus the
    decorators and default arguments of the defs."""
    out = []
    for n in tree.body:
        if not _is_def(n):
            out.append(n)
            continue
        out += n.decorator_list
        if not isinstance(n, ast.ClassDef):
            out += n.args.defaults + [d for d in n.args.kw_defaults if d]
    return out


def _contract_scripts() -> list[Path]:
    scripts = [REPO / "__spark_entry__.py", REPO / "bench.py"]
    for d in ("e2ebench", "tools"):
        scripts += sorted(
            p for p in (REPO / d).rglob("*.py")
            if "tests" not in p.relative_to(REPO).parts
        )
    return scripts


def _unreached(index: _Index) -> dict[str, ast.AST]:
    start: set = set()
    for m, tree in index.trees.items():
        start |= index.references(m, _module_level(tree), index.bindings[m])
    for path in _contract_scripts():
        tree = ast.parse(path.read_text(), str(path))
        start |= index.references(None, [tree], index.bind("", tree))
    start |= {k for k in index.defs if k[0] in ROOT_MODULES}

    seen: set = set()
    stack = list(start)
    while stack:
        key = stack.pop()
        if key in seen:
            continue
        seen.add(key)
        m = key[0]
        stack.extend(index.references(m, [index.defs[key]], index.bindings[m]))
    return {f"{m}.{n}": node for (m, n), node in index.defs.items() if (m, n) not in seen}


@pytest.fixture(scope="module")
def reach():
    index = _Index()
    return index, _unreached(index)


def test_every_library_def_is_reached_from_the_contract(reach):
    _, unreached = reach
    dead = sorted(
        f"{name} (line {node.lineno})"
        for name, node in unreached.items()
        if name not in ALLOWED
    )
    assert not dead, (
        "library defs no contract entry point reaches — give each a caller "
        "or delete it with its tests:\n  " + "\n  ".join(dead)
    )


def test_allowlist_is_current(reach):
    index, unreached = reach
    defined = {f"{m}.{n}" for m, n in index.defs}
    missing = sorted(set(ALLOWED) - defined)
    reached = sorted(name for name in ALLOWED if name in defined and name not in unreached)
    assert not missing, f"ALLOWED names defs that no longer exist: {missing}"
    assert not reached, f"ALLOWED names defs the contract now reaches: {reached}"
