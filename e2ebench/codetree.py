"""Seeded synthetic Python code tree with a ground-truth code graph.

The generator writes a package tree whose call, method and import graph it
knows by construction, and it answers every daemon request the benchmark
sends from that model, without parsing the files it wrote.

Resolution follows the engine's documented rule
(``kausaldb_spark.sources.ingest.resolve_and_build``): a reference binds to
the unit with that bare name in the same file, else to the only unit with
that bare name in the codebase, else it is dropped. The generator writes
only references whose Python meaning agrees with that rule:

- plain calls ``name(v)`` to a function or class of the same file, including
  names that other files define too (``SHARED``), so file-local-first
  resolution decides the target;
- ``self.method(v)`` to a method of the same class;
- module-qualified calls ``alias.name(v)`` and ``alias.Cls().method(v)`` to
  names defined once in the codebase;
- ``from pkg.mod import name as ref_name`` imports of names defined once.

Unit ids, edge multisets and block contents are derived here from the
rendered text layout, so every reply can be compared field by field.
"""

from __future__ import annotations

import json
import hashlib
import os
import random
import shutil
from dataclasses import dataclass, field

#: function names several files define; only ever called file-locally
SHARED = ("process", "validate", "render", "setup", "cleanup", "handle")
#: method name several classes define; only ever called through ``self``
SHARED_METHOD = "describe"
_VERBS = ("load", "parse", "merge", "emit", "scan", "build", "check", "fold",
          "split", "index", "rank", "trim", "pack", "sort", "sync", "read")
_NOUNS = ("config", "token", "block", "edge", "graph", "frame", "batch", "file",
          "query", "cache", "shard", "entry", "range", "node", "span", "row")
_BUILTINS = ("len", "sorted", "abs", "min", "max")
#: search vocabulary: fixed-width tokens, so substring match == token match
N_KEYWORDS = 400


def keyword(i: int) -> str:
    return f"kw{i:04d}"


def block_id(codebase: str, unit_id: str) -> str:
    """Block id exactly as the ingest path derives it: md5(codebase/unit_id)."""
    return hashlib.md5(f"{codebase}/{unit_id}".encode()).hexdigest()


@dataclass
class Fn:
    name: str
    # ("local", name) | ("self", method) | ("mod", module, name)
    # | ("modm", module, cls, method) | ("builtin", name)
    calls: list[tuple] = field(default_factory=list)
    kws: tuple[str, ...] = ()


@dataclass
class Cls:
    name: str
    base: str | None
    methods: list[Fn] = field(default_factory=list)


@dataclass
class Module:
    path: str                                   # "pkg1/mod3.py"
    imports: list[str] = field(default_factory=list)        # module paths
    from_imports: list[tuple[str, str]] = field(default_factory=list)
    consts: list[str] = field(default_factory=list)
    funcs: list[Fn] = field(default_factory=list)
    classes: list[Cls] = field(default_factory=list)


def _dotted(path: str) -> str:
    return path[:-3].replace("/", ".")


def _alias(path: str) -> str:
    return path[:-3].replace("/", "_")


@dataclass
class Unit:
    file: str
    qual: str      # qualified name: f, Cls, Cls.m, alias, CONST
    kind: str      # function | type | import | const
    content: str

    @property
    def unit_id(self) -> str:
        return f"{self.file}:{self.qual}"

    @property
    def bare(self) -> str:
        return self.qual.rsplit(".", 1)[-1]


def _call_expr(call: tuple) -> str:
    kind = call[0]
    if kind in ("local", "builtin"):
        return f"{call[1]}(v)" if kind == "local" else f"{call[1]}([v]) + v"
    if kind == "self":
        return f"self.{call[1]}(v)"
    if kind == "mod":
        return f"{_alias(call[1])}.{call[2]}(v)"
    return f"{_alias(call[1])}.{call[2]}().{call[3]}(v)"


def _raw_refs(src_qual: str, call: tuple) -> list[tuple[str, str, str]]:
    """(src, dst bare name, edge type) rows the parser emits for one call."""
    kind = call[0]
    if kind in ("local", "builtin"):
        return [(src_qual, call[1], "calls")]
    if kind == "self":
        return [(src_qual, call[1], "calls_method")]
    if kind == "mod":
        return [(src_qual, call[2], "calls_method")]
    return [(src_qual, call[3], "calls_method"), (src_qual, call[2], "calls_method")]


def _render_fn(fn: Fn, indent: str, is_method: bool) -> list[str]:
    args = "self, v" if is_method else "v"
    lines = [f"{indent}def {fn.name}({args}):",
             f'{indent}    """{" ".join(fn.kws)}"""',
             f"{indent}    v = v + 1"]
    lines += [f"{indent}    v = {_call_expr(c)}" for c in fn.calls]
    lines.append(f"{indent}    return v")
    return lines


def render(mod: Module) -> tuple[str, list[Unit], list[tuple[str, str, str]]]:
    """Module → (source text, units, raw (src, dst_bare, type) references)."""
    lines: list[str] = []
    units: list[Unit] = []
    refs: list[tuple[str, str, str]] = []

    def add(kind: str, qual: str, seg: list[str]) -> None:
        units.append(Unit(mod.path, qual, kind, "\n".join(seg)))

    for p in mod.imports:
        line = f"import {_dotted(p)} as {_alias(p)}"
        lines.append(line)
        add("import", _alias(p), [line])
    for p, name in mod.from_imports:
        line = f"from {_dotted(p)} import {name} as ref_{name}"
        lines.append(line)
        add("import", f"ref_{name}", [line])
        refs.append((f"ref_{name}", name, "imports"))
    if lines:
        lines.append("")
    for c in mod.consts:
        line = f"{c} = {len(c)}"
        lines.append(line)
        add("const", c, [line])
    for fn in mod.funcs:
        lines += ["", ""]
        seg = _render_fn(fn, "", False)
        lines += seg
        add("function", fn.name, seg)
        for c in fn.calls:
            refs += _raw_refs(fn.name, c)
    for cls in mod.classes:
        lines += ["", ""]
        seg = [f"class {cls.name}({cls.base}):" if cls.base else f"class {cls.name}:"]
        if cls.base:
            refs.append((cls.name, cls.base, "extends"))
        method_units = []
        for i, m in enumerate(cls.methods):
            if i:
                seg.append("")
            mseg = _render_fn(m, "    ", True)
            seg += mseg
            qual = f"{cls.name}.{m.name}"
            method_units.append(Unit(mod.path, qual, "function", "\n".join(mseg)))
            refs.append((qual, cls.name, "method_of"))
            for c in m.calls:
                refs += _raw_refs(qual, c)
        lines += seg
        add("type", cls.name, seg)
        units += method_units
    return "\n".join(lines) + "\n", units, refs


class CodeTree:
    """The model: modules, plus the graph the engine must report for them."""

    def __init__(self, modules: dict[str, Module], codebase: str):
        self.modules = modules
        self.codebase = codebase
        self._rebuild()

    # -- derived graph -----------------------------------------------------

    def _rebuild(self) -> None:
        self.sources: dict[str, str] = {}
        self.units: list[Unit] = []
        raw: list[tuple[str, str, str, str]] = []
        for path in sorted(self.modules):
            text, units, refs = render(self.modules[path])
            self.sources[path] = text
            self.units += units
            raw += [(path, s, d, t) for s, d, t in refs]
        per_file: dict[tuple[str, str], str] = {}
        by_bare: dict[str, set[str]] = {}
        for u in self.units:
            key = (u.file, u.bare)
            per_file[key] = min(per_file.get(key, u.unit_id), u.unit_id)
            by_bare.setdefault(u.bare, set()).add(u.unit_id)
        self.by_id = {u.unit_id: u for u in self.units}
        self.edges: list[tuple[str, str, str]] = []   # (src uid, dst uid, type)
        for path, src, dst, etype in raw:
            target = per_file.get((path, dst))
            if target is None and len(by_bare.get(dst, ())) == 1:
                target = next(iter(by_bare[dst]))
            src_uid = f"{path}:{src}"
            if target is not None and target != src_uid:
                self.edges.append((src_uid, target, etype))

    def write(self, root: str) -> None:
        """Mirror the model onto ``root``: write changed files, delete gone ones."""
        os.makedirs(root, exist_ok=True)
        on_disk = set()
        for dirpath, _dirs, files in os.walk(root):
            if ".git" in dirpath.split(os.sep):
                continue
            for f in files:
                if f.endswith(".py"):
                    on_disk.add(os.path.relpath(os.path.join(dirpath, f), root))
        for rel in on_disk - set(self.sources):
            os.remove(os.path.join(root, rel))
        for rel, text in self.sources.items():
            ap = os.path.join(root, rel)
            os.makedirs(os.path.dirname(ap), exist_ok=True)
            try:
                with open(ap, encoding="utf-8") as fh:
                    if fh.read() == text:
                        continue
            except FileNotFoundError:
                pass
            with open(ap, "w", encoding="utf-8") as fh:
                fh.write(text)

    def source_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.sources.values())

    def bid(self, uid: str) -> str:
        return block_id(self.codebase, uid)

    # -- expected answers --------------------------------------------------

    def find(self, unit_type: str, name: str) -> dict[str, str]:
        """{unit_id: content} of ``find --type unit_type --name name``."""
        return {u.unit_id: u.content for u in self.units
                if u.kind == unit_type and u.qual == name}

    def _anchors(self, relation: str, name: str) -> set[str]:
        if relation == "callees":
            return set(self.find("function", name))
        if relation == "callers":
            return set(self.find("function", name)) or set(self.find("type", name))
        return set().union(*(self.find(t, name) for t in ("function", "type", "const")))

    def show(self, relation: str, name: str) -> set[str]:
        """unit_ids of ``show --relation relation --target name`` (depth 1)."""
        anchors = self._anchors(relation, name)
        call_types = ("calls", "calls_method")
        out: set[str] = set()
        for s, d, t in self.edges:
            if relation == "callers" and t in call_types and d in anchors:
                out.add(s)
            elif relation == "callees" and t in call_types and s in anchors:
                out.add(d)
            elif relation == "references" and t == "imports":
                if d in anchors:
                    out.add(s)
                if s in anchors:
                    out.add(d)
        return out - anchors

    def trace(self, a_name: str, b_name: str, max_depth: int,
              max_paths: int = 100) -> list[tuple[str, int]]:
        """[(path, depth)] of ``trace``: simple paths over every edge type,
        shortest first then by path text, at most ``max_paths``."""
        def one(name):
            for t in ("function", "type"):
                hits = sorted(self.find(t, name))
                if hits:
                    return self.bid(hits[0])
            return None

        a, b = one(a_name), one(b_name)
        if a is None or b is None:
            return []
        adj: dict[str, set[str]] = {}
        for s, d, _t in self.edges:
            adj.setdefault(self.bid(s), set()).add(self.bid(d))
        done = [(a, 0)] if a == b else []
        frontier = [(a, a)]
        for depth in range(1, max_depth + 1):
            if len(done) >= max_paths:
                break
            frontier = sorted({
                (f"{path}->{nxt}", nxt)
                for path, last in frontier for nxt in adj.get(last, ())
                if nxt not in path
            })
            if not frontier:
                break
            done += [(p, depth) for p, last in frontier if last == b]
        return sorted(done, key=lambda pd: (pd[1], pd[0]))[:max_paths]

    def search(self, query: str, threshold: float = 0.7,
               extra_blocks: dict[str, str] | None = None) -> list[str]:
        """Ordered block ids of ``search --query query``: score = share of
        space-split query words contained in the content, kept at
        score >= threshold, ordered by score desc then id, capped at 500."""
        words = [w for w in query.split(" ") if w]
        contents = {self.bid(u.unit_id): u.content for u in self.units}
        contents.update(extra_blocks or {})
        scored = []
        for bid, text in contents.items():
            score = sum(w in text for w in words) / len(words)
            if score >= threshold:
                scored.append((-score, bid))
        return [bid for _s, bid in sorted(scored)[:500]]

    def counts(self) -> dict[str, int]:
        return {"blocks": len(self.units), "edges": len(self.edges)}


# -- generation ----------------------------------------------------------------


class Namer:
    """Codebase-unique identifiers."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.n = 0

    def fn(self) -> str:
        self.n += 1
        return f"{self.rng.choice(_VERBS)}_{self.rng.choice(_NOUNS)}{self.n}"

    def cls(self) -> str:
        self.n += 1
        return f"{self.rng.choice(_NOUNS).title()}{self.rng.choice(_VERBS).title()}{self.n}"

    def method(self) -> str:
        self.n += 1
        return f"do_{self.rng.choice(_VERBS)}{self.n}"

    def const(self) -> str:
        self.n += 1
        return f"{self.rng.choice(_NOUNS).upper()}_LIMIT{self.n}"


def zipf_pick(rng: random.Random, items: list, s: float = 1.1):
    """One item, rank-Zipf weighted (item 0 hottest)."""
    weights = [1.0 / (i + 1) ** s for i in range(len(items))]
    return rng.choices(items, weights=weights, k=1)[0]


class TreeGen:
    """Builds a seeded tree. All randomness flows from ``seed``."""

    def __init__(self, seed: int, n_files: int = 60, codebase: str = "bench"):
        self.rng = random.Random(seed)
        self.namer = Namer(self.rng)
        self.n_files = n_files
        self.codebase = codebase
        self.kw_order = list(range(N_KEYWORDS))
        self.rng.shuffle(self.kw_order)

    def _kws(self) -> tuple[str, ...]:
        picks = {zipf_pick(self.rng, self.kw_order, 0.9) for _ in range(2)}
        return tuple(keyword(i) for i in sorted(picks))

    # unique, cross-file-callable targets of a module
    @staticmethod
    def exports(mod: Module) -> list[tuple]:
        out = [("mod", mod.path, f.name) for f in mod.funcs if f.name not in SHARED]
        out += [("mod", mod.path, c.name) for c in mod.classes]
        out += [("modm", mod.path, c.name, m.name) for c in mod.classes
                for m in c.methods if m.name != SHARED_METHOD]
        return out

    def _calls(self, mod: Module, tree: dict[str, Module], self_fn: str,
               cls: Cls | None) -> list[tuple]:
        rng = self.rng
        calls: list[tuple] = []
        for _ in range(rng.randint(1, 4)):
            r = rng.random()
            if r < 0.4:
                local = [f.name for f in mod.funcs if f.name != self_fn]
                local += [c.name for c in mod.classes]
                if cls is not None:
                    local = [("self", m.name) for m in cls.methods if m.name != self_fn]
                    pick = rng.choice(local) if local else None
                    if pick and pick not in calls:
                        calls.append(pick)
                    continue
                if local:
                    c = ("local", rng.choice(local))
                    if c not in calls:
                        calls.append(c)
            elif r < 0.9:
                others = [m for p, m in tree.items() if p != mod.path and self.exports(m)]
                if others:
                    target = rng.choice(self.exports(rng.choice(others)))
                    if target not in calls:
                        calls.append(target)
                        if target[1] not in mod.imports:
                            mod.imports.append(target[1])
            else:
                c = ("builtin", rng.choice(_BUILTINS))
                if c not in calls:
                    calls.append(c)
        return calls

    def _module(self, path: str, tree: dict[str, Module], shared_ok: bool) -> Module:
        rng = self.rng
        mod = Module(path)
        mod.consts = [self.namer.const() for _ in range(rng.randint(0, 2))]
        names = [self.namer.fn() for _ in range(rng.randint(2, 5))]
        if shared_ok and rng.random() < 0.5:
            names.append(rng.choice(SHARED))
        mod.funcs = [Fn(n, kws=self._kws()) for n in names]
        if rng.random() < 0.6:
            base = None
            for _ in range(rng.randint(1, 2)):
                cls = Cls(self.namer.cls(), base)
                cls.methods = [Fn(self.namer.method(), kws=self._kws())
                               for _ in range(rng.randint(1, 3))]
                if base is None and rng.random() < 0.5:
                    cls.methods.append(Fn(SHARED_METHOD, kws=self._kws()))
                mod.classes.append(cls)
                base = cls.name
        tree[path] = mod
        for fn in mod.funcs:
            fn.calls = self._calls(mod, tree, fn.name, None)
        for cls in mod.classes:
            for m in cls.methods:
                m.calls = self._calls(mod, tree, m.name, cls)
        # shared names are called file-locally, never across files
        shared = [f for f in mod.funcs if f.name in SHARED]
        for f in shared:
            callers = [g for g in mod.funcs if g is not f]
            for g in rng.sample(callers, min(len(callers), 2)):
                if ("local", f.name) not in g.calls:
                    g.calls.append(("local", f.name))
        return mod

    def _from_imports(self, mod: Module, tree: dict[str, Module]) -> None:
        others = [m for p, m in tree.items() if p != mod.path]
        for _ in range(self.rng.randint(0, 2)):
            target = self.rng.choice(others)
            names = [f.name for f in target.funcs if f.name not in SHARED]
            names += [c.name for c in target.classes]
            if names:
                pick = (target.path, self.rng.choice(names))
                if pick not in mod.from_imports:
                    mod.from_imports.append(pick)

    def generate(self) -> CodeTree:
        tree: dict[str, Module] = {}
        n_pkgs = max(1, self.n_files // 10)
        paths = [f"pkg{i % n_pkgs}/mod{i}.py" for i in range(self.n_files)]
        for p in paths:
            self._module(p, tree, shared_ok=True)
        for p in paths:
            self._from_imports(tree[p], tree)
        return CodeTree(tree, self.codebase)


def init_tree_dir(root: str) -> None:
    """Fresh directory for a generated tree."""
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)


# -- reply checking ------------------------------------------------------------

#: the engine keeps its workspace registry as one block with this id; its
#: content is JSON holding the linked path, so a search can match it
REGISTRY_BLOCK_ID = "1" * 32


def _rows(resp: dict) -> list[dict]:
    return [json.loads(line) for line in resp.get("output", "").splitlines() if line.strip()]


def _diff(got: set, want: set) -> str:
    return (f"missing {sorted(want - got)[:3]} ({len(want - got)}), "
            f"unexpected {sorted(got - want)[:3]} ({len(got - want)})")


def checker(tree: CodeTree, req: tuple, root: str):
    """Reply check for one daemon request: returns None when the reply is
    the model's answer, else a description of the mismatch."""
    kind = req[0]

    def failed(resp):
        return None if resp.get("ok") else f"not ok: {resp.get('error') or resp.get('output')}"

    def check_units(rows: list[dict], want: set[str]) -> str | None:
        got = {r["unit_id"] for r in rows}
        if got != want:
            return _diff(got, want)
        for r in rows:
            u = tree.by_id[r["unit_id"]]
            if r["id"] != tree.bid(u.unit_id) or r["content"] != u.content:
                return f"{u.unit_id}: stale id or content"
        return None

    if kind == "find":
        want = set(tree.find(req[1], req[2]))

        def check(resp):
            if not want:  # find answers "no rows" with exit code 1
                empty = resp.get("exit") == 1 and not resp.get("output")
                return None if empty else f"expected no rows, got {resp}"
            return failed(resp) or check_units(_rows(resp), want)
    elif kind == "show":
        want = tree.show(req[1], req[2])

        def check(resp):
            rows = _rows(resp) if resp.get("ok") else []
            if any(r["depth"] != 1 for r in rows):
                return "row beyond depth 1"
            return failed(resp) or check_units(rows, want)
    elif kind == "search":
        want_ids = tree.search(req[1], extra_blocks={REGISTRY_BLOCK_ID: root})

        def check(resp):
            got = [r["id"] for r in _rows(resp)]
            if got != want_ids:
                return f"order/ids differ: {_diff(set(got), set(want_ids))}"
            return failed(resp)
    elif kind == "trace":
        want_paths = [(p, d) for p, d in tree.trace(req[1], req[2], req[3])]

        def check(resp):
            got = [(r["path"], r["depth"]) for r in _rows(resp)]
            if got != want_paths:
                return f"{len(got)} paths, expected {len(want_paths)}"
            return failed(resp)
    elif kind == "status":
        want_counts = tree.counts()

        def check(resp):
            st = json.loads(resp["output"])
            cb = st["codebases"].get(tree.codebase, {})
            got = (st["blocks_visible"], st["edges"], cb.get("block_count"), cb.get("edge_count"))
            want = (want_counts["blocks"] + 1, want_counts["edges"],
                    want_counts["blocks"], want_counts["edges"])
            return failed(resp) or (None if got == want else f"status {got}, expected {want}")
    else:
        raise ValueError(f"unknown request kind {kind!r}")
    return check
