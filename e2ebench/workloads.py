"""The benchmark's workloads: closed loops of requests from one client.

Every workload drives the program through its public entry points: a
``KausalServer`` daemon on loopback with a ``KausalEngine`` behind it, and
one ``KausalClient`` connection that sends the next request only after the
previous reply arrived. Every reply is checked against the generator's
ground truth; a wrong or failed reply counts as a failed op.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import shutil
import subprocess
import time
from dataclasses import dataclass, field

import codetree as ct
import corpusgen as cg

CODEBASE = "bench"
#: files in the daemon_reads tree: about 1.6k blocks and 1.9k edges
TREE_FILES = 100
CORPUS_DOCS = 6000
#: documents in the warm-up corpus: enough for every curation stage to run
WARM_DOCS = 50
#: timed curation passes per window on curate_corpus: a fixed count, so
#: the number of samples does not hinge on how fast a pass runs
CURATE_PASSES = 1
TRACE_DEPTH = 4
#: requests a daemon_reads run can send before a cold target repeats (and
#: turns into a cache hit). A run sends about 50 on a 4-core box; the
#: tree must hold cold targets for many times that, so a faster program
#: still sees the same hit share.
COLD_REQUESTS = 1000
#: unit type of a cold find, with its share of cold finds
FIND_TYPES = (("function", 0.75), ("type", 0.15), ("const", 0.10))
#: one cycle of the daemon_reads mix: 40% find, 35% show, 10% search,
#: 10% trace, 5% status, interleaved so a short window keeps the proportions.
#: Slots marked hot ask for one of a few seeded targets the daemon has
#: already answered (the engine's result cache serves them); the other
#: slots ask for targets not asked before (the cache misses). Hits are
#: 5 of 20 requests in every run, whatever the seed.
READ_CYCLE = (
    ("find", False), ("callers", True), ("find", True), ("callees", False),
    ("search", False), ("find", False), ("callers", False), ("trace", False),
    ("find", False), ("callees", True), ("find", True), ("status", False),
    ("callers", False), ("find", False), ("search", True), ("callees", False),
    ("find", False), ("trace", False), ("find", False), ("references", False),
)


@dataclass
class Op:
    kind: str
    ms: float
    ok: bool
    timed: bool
    span: int | None = None
    cls: str = ""         # class of the op in its workload's nominal mix


@dataclass
class Run:
    """One workload run: its daemon, its ops and what it found wrong."""

    work: str
    tracer: object
    ops: list[Op] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    first_timed: float | None = None
    spark: object = None
    server: object = None
    client: object = None

    def start(self, spark_conf: dict[str, str]) -> None:
        from kausaldb_spark.engine import KausalEngine
        from kausaldb_spark.server import KausalClient, KausalServer
        from kausaldb_spark.session import get_spark

        self.spark = get_spark("kausal-bench", extra_conf=spark_conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.store = os.path.join(self.work, "store")
        self.engine = KausalEngine(self.spark, self.store)
        self.server = KausalServer(self.engine, self.store, port=0)
        self.server.serve_background()
        self.client = KausalClient(*self.server.server_address[:2])

    def stop(self) -> None:
        if self.client is not None:
            self.client.close()
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
        self.client = self.server = None

    def request(self, kind: str, argv: list[str], check, timed: bool = True,
                cls: str = "") -> None:
        """Send one request, time the round trip, check the reply."""
        if timed and self.first_timed is None:
            self.first_timed = time.monotonic()
        resp = None
        with self.tracer.request_span(f"server.{kind}") as span:
            t0 = time.perf_counter()
            try:
                resp = self.client.request(argv)
            except (OSError, ValueError) as exc:
                err = f"{kind}: {type(exc).__name__}: {exc}"
            ms = (time.perf_counter() - t0) * 1e3
        if resp is not None:
            try:
                err = check(resp)
            except (ValueError, KeyError, TypeError) as exc:
                err = f"unreadable reply: {type(exc).__name__}: {exc}"
            if err:
                err = f"{kind} {argv[-6:]}: {err}"
        if err and len(self.errors) < 20:
            self.errors.append(err)
        self.ops.append(Op(kind, ms, not err, timed, span, cls or kind))


def _git_init(root: str) -> None:
    """Make the tree its own work tree, as a user's checkout would be, so
    file listing never inherits an enclosing repository's ignore rules."""
    try:
        subprocess.run(["git", "init", "-q", root], check=False, timeout=30,
                       capture_output=True)
    except (OSError, subprocess.TimeoutExpired):
        pass


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files)


def _link(run: Run, tree: ct.CodeTree, root: str) -> None:
    want = tree.counts()

    def check(resp):
        if not resp.get("ok"):
            return resp.get("error") or resp.get("output")
        got = json.loads(resp["output"])
        if (got["blocks"], got["edges"]) != (want["blocks"], want["edges"]):
            return f"linked {got}, expected {want}"
        return None

    run.request("link", ["link", "--path", root, "--name", CODEBASE], check, timed=False)
    run.info["link_s"] = run.ops[-1].ms / 1e3


class ReadMix:
    """Seeded request stream for daemon_reads: the ``READ_CYCLE`` slots,
    each filled with a hot target or a target not asked before."""

    def __init__(self, tree: ct.CodeTree, seed: int):
        self.tree = tree
        self.rng = random.Random(seed * 7919 + 1)
        self._adj: dict[str, set[str]] = {}
        for src, dst, _t in tree.edges:
            self._adj.setdefault(src, set()).add(dst)
        by_kind: dict[str, list[str]] = {}
        for u in tree.units:
            by_kind.setdefault(u.kind, []).append(u.qual)
        for names in by_kind.values():
            names[:] = sorted(set(names))
            self.rng.shuffle(names)
        # trace endpoints and hot targets: names that resolve to one unit
        self.unique = [n for n in by_kind["function"] + by_kind["type"]
                       if len(tree.find("function", n) or tree.find("type", n)) == 1]
        # trace endpoints are functions, which the engine resolves with one
        # lookup (a class takes a second), and sources have a unit
        # TRACE_DEPTH hops out, so the engine expands every level: trace
        # cost then does not hinge on which endpoints the seed drew
        self.functions = [n for n in self.unique if tree.find("function", n)]
        self.deep = [n for n in self.functions if self._reachable(n)[1]]
        imported = sorted({d.split(":", 1)[1] for _s, d, t in tree.edges if t == "imports"})
        self.rng.shuffle(imported)
        hot_fn = self.functions[:2]
        self.hot = {
            "find": ("find", "function", hot_fn[0]),
            "callers": ("show", "callers", hot_fn[0]),
            "callees": ("show", "callees", hot_fn[1]),
            "search": ("search", ct.keyword(0)),
        }
        # the pools are disjoint: a show resolves its target with the same
        # cached lookup a find makes, so a name shared by two pools would
        # turn its second request into a partial cache hit
        hot_names = set(hot_fn)
        self.cold = {}
        for kind, names in [*by_kind.items(), ("imported", imported)]:
            taken = hot_names if kind == "imported" else hot_names | set(imported)
            pool = [n for n in names if n not in taken]
            need = self.cold_share().get(kind, 0.0) * COLD_REQUESTS
            if len(pool) < need:
                raise ValueError(f"{len(pool)} cold {kind} targets; {COLD_REQUESTS} "
                                 f"requests need {need:.0f}: the tree is too small")
            self.cold[kind] = itertools.cycle(pool)
        self.i = 0

    @staticmethod
    def cold_share() -> dict[str, float]:
        """Cold targets each request takes from each pool, on average."""
        share: dict[str, float] = {}
        pool_of = {"callers": "function", "callees": "function", "references": "imported"}
        for slot, hot in READ_CYCLE:
            if hot:
                continue
            if slot == "find":
                for t, w in FIND_TYPES:
                    share[t] = share.get(t, 0.0) + w / len(READ_CYCLE)
            elif slot in pool_of:
                share[pool_of[slot]] = share.get(pool_of[slot], 0.0) + 1 / len(READ_CYCLE)
        return share

    def _fresh(self, kind: str) -> str:
        return next(self.cold[kind])

    def warm_up(self) -> list[tuple]:
        """Requests that put the hot targets in the engine's result cache,
        then one trace and one status: those classes get one or two ops in
        a window, so their first, not yet compiled, run would set their
        median."""
        cold = []
        for slot in ("trace", "status"):
            while True:
                _kind, req, cls = self.next()
                if cls == slot:
                    cold.append(req)
                    break
        self.i = 0
        return list(self.hot.values()) + cold

    @staticmethod
    def mix() -> dict[str, float]:
        """Share of each slot class in the nominal mix."""
        classes = [ReadMix.cls(slot, hot) for slot, hot in READ_CYCLE]
        return {c: classes.count(c) / len(classes) for c in sorted(set(classes))}

    @staticmethod
    def cls(slot: str, hot: bool) -> str:
        return f"{slot}-hot" if hot else slot

    def next(self) -> tuple[str, tuple, str]:
        slot, hot = READ_CYCLE[self.i % len(READ_CYCLE)]
        self.i += 1
        rng = self.rng
        if hot:
            req = self.hot[slot]
        elif slot == "find":
            t = rng.choices([t for t, _w in FIND_TYPES], [w for _t, w in FIND_TYPES])[0]
            req = ("find", t, self._fresh(t))
        elif slot in ("callers", "callees"):
            req = ("show", slot, self._fresh("function"))
        elif slot == "references":
            req = ("show", "references", self._fresh("imported"))
        elif slot == "search":
            words = [ct.keyword(rng.randrange(1, ct.N_KEYWORDS))
                     for _ in range(1 if rng.random() < 0.8 else 2)]
            req = ("search", " ".join(words))
        elif slot == "trace":
            a = rng.choice(self.deep)
            reach = self._reachable(a)[0]
            b = rng.choice(reach) if reach and rng.random() < 0.8 else rng.choice(self.functions)
            req = ("trace", a, b, TRACE_DEPTH)
        else:
            req = ("status",)
        return req[0], req, self.cls(slot, hot)

    def _reachable(self, name: str) -> tuple[list[str], bool]:
        """(unique-named units within TRACE_DEPTH hops of ``name``, whether
        any unit lies exactly TRACE_DEPTH hops out)."""
        uid = next(iter(self.tree.find("function", name) or self.tree.find("type", name)))
        seen, frontier = {uid}, [uid]
        for _ in range(TRACE_DEPTH):
            frontier = [n for f in frontier for n in self._adj.get(f, ()) if n not in seen]
            seen.update(frontier)
        reach = sorted({self.tree.by_id[u].qual for u in seen - {uid}} & set(self.functions))
        return reach, bool(frontier)


def argv_for(req: tuple) -> list[str]:
    j = ["--format", "json"]
    kind = req[0]
    if kind == "find":
        return j + ["find", "--workspace", CODEBASE, "--type", req[1], "--name", req[2]]
    if kind == "show":
        return j + ["show", "--workspace", CODEBASE, "--relation", req[1], "--target", req[2]]
    if kind == "search":
        return j + ["search", "--query", req[1]]
    if kind == "trace":
        return j + ["trace", "--workspace", CODEBASE, "--from", req[1], "--to", req[2],
                    "--depth", str(req[3])]
    return ["status"]


def daemon_reads(run: Run, seed: int, seconds: float, spark_conf: dict, traced: bool) -> None:
    root = os.path.join(run.work, "tree")
    tree = ct.TreeGen(seed, n_files=TREE_FILES, codebase=CODEBASE).generate()
    ct.init_tree_dir(root)
    tree.write(root)
    _git_init(root)
    run.start(spark_conf)
    run.tracer.enabled = traced  # the traced run also breaks down the link
    _link(run, tree, root)
    run.tracer.enabled = False
    run.info["files_parsed"] = len(tree.sources)
    run.info["store_bytes_per_src_byte"] = _dir_bytes(run.store) / tree.source_bytes()
    mix = ReadMix(tree, seed)
    # the warm-up also pays the daemon's one-off session set-up (the first
    # show persists the snapshots), which a resident daemon pays once
    for req in mix.warm_up():
        run.request(req[0], argv_for(req), ct.checker(tree, req, root), timed=False)
    windows = (False, True) if traced else (False,)
    for tracing in windows:
        run.tracer.enabled = tracing
        end = time.monotonic() + seconds
        while time.monotonic() < end:
            kind, req, cls = mix.next()
            run.request(kind, argv_for(req), ct.checker(tree, req, root), cls=cls)
        run.tracer.enabled = False
    run.info["mix"] = ReadMix.mix()
    run.info["cache_hits"] = run.engine.stats.cache_hits
    run.info["cache_misses"] = run.engine.stats.cache_misses


def curate_corpus(run: Run, seed: int, seconds: float, spark_conf: dict, traced: bool) -> None:
    """Curation passes (curate, then verify-shards) over a seeded corpus.

    An untimed pass over a small corpus first compiles and warms every
    stage, as a resident daemon's first curation would. Each window then
    times ``CURATE_PASSES`` passes over the full corpus, whatever
    ``seconds`` says: a pass takes 12-25 s on a 4-core box, and a time
    window would let a second, warmer pass in once a pass got faster.
    Every pass over a corpus must write the shard digests of the first pass
    over it (same corpus, same seed, same shards); only a traced run, with
    its two windows, passes over the full corpus twice. A second pass per
    run, to check that in every run, does not fit the benchmark's time
    budget."""
    corpus = os.path.join(run.work, "corpus.parquet")
    warm = os.path.join(run.work, "warm.parquet")
    planted = cg.write(corpus, seed, CORPUS_DOCS)
    warm_planted = cg.write(warm, seed + 1, WARM_DOCS)
    run.start(spark_conf)
    digests: dict[str, list] = {}

    def one_pass(path: str, n_docs: int, truth: dict, timed: bool, k: int) -> None:
        out = os.path.join(run.work, f"shards{k}")

        def check_curate(resp):
            if not resp.get("ok"):
                return resp.get("error") or resp.get("output")
            manifest = json.loads(resp["output"])
            errs = cg.check_funnel(manifest, truth, n_docs)
            got = [s["digest"] for s in manifest["shards"]]
            if digests.setdefault(path, got) != got:
                errs.append("same corpus and seed, different shard digests")
            return "; ".join(errs) or None

        def check_verify(resp):
            ok = resp.get("ok") and json.loads(resp["output"]).get("verified") is True
            return None if ok else (resp.get("error") or resp.get("output"))

        run.request("curate", ["curate", "--in", path, "--out", out, "--shards", "8",
                               "--seed", str(seed)], check_curate, timed)
        run.request("verify", ["verify-shards", "--path", out], check_verify, timed)
        shutil.rmtree(out, ignore_errors=True)

    one_pass(warm, WARM_DOCS, warm_planted, False, 0)
    k = 1
    for tracing in ((False, True) if traced else (False,)):
        run.tracer.enabled = tracing
        for _ in range(CURATE_PASSES):
            one_pass(corpus, CORPUS_DOCS, planted, True, k)
            k += 1
        run.tracer.enabled = False
    run.info["corpus_docs"] = CORPUS_DOCS


WORKLOADS = {
    "daemon_reads": daemon_reads,
    "curate_corpus": curate_corpus,
}
