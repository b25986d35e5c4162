"""Self-tests of the benchmark: input generators, reply checker, metric names.

Run from the repository root: ``python -m pytest e2ebench/tests -q``.
None of these start Spark.
"""

from __future__ import annotations

import collections
import io
import json
import os
import re
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import codetree as ct  # noqa: E402
import corpusgen as cg  # noqa: E402
import metrics  # noqa: E402
import tracer as tr  # noqa: E402
import workloads  # noqa: E402
from kausaldb_spark.sources.ingest import _parse_python  # noqa: E402

NAME_RX = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RX = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def tree() -> ct.CodeTree:
    return ct.TreeGen(5, n_files=workloads.TREE_FILES).generate()


# -- generators ---------------------------------------------------------------


def test_tree_generator_is_deterministic():
    a = ct.TreeGen(3, n_files=20).generate().sources
    b = ct.TreeGen(3, n_files=20).generate().sources
    c = ct.TreeGen(4, n_files=20).generate().sources
    assert a == b
    assert a != c


def _parquet_bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def test_corpus_generator_is_deterministic():
    a, pa_ = cg.generate(3, 400)
    b, pb = cg.generate(3, 400)
    c, _ = cg.generate(4, 400)
    assert _parquet_bytes(a) == _parquet_bytes(b) and pa_ == pb
    assert _parquet_bytes(a) != _parquet_bytes(c)
    assert all(v > 0 for v in pa_.values()), pa_


def test_model_matches_the_engine_parser(tree):
    """The generator's units and raw references are exactly what the
    engine's Python parser extracts from the files it wrote."""
    for path, text in tree.sources.items():
        _text, units, refs = ct.render(tree.modules[path])
        p_units, p_edges = _parse_python(path, text)
        got = sorted((u[2], u[1], u[6]) for u in p_units)
        want = sorted((u.qual, "function" if u.kind == "function" else u.kind, u.content)
                      for u in units)
        assert got == want, path
        got_e = collections.Counter((s, d, t) for _f, s, d, t in p_edges)
        want_e = collections.Counter(refs)
        # imports of dotted module paths never resolve; the model omits them
        for s, d, t in list(got_e):
            if t == "imports" and "." in d:
                del got_e[(s, d, t)]
        assert got_e == want_e, path


def test_tree_exercises_file_local_first(tree):
    shared = [n for n in ct.SHARED if len(tree.find("function", n)) > 1]
    assert shared, "no name is defined in several files"
    name = shared[0]
    anchors = set(tree.find("function", name))
    callers = tree.show("callers", name)
    assert callers
    # every caller of a shared name sits in the file that defines it
    assert {c.split(":")[0] for c in callers} <= {a.split(":")[0] for a in anchors}


def test_cold_pools_outlast_the_request_target(tree):
    """The benchmark's tree holds cold targets for COLD_REQUESTS requests,
    so a faster program still sees the same share of cache hits."""
    mix = workloads.ReadMix(tree, 1)
    hot = {req[-1] for req in mix.hot.values()}
    reqs = [mix.next() for _ in range(workloads.COLD_REQUESTS)]
    names = [req[-1] for _kind, req, cls in reqs
             if req[0] in ("find", "show") and not cls.endswith("-hot")]
    assert len(names) == len(set(names))
    assert not hot & set(names)
    with pytest.raises(ValueError, match="too small"):
        workloads.ReadMix(ct.TreeGen(1, n_files=10).generate(), 1)


# -- reply checker ------------------------------------------------------------


def _reply(tree: ct.CodeTree, uids, depth=None) -> dict:
    rows = []
    for uid in sorted(uids):
        u = tree.by_id[uid]
        row = {"id": tree.bid(uid), "unit_id": uid, "content": u.content,
               "codebase": tree.codebase}
        if depth is not None:
            row["depth"] = depth
        rows.append(json.dumps(row))
    return {"ok": True, "exit": 0, "output": "\n".join(rows) + "\n"}


def test_checker_accepts_the_model_answer_and_rejects_corruptions(tree):
    fn = next(u.qual for u in tree.units if u.kind == "function" and tree.show("callers", u.qual))
    find = ct.checker(tree, ("find", "function", fn), "/x")
    good = _reply(tree, tree.find("function", fn))
    assert find(good) is None
    corrupted = json.loads(good["output"].splitlines()[0])
    corrupted["content"] += "\n    pass"
    assert find({"ok": True, "exit": 0, "output": json.dumps(corrupted)})

    show = ct.checker(tree, ("show", "callers", fn), "/x")
    callers = tree.show("callers", fn)
    assert show(_reply(tree, callers, depth=1)) is None
    assert show(_reply(tree, list(callers)[1:], depth=1))            # one missing
    extra = next(u.unit_id for u in tree.units if u.unit_id not in callers)
    assert show(_reply(tree, callers | {extra}, depth=1))            # one too many
    assert show({"ok": False, "exit": 1, "error": "boom"})

    missing = ct.checker(tree, ("find", "function", "no_such_fn"), "/x")
    assert missing({"ok": False, "exit": 1, "output": ""}) is None
    assert missing(good)


def test_checker_checks_trace_and_status(tree):
    mix = workloads.ReadMix(tree, 1)
    a = mix.unique[0]
    b = next(iter(mix._reachable(a)[0]), mix.unique[1])
    paths = tree.trace(a, b, 4)
    trace = ct.checker(tree, ("trace", a, b, 4), "/x")
    out = "".join(json.dumps({"path": p, "depth": d}) + "\n" for p, d in paths)
    assert trace({"ok": True, "exit": 0, "output": out}) is None
    assert trace({"ok": True, "exit": 0, "output": out + json.dumps({"path": "x", "depth": 9})})

    n = tree.counts()
    st = {"blocks_visible": n["blocks"] + 1, "edges": n["edges"],
          "codebases": {tree.codebase: {"block_count": n["blocks"], "edge_count": n["edges"]}}}
    status = ct.checker(tree, ("status",), "/x")
    assert status({"ok": True, "exit": 0, "output": json.dumps(st)}) is None
    st["edges"] -= 1
    assert status({"ok": True, "exit": 0, "output": json.dumps(st)})


def test_corpus_funnel_check_rejects_short_dedup():
    planted = {"exact_copies": 5, "near_dups": 4, "bench_overlaps": 3}
    f = {"ingested": 100, "after_quality_gate": 100, "after_exact_dedup": 95,
         "after_near_dedup": 91, "after_decontamination": 80}
    manifest = {"funnel": f, "shards": [{"n_rows": 80}]}
    assert cg.check_funnel(manifest, planted, 100) == []
    manifest["funnel"] = {**f, "after_exact_dedup": 97}
    assert cg.check_funnel(manifest, planted, 100)


# -- metrics ------------------------------------------------------------------


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    names = [m["name"] for k in ("end_to_end", "per_layer", "workloads") for m in spec[k]]
    assert len(names) == len(set(names))
    assert all(NAME_RX.match(n) for n in names), [n for n in names if not NAME_RX.match(n)]
    units = [m["unit"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    assert all(UNIT_RX.match(u) for u in units)


def _fake_run(traced: bool):
    """A finished daemon run: four untraced ops, then (traced) four more
    with spans and jobs in a synthetic event log."""
    t = tr.Tracer()
    run = workloads.Run("/x", t)
    log = {"jobs": {}, "stages": {}}
    now = 1000.0
    for i, kind in enumerate(["find", "show", "find", "search"] * (2 if traced else 1)):
        span = None
        if traced and i >= 4:
            t.enabled = True
            with t.request_span(f"server.{kind}") as span:
                t.spans[span].start = now
                inner = t.begin("cli.main")
                t.spans[inner].start = now + 0.01
                t.finish(inner)
                t.spans[inner].end = now + 0.4
            t.spans[span].end = now + 0.5
            log["jobs"][i] = {"start": now + 0.1, "end": now + 0.3, "stages": [i]}
            log["stages"][i] = {**tr._new_stage(), "tasks": 2, "task_s": 0.2,
                                "max_task_s": 0.01}
        run.ops.append(workloads.Op(kind, 500.0 + i, True, True, span, kind))
        now += 1.0
    return run, t, log


def test_tracer_follows_names_bound_at_import_time():
    """``from dedup import minhash_pairs_for`` in curation still calls the
    traced function after install. Runs in a child process: install
    patches the engine's modules for the life of the process."""
    code = (
        "import sys; sys.path[:0] = sys.argv[1:]\n"
        "import tracer as tr\n"
        "from kausaldb_spark.functions import curation, dedup\n"
        "from kausaldb_spark import snapshot, storage\n"
        "t = tr.Tracer(); t.install()\n"
        "assert curation.minhash_pairs_for is dedup.minhash_pairs_for\n"
        "assert curation.minhash_pairs_for.__wrapped__.__module__ == dedup.__name__\n"
        "assert curation.contaminated_docs is dedup.contaminated_docs\n"
        "assert storage.visible_blocks is snapshot.visible_blocks\n"
        "assert hasattr(storage.visible_blocks, '__wrapped__')\n"
    )
    res = subprocess.run([sys.executable, "-c", code, ROOT, BENCH],
                         capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr


def test_traced_and_untraced_runs_report_the_same_names():
    plain, _t, _log = _fake_run(False)
    traced, t, log = _fake_run(True)
    assert set(metrics.end_to_end(plain, 1.0)) == set(metrics.END_TO_END)
    assert set(metrics.end_to_end(traced, 1.0)) == set(metrics.END_TO_END)
    layers = metrics.per_layer(traced, t, log)
    assert set(layers) == set(metrics.PER_LAYER)
    assert layers["spark.jobs"] == 1
    assert layers["spark.cli.task_s"] == pytest.approx(0.2)
    assert layers["find.cli_self_ms"] == pytest.approx(390.0)
    assert layers["find.traced_p50_ms"] == pytest.approx(505.0)
    assert layers["find.untraced_p50_ms"] == pytest.approx(501.0)
    assert layers["find.server_self_ms"] == pytest.approx(110.0)


def test_tail_leaves_ten_samples_beyond():
    xs = list(range(1, 31))
    value, pct, n = metrics.tail(xs)
    assert n == 30 and sum(x > value for x in xs) == 10
    assert metrics.tail([3.0, 1.0])[0] == 3.0
