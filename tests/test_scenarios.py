"""Traversal scenario suite over controlled topologies — replicates the
reference's scenario tests (src/tests/scenarios/graph_traversal.zig:20-476,
query.zig:34-559; fixture shapes from FIXTURES.md §2)."""

import pytest
from pyspark.sql import functions as F

from kausaldb_spark.operators import traversal as tv

# r13: heavy gauntlet — opt-in via `-m scale` (see pytest.ini); the
# default driver verify run keeps the unit + oracle-parity suites
pytestmark = pytest.mark.scale


def _edges(spark, pairs, edge_type="calls"):
    rows = [(a, b, t) for a, b, t in (
        (p[0], p[1], p[2] if len(p) > 2 else edge_type) for p in pairs
    )]
    return spark.createDataFrame(rows, "src string, dst string, edge_type string")


def _ids(df):
    return {r["id"]: r["depth"] for r in df.collect()}


def test_chain_exact_depth_boundary(spark):
    chain = [(f"n{i}", f"n{i+1}") for i in range(10)]
    e = _edges(spark, chain)
    # depth 3: exactly n0..n3
    got = _ids(tv.bfs(e, ["n0"], max_depth=3))
    assert got == {"n0": 0, "n1": 1, "n2": 2, "n3": 3}
    # depth 10 reaches the end; depth values exact
    got = _ids(tv.bfs(e, ["n0"], max_depth=100))
    assert got["n10"] == 10 and len(got) == 11


def test_cycle_termination(spark):
    e = _edges(spark, [("a", "b"), ("b", "a")])
    got = _ids(tv.bfs(e, ["a"], max_depth=50))
    assert got == {"a": 0, "b": 1}
    e5 = _edges(spark, [(f"c{i}", f"c{(i+1) % 5}") for i in range(5)])
    got = _ids(tv.bfs(e5, ["c0"], max_depth=100))
    assert got == {f"c{i}": i for i in range(5)}


def test_topo_sort_empty_on_cycle(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert tv.topo_sort(e, ["a"], max_depth=10).count() == 0


def test_topo_sort_layers(spark):
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")])
    got = {r["id"]: r["layer"] for r in tv.topo_sort(e, ["a"], max_depth=10).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2, "e": 3}


def test_hub_fanout_max_results(spark):
    e = _edges(spark, [("hub", f"leaf{i:03d}") for i in range(50)])
    got = tv.bfs(e, ["hub"], max_depth=1, max_results=10)
    rows = got.collect()
    assert len(rows) == 10
    # BFS-order truncation: hub (depth 0) first, then lexicographically
    # smallest leaves
    assert {r["id"] for r in rows} == {"hub"} | {f"leaf{i:03d}" for i in range(9)}


def test_diamond_path_enumeration(spark):
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")])
    paths = tv.find_paths_between(e, "a", "d", max_depth=5)
    got = sorted(r["path"] for r in paths.collect())
    assert got == ["a->b->d", "a->c->d"]
    assert all(r["depth"] == 2 for r in paths.collect())


def test_paths_cap_shortest_first(spark):
    # two short paths + one long path; cap at 2 keeps the short ones
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "z"), ("c", "z"),
                       ("a", "x"), ("x", "y"), ("y", "z")])
    paths = tv.find_paths_between(e, "a", "z", max_depth=5, max_paths=2)
    got = [r["path"] for r in paths.collect()]
    assert got == ["a->b->z", "a->c->z"]


def test_mixed_edge_type_filters(spark):
    e = _edges(spark, [("a", "b", "calls"), ("b", "c", "imports"),
                       ("c", "d", "references")])
    only = _ids(tv.bfs(e, ["a"], edge_filter=tv.EdgeFilter.only("calls"), max_depth=5))
    assert only == {"a": 0, "b": 1}
    inc = _ids(tv.bfs(e, ["a"], edge_filter=tv.EdgeFilter.include("calls", "imports"), max_depth=5))
    assert inc == {"a": 0, "b": 1, "c": 2}
    exc = _ids(tv.bfs(e, ["a"], edge_filter=tv.EdgeFilter.exclude("imports"), max_depth=5))
    assert exc == {"a": 0, "b": 1}


def test_direction_semantics(spark):
    e = _edges(spark, [("a", "b"), ("c", "a")])
    assert _ids(tv.bfs(e, ["a"], tv.OUTGOING, max_depth=2)) == {"a": 0, "b": 1}
    assert _ids(tv.bfs(e, ["a"], tv.INCOMING, max_depth=2)) == {"a": 0, "c": 1}
    assert _ids(tv.bfs(e, ["a"], tv.BIDIRECTIONAL, max_depth=2)) == {"a": 0, "b": 1, "c": 1}


def test_dangling_edge_tolerance(spark):
    """Edges to ids with no block row: traversal still terminates and reports
    the id (block materialization drops it later) — reference scenario
    'queries during writes / dangling edges'."""
    e = _edges(spark, [("a", "ghost")])
    got = _ids(tv.bfs(e, ["a"], max_depth=3))
    assert got == {"a": 0, "ghost": 1}


def test_duplicate_edges_no_duplicate_results(spark):
    e = _edges(spark, [("a", "b"), ("a", "b"), ("a", "b")])
    got = tv.bfs(e, ["a"], max_depth=2)
    assert got.count() == 2  # a + b, duplicates collapsed


def test_bfs_with_paths_minlex_shortest(spark):
    # two shortest routes a->d (via b and via c): min-lex picks via b
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")])
    got = {r["id"]: (r["depth"], r["path"]) for r in
           tv.bfs_with_paths(e, "a", max_depth=5).collect()}
    assert got["a"] == (0, "a")
    assert got["d"] == (2, "a->b->d")
    assert got["e"] == (3, "a->b->d->e")
    # longer route never overrides a shorter one
    e2 = _edges(spark, [("a", "z"), ("a", "b"), ("b", "z")])
    got2 = {r["id"]: (r["depth"], r["path"]) for r in
            tv.bfs_with_paths(e2, "a", max_depth=5).collect()}
    assert got2["z"] == (1, "a->z")


def test_weakly_connected_components(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("x", "y"), ("z", "y")])
    got = {r["id"]: r["component"] for r in tv.weakly_connected_components(e).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "x"}


def test_deep_chain_500(spark):
    """Scalability scenario (query.zig:527): 500-node chain, depth >= 20."""
    chain = [(f"d{i:04d}", f"d{i+1:04d}") for i in range(499)]
    e = _edges(spark, chain)
    got = tv.bfs(e, ["d0000"], max_depth=25)
    assert got.count() == 26
    assert _ids(got)[f"d0025"] == 25


def test_dfs_preorder_visit_order(spark):
    """True DFS preorder: smallest-id neighbor explored first, whole branch
    before the next sibling."""
    #      a -> b -> d
    #      a -> c -> e
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "e")])
    rows = tv.dfs_preorder(e, "a", max_depth=5).collect()
    order = [r["id"] for r in sorted(rows, key=lambda r: r["visit_order"])]
    assert order == ["a", "b", "d", "c", "e"]
    depths = {r["id"]: r["depth"] for r in rows}
    assert depths == {"a": 0, "b": 1, "d": 2, "c": 1, "e": 2}


def test_dfs_preorder_cycle_and_depth_cap(spark):
    e = _edges(spark, [("a", "b"), ("b", "a"), ("b", "c"), ("c", "d")])
    rows = tv.dfs_preorder(e, "a", max_depth=2).collect()
    got = {r["id"]: (r["visit_order"], r["depth"]) for r in rows}
    # cycle terminates; d is beyond the depth cap
    assert set(got) == {"a", "b", "c"}
    assert [i for i, _ in sorted(got.items(), key=lambda kv: kv[1][0])] == ["a", "b", "c"]


def test_dfs_preorder_set_matches_bfs_on_diamond(spark):
    """On a graph where depth-limited DFS has no shadowing (all min-depth
    paths are found first), the visited set equals BFS's reachable set."""
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")])
    dfs_ids = {r["id"] for r in tv.dfs_preorder(e, "a", max_depth=5).collect()}
    bfs_ids = set(_ids(tv.bfs(e, ["a"], max_depth=5)))
    assert dfs_ids == bfs_ids


def test_traversal_generic_id_types(spark):
    """Traversal results keep the adjacency's id type (bigint here) instead
    of stringifying — bfs, topo_sort, dfs_preorder, including empty results."""
    e = spark.createDataFrame(
        [(1, 2, "calls"), (2, 3, "calls"), (1, 3, "calls")],
        "src bigint, dst bigint, edge_type string",
    )
    b = tv.bfs(e, [1], max_depth=3)
    assert dict(b.dtypes)["id"] == "bigint"
    assert _ids(b) == {1: 0, 2: 1, 3: 1}
    t = tv.topo_sort(e, [1], max_depth=3)
    assert dict(t.dtypes)["id"] == "bigint"
    assert {r["id"]: r["layer"] for r in t.collect()} == {1: 0, 2: 1, 3: 2}
    d = tv.dfs_preorder(e, 1, max_depth=3)
    assert dict(d.dtypes)["id"] == "bigint"
    assert [r["id"] for r in sorted(d.collect(), key=lambda r: r["visit_order"])] == [1, 2, 3]
    # empty results stay typed too (start id absent from the graph)
    none = tv.bfs(e, [99], max_depth=2)
    assert dict(none.dtypes)["id"] == "bigint"
    assert _ids(none) == {99: 0}


def test_bfs_start_frame_bounded_collect(spark):
    """A DataFrame start set larger than max_results is truncated to the
    smallest ids BEFORE collection (the driver never sees the full set)."""
    e = _edges(spark, [("a", "b")])
    start = spark.createDataFrame(
        [(f"id{i:04d}",) for i in range(500)], "id string"
    )
    out = tv.bfs(e, start, max_depth=1, max_results=10)
    ids = _ids(out)
    assert len(ids) == 10
    assert set(ids) == {f"id{i:04d}" for i in range(10)}


def _tarjan(edges_list):
    """Driver-side Tarjan over (src, dst) pairs → {node: min-id component}."""
    import sys

    succs = {}
    nodes = set()
    for s, d in edges_list:
        succs.setdefault(s, []).append(d)
        nodes.add(s)
        nodes.add(d)
    sys.setrecursionlimit(10000)
    index_of, low, on_stack, stack = {}, {}, set(), []
    comps = {}
    counter = [0]

    def strongconnect(v):
        index_of[v] = low[v] = counter[0]
        counter[0] += 1
        stack.append(v)
        on_stack.add(v)
        for w in succs.get(v, ()):
            if w not in index_of:
                strongconnect(w)
                low[v] = min(low[v], low[w])
            elif w in on_stack:
                low[v] = min(low[v], index_of[w])
        if low[v] == index_of[v]:
            comp = []
            while True:
                w = stack.pop()
                on_stack.discard(w)
                comp.append(w)
                if w == v:
                    break
            root = min(comp)
            for w in comp:
                comps[w] = root

    for v in sorted(nodes):
        if v not in index_of:
            strongconnect(v)
    return comps


def test_wcc_exhausted_cap_raises(spark):
    """WCC with an explicit too-small cap raises instead of returning a
    partial (wrong) labeling."""
    import pytest as _pytest

    pairs = [(f"w{i:02d}", f"w{i + 1:02d}") for i in range(30)]
    e = _edges(spark, pairs)
    with _pytest.raises(RuntimeError, match="not converged"):
        tv.weakly_connected_components(e, max_iterations=3)
    got = {r["id"]: r["component"] for r in tv.weakly_connected_components(e).collect()}
    assert set(got.values()) == {"w00"} and len(got) == 31


def test_dfs_preorder_depth_shadowing_counterexample(spark):
    """The label-correcting fix: with s->a, a->b, s->b, b->c at max_depth=2
    the old DFS popped b first at depth 2 (children pruned), then skipped
    the pending depth-1 entry as visited — silently dropping c from its
    own BFS-parity contract. Now b's depth corrects to 1 and c is visited."""
    e = _edges(spark, [("s", "a"), ("a", "b"), ("s", "b"), ("b", "c")])
    rows = tv.dfs_preorder(e, "s", max_depth=2).collect()
    got = {r["id"]: r["depth"] for r in rows}
    bfs_ids = _ids(tv.bfs(e, ["s"], max_depth=2))
    assert set(got) == set(bfs_ids) == {"s", "a", "b", "c"}
    assert got["b"] == 1 and got["c"] == 2  # minimal depths, matching BFS


def test_dfs_preorder_set_parity_random_graphs(spark):
    """Seeded random digraphs: dfs_preorder's visited set must equal the
    BFS reachable set at every depth — the set-parity contract the depth
    shadowing bug broke."""
    import random

    rng = random.Random(17)
    for trial in range(5):
        n = 12
        edges = {(f"n{rng.randrange(n)}", f"n{rng.randrange(n)}")
                 for _ in range(22)}
        edges = [(a, b) for a, b in edges if a != b]
        e = _edges(spark, edges)
        for depth in (1, 2, 3):
            dfs_ids = {r["id"] for r in tv.dfs_preorder(e, "n0", max_depth=depth).collect()}
            bfs_ids = set(_ids(tv.bfs(e, ["n0"], max_depth=depth)))
            assert dfs_ids == bfs_ids, (trial, depth, dfs_ids ^ bfs_ids)


def test_bfs_rejects_bare_string_start(spark):
    e = _edges(spark, [("a", "b")])
    import pytest as _pt
    with _pt.raises(TypeError, match="bare str"):
        tv.bfs(e, "a")


def test_find_paths_between_clamps_to_reference_cap(spark):
    """max_paths is clamped to the reference's hard 100 (traversal.zig:1374)
    and the level loop early-exits once a completed level holds enough."""
    # 2 branches per level, 8 levels -> 256 distinct s~t path pairs via
    # layered midpoints; far more than 100 simple paths
    rows = []
    width, depth = 2, 8
    for lvl in range(depth):
        for i in range(width):
            for j in range(width):
                rows.append((f"L{lvl}_{i}" if lvl else "s", f"L{lvl+1}_{j}"))
    rows += [(f"L{depth}_{i}", "t") for i in range(width)]
    e = _edges(spark, rows)
    out = tv.find_paths_between(e, "s", "t", max_depth=12, max_paths=10**9)
    assert out.count() <= 100
