"""Scale-hardening regressions (round 2): distributed pagination plan,
driver-memory-free unlink, crash-safe compaction, strict store reads, and
the empty-keyword guard."""

import os
import textwrap

import pytest
from pyspark.sql import functions as F

from kausaldb_spark.engine import KausalEngine
from kausaldb_spark.operators import filtering as flt
from kausaldb_spark.operators import lookup as lk
from kausaldb_spark.storage import BlockStore

# r13: heavy gauntlet — opt-in via `-m scale` (see pytest.ini); the
# default driver verify run keeps the unit + oracle-parity suites
pytestmark = pytest.mark.scale


@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    root = tmp_path_factory.mktemp("proj2")
    (root / "lib.py").write_text(textwrap.dedent('''
        def helper_function(x):
            return x + 1

        def main():
            return helper_function(41)
    '''))
    return str(root)


@pytest.fixture(scope="module")
def engine(spark, tree, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("store2"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(tree, "proj")
    return eng


def test_pagination_plan_is_distributed_topk(spark):
    """F5 pagination must compile to TakeOrderedAndProject (per-partition
    heaps + bounded merge) — never a global unpartitioned Window that
    funnels the whole match set through one task. Tested over a plain frame
    so the only possible Window would be pagination's own (the MVCC view
    legitimately uses a partitioned window for last-writer-wins)."""
    blocks = spark.range(0, 10_000).selectExpr(
        "cast(id as string) as id",
        "id as sequence",
        "concat('file://x/', id) as source_uri",
        "'function' as unit_type",
        "cast(id as string) as unit_id",
        "'cb' as codebase",
        "'f.py' as file_path",
        "'{}' as metadata_json",
        "concat('content ', id) as content",
    ).repartition(8)
    expr = flt.Expr.cond(flt.TARGET_CONTENT, "contains", "content")
    df = flt.filtered_query(blocks, expr, offset=100, max_results=50)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    got = [int(r["id"]) for r in df.collect()]
    assert len(got) == 50 and got[0] == 100 and got[-1] == 149


def test_pagination_offset_semantics(engine):
    """offset/max_results slice the (sequence, id)-ordered match set."""
    expr = flt.Expr.cond(flt.TARGET_CONTENT, "contains", "def")
    full = [
        (r["sequence"], r["id"])
        for r in flt.filtered_query(engine.store.visible(), expr).select(
            "sequence", "id"
        ).collect()
    ]
    page = [
        (r["sequence"], r["id"])
        for r in flt.filtered_query(
            engine.store.visible(), expr, offset=1, max_results=1
        ).select("sequence", "id").collect()
    ]
    assert page == sorted(full)[1:2]


def test_unlink_never_collects_id_list(spark, tree, tmp_path_factory, monkeypatch):
    """Bulk unlink must go through the distributed tombstone path — the
    driver-side delete_blocks(list) API must not be touched."""
    store = str(tmp_path_factory.mktemp("store_unlink"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(tree, "proj")

    def boom(self, ids):
        raise AssertionError("unlink_codebase collected a driver-side id list")

    monkeypatch.setattr(BlockStore, "delete_blocks", boom)
    n = eng.unlink_codebase("proj")
    assert n > 0
    assert eng.store.visible().where(F.col("codebase") == "proj").count() == 0
    # resurrection still works: re-link claims sequences above the tombstones
    eng.link_codebase(tree, "proj")
    assert eng.store.visible().where(F.col("codebase") == "proj").count() == n


def test_tombstone_where_predicate(spark, tree, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("store_tw"))
    eng = KausalEngine(spark, store)
    eng.link_codebase(tree, "proj")
    before = eng.store.visible().count()
    victims = eng.store.visible().where(F.col("unit_type") == "function").count()
    assert victims > 0
    eng.store.tombstone_where(F.col("unit_type") == "function")
    after = eng.store.visible()
    assert after.count() == before - victims
    assert after.where(F.col("unit_type") == "function").count() == 0


def test_compact_swaps_atomically_and_preserves_snapshot(spark, tree, tmp_path_factory):
    store_path = str(tmp_path_factory.mktemp("store_compact"))
    eng = KausalEngine(spark, store_path)
    eng.link_codebase(tree, "proj")
    eng.store.tombstone_where(F.col("unit_type") == "function")
    want = sorted(r["id"] for r in eng.store.visible().select("id").collect())
    eng.store.compact()
    got = sorted(r["id"] for r in eng.store.visible().select("id").collect())
    assert got == want
    assert eng.store.tombstones().count() == 0
    # no stray side directories after a clean compact
    leftovers = [d for d in os.listdir(store_path) if ".compact-" in d]
    assert leftovers == []


def test_corrupt_store_raises_instead_of_reading_empty(spark, tmp_path_factory):
    """A broken table must surface the error — silently reading empty would
    reset sequences and let compact() erase the store."""
    store_path = str(tmp_path_factory.mktemp("store_corrupt"))
    blocks_dir = os.path.join(store_path, "blocks")
    os.makedirs(blocks_dir)
    with open(os.path.join(blocks_dir, "part-00000.parquet"), "w") as f:
        f.write("this is not a parquet file")
    store = BlockStore(spark, store_path)
    with pytest.raises(Exception):
        store.blocks_raw().count()
    # a genuinely absent table still reads as empty
    assert BlockStore(spark, str(tmp_path_factory.mktemp("fresh"))).blocks_raw().count() == 0


def test_keyword_search_empty_query(engine):
    out = lk.keyword_search(engine.store.visible(), "   ")
    assert out.count() == 0
    assert "score" in out.columns


def test_link_reports_codebase_scoped_edge_count(spark, tree, tmp_path_factory):
    """link_codebase must count only the linked codebase's edges, not the
    whole store's."""
    other = tmp_path_factory.mktemp("other")
    (other / "a.py").write_text("def lonely():\n    return 1\n")
    store = str(tmp_path_factory.mktemp("store_lc"))
    eng = KausalEngine(spark, store)
    first = eng.link_codebase(tree, "proj")
    assert first["edges"] > 0
    second = eng.link_codebase(str(other), "other")
    # 'other' has no call edges; the old bug reported proj's edges here
    assert second["edges"] == 0


def _mk_blocks(spark, n, start_seq=1):
    return spark.createDataFrame(
        [
            (f"b{start_seq + i}", start_seq + i, f"file://x{i}", "function",
             f"fn{i}", "cb", f"x{i}.py", "{}", f"def fn{i}(): pass")
            for i in range(n)
        ],
        "id string, sequence bigint, source_uri string, unit_type string,"
        " unit_id string, codebase string, file_path string,"
        " metadata_json string, content string",
    )


def test_hwm_reserved_before_data_write(spark, tmp_path_factory, monkeypatch):
    """Crash between sequence reservation and the parquet append must never
    allow sequence REUSE (VERDICT r4 §Wrong #5). With reserve-then-write the
    failure mode is a harmless gap: the mark is already above the dead
    batch's range, so the next append claims fresh sequences."""
    store_path = str(tmp_path_factory.mktemp("store_hwm"))
    store = BlockStore(spark, store_path)
    hi1 = store.append_blocks(_mk_blocks(spark, 3))
    assert hi1 == 3

    # simulated crash: the HWM is persisted, then the data write dies
    import pyspark.sql.readwriter as rw

    orig_parquet = rw.DataFrameWriter.parquet

    def boom(self, path, *a, **kw):
        raise RuntimeError("simulated executor crash mid-append")

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        store.append_blocks(_mk_blocks(spark, 5))
    monkeypatch.setattr(rw.DataFrameWriter, "parquet", orig_parquet)

    # reopen (fresh object = what a restarted writer sees): the reserved
    # range [4,8] is burned — a gap, never a reuse
    store2 = BlockStore(spark, store_path)
    assert store2.max_sequence() == 8
    hi3 = store2.append_blocks(_mk_blocks(spark, 2, start_seq=100))
    assert hi3 == 10
    seqs = sorted(r["sequence"] for r in store2.blocks_raw().select("sequence").collect())
    assert seqs == [1, 2, 3, 9, 10]
    # MVCC view unaffected: all five written blocks visible, none shadowed
    assert store2.visible().count() == 5


def test_stratified_sample_two_phase_exact_and_salted(spark):
    """r6: stratified_sample must not funnel a whole language class through
    one sort task. The plan must window over (pred_lang, _strat_salt) on
    the full set — the only Window allowed to partition by pred_lang alone
    runs on the pre-filtered survivor set — and the two-phase output must be
    row-identical to the naive single-window formulation."""
    import __spark_entry__ as entry
    from pyspark.sql.window import Window

    sf_dir = "/root/testdata/sf0.001"
    df = entry._q_stratified_sample(spark, sf_dir, per_class=7, n_salts=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_strat_salt" in plan, plan
    # exact parity with the naive per-class global window
    from kausaldb_spark.functions import text as tx

    docs = entry._docs(spark, sf_dir)
    labeled = docs.select(
        "doc_id", tx.lang_id(tx.tokens(F.col("text"))).alias("pred_lang")
    )
    w = Window.partitionBy("pred_lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    naive = (
        labeled.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 7)
        .select("doc_id", "pred_lang")
    )
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, naive.collect()))
    assert got == want
    # every class is capped
    from collections import Counter

    per_class = Counter(lang for _, lang in got)
    assert all(v <= 7 for v in per_class.values())


def test_snapshot_cache_hit_and_invalidation(spark, tmp_path_factory):
    """BlockStore.visible() and visible_edges() memoize one persisted frame
    per store version; any block/tombstone write (including the
    resequence=False append that can leave the mark unchanged), any edge
    write, and compact() must invalidate them so readers never see a stale
    snapshot."""
    store = BlockStore(spark, str(tmp_path_factory.mktemp("snapcache")))
    store.append_blocks(_mk_blocks(spark, 3))
    s1 = store.visible()
    assert s1.count() == 3
    assert store.visible() is s1  # same mark -> same cached frame

    # resequence=False with max(seq) <= current mark: mark unchanged,
    # cache must STILL invalidate (the writer lease drops it on exit)
    store.append_blocks(_mk_blocks(spark, 1, start_seq=1), resequence=False)
    assert store.visible() is not s1
    assert store.visible().count() == 3  # b1 re-put shadows b1 (same id)

    store.append_blocks(_mk_blocks(spark, 2, start_seq=10))
    assert store.visible().count() == 5

    # edges: an edge append leaves the mark unchanged, a delete moves it
    e1 = store.visible_edges()
    assert e1.count() == 0
    assert store.visible_edges() is e1
    store.append_edges(
        spark.createDataFrame(
            [("b1", "b10", "calls"), ("b2", "b10", "calls")],
            "src string, dst string, edge_type string",
        )
    )
    assert store.visible_edges() is not e1
    assert store.visible_edges().count() == 2

    store.delete_blocks(["b10"])
    assert store.visible().count() == 4
    assert store.visible_edges().count() == 0  # both edges lost their dst

    s2, e2 = store.visible(), store.visible_edges()
    store.compact()
    assert store.visible() is not s2  # file swap invalidates
    assert store.visible_edges() is not e2
    assert store.visible().count() == 4
    assert store.visible_edges().count() == 0


def test_append_edges_validation_modes(spark, tmp_path_factory):
    """Default append_edges drops edges with nonexistent endpoints (S2);
    assume_endpoints_exist=True skips the re-check for relations that are
    endpoint-valid by construction (bulk re-materialization) — and
    therefore must only be used for such relations."""
    store = BlockStore(spark, str(tmp_path_factory.mktemp("edgeval")))
    store.append_blocks(_mk_blocks(spark, 3))
    edges = spark.createDataFrame(
        [("b1", "b2", "calls"), ("b1", "ghost", "calls"), ("b2", "b2", "calls")],
        "src string, dst string, edge_type string",
    )
    store.append_edges(edges)
    got = {(r["src"], r["dst"]) for r in store.edges().collect()}
    assert got == {("b1", "b2")}  # ghost endpoint and self-loop dropped

    store2 = BlockStore(spark, str(tmp_path_factory.mktemp("edgeval2")))
    store2.append_blocks(_mk_blocks(spark, 3))
    store2.append_edges(edges, assume_endpoints_exist=True)
    got2 = {(r["src"], r["dst"]) for r in store2.edges().collect()}
    assert got2 == {("b1", "b2"), ("b1", "ghost")}  # self-loop still dropped
